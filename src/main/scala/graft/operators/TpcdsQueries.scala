package graft.operators

import org.apache.spark.sql.SparkSession

import graft.{QueryDef, QueryGroup, Tables}
import graft.QueryGroup.replaceExactly

/** Adapted TPC-DS shape corpus over the synthesized [[TpcdsSynth]] schema —
  * 15 representative queries spanning the reference's TPC-DS families
  * (presto-benchto-benchmarks/src/main/resources/sql/presto/tpcds/qNN.sql,
  * protocol benchmarks/presto/tpcds.yaml yaml):
  *
  *  - reporting aggregates: q03 / q42 / q55 (brand/category roll-ups);
  *  - CASE-pivot household counting: q34 / q73;
  *  - EXISTS-chain demographics: q10 / q35 (correlated EXISTS AND
  *    (EXISTS OR EXISTS) across the three channel fact tables);
  *  - cross-channel set ops: q38 (3-way INTERSECT), q87 (EXCEPT chain);
  *  - windowed share/cumulative: q51 (full-join cumulative max),
  *    q53 (share-of-quarterly-average);
  *  - deep ROLLUP: q18 (4-level), q22 (inventory 4-level),
  *    q67 (8-level + rank-per-category), q36 (GROUPING()-hierarchy rank).
  *
  * "Adapted" = the reference text's structure (join graph, subquery
  * nesting, set ops, window frames, ROLLUP shape) kept intact; only
  * (a) table refs point at the synthesized `tpcds` views, (b) constants
  * are fixture-tuned so predicates actually select rows (epoch 1995-2001,
  * the synthesized county/state/brand/demographic domains — round-4
  * lesson: a verbatim constant that selects zero rows tests nothing),
  * (c) ORDER BY keys under a LIMIT get explicit NULLS FIRST so both
  * engines cut the same top-N (Spark defaults ASC NULLS FIRST, DuckDB
  * NULLS LAST), and (d) rank() inputs over floating sums are rounded so
  * LSB-level summation-order noise can't flip a rank between engines.
  *
  * The oracle runs the IDENTICAL text (modulo `tpcds.` → CTE prefix) over
  * CTEs built from the same derivation strings — one source, zero drift.
  */
object TpcdsQueries extends QueryGroup {

  private val viewsFor =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Dimensions generated from inline digit series (no fixture input):
    * constant-size regardless of SF — date_dim 2 557 rows, time_dim
    * 86 400, demographics 720, promotion 300, reason 35. Left as plain
    * views, Spark re-executes the digit-table cross product and
    * re-broadcasts the result for EVERY reference in every query (q14's
    * plan showed four separate regenerations of date_dim); caching them
    * pins one InMemoryRelation per session that all queries share. The
    * fixture-DERIVED views (item, fact tables, …) stay uncached so scan
    * pushdown/pruning keep working — at 100 TB those are real tables,
    * while these generated dims are tiny at any scale.
    */
  private val generatedDims = Set("date_dim", "time_dim",
    "customer_demographics", "household_demographics", "promotion", "reason",
    "warehouse", "income_band", "ship_mode", "call_center", "web_site",
    "web_page", "catalog_page")

  private[graft] def ensureTpcdsViews(spark: SparkSession, dir: String): Unit =
    viewsFor.compute(spark, (_, prev) => {
      if (prev != dir) {
        spark.sql("CREATE DATABASE IF NOT EXISTS tpcds")
        // |customer| inlined as a literal: a catalog view's text is
        // re-analyzed per reference, and the corpus references the fact
        // views heavily — keeping it a scalar subquery cost tpcds_q14
        // ~3 of its 4.9 planning seconds (see TpcdsSynth.tableSql)
        val custCount = spark.read
          .parquet(s"$dir/customer.parquet").count().toString
        // base fixture tables as CATALOG tables, not parquet.`path` refs:
        // a path reference builds a fresh file relation (listing + schema
        // inference) on every analysis, while catalog tables resolve
        // through the session's relation cache — with the corpus' heavy
        // view fan-out this was ~1 s/reference-set of q14's plan time
        Seq("lineitem", "customer", "part", "supplier").foreach { b =>
          spark.sql(s"DROP TABLE IF EXISTS tpcds.base_$b")
          spark.sql(s"CREATE TABLE tpcds.base_$b USING parquet " +
            s"LOCATION '$dir/$b.parquet'")
        }
        TpcdsSynth.tables.foreach { t =>
          val body = TpcdsSynth.tableSql(t,
            b => s"tpcds.base_$b", custCount)
          spark.sql(s"CREATE OR REPLACE VIEW tpcds.$t AS $body")
          if (generatedDims(t)) spark.catalog.cacheTable(s"tpcds.$t")
          // adapted-corpus fast path: a TEMP view registered from the
          // DataFrame stores the ANALYZED plan, where a catalog view
          // stores TEXT that is re-parsed and re-analyzed on every
          // reference — with q14-class fan-out that re-analysis was most
          // of the planning time. The catalog views stay for the
          // verbatim texts' spark_catalog.tpcds.* 3-part names. A
          // generated dim's temp view holds its rows, not the cache: AQE
          // reuses no exchange above a cached-table scan, and a shared
          // CTE runs once only through that reuse (OPERATIONS.md §6).
          val view = spark.table(s"tpcds.$t")
          (if (generatedDims(t))
            spark.createDataFrame(java.util.Arrays.asList(view.collect(): _*), view.schema)
          else view).createOrReplaceTempView(s"graft_tpcds_$t")
        }
      }
      dir
    })

  // Normalizers nudge the value by +1e-6 before rounding: a DECIMAL
  // average can land EXACTLY on a .xx5 rounding tie (cents/n), and the
  // engines break ties differently (Spark: BigDecimal HALF_UP on the
  // shortest decimal repr; DuckDB: rounding the raw float, where the tie
  // usually reads .xx49999…). The nudge pushes both representations
  // strictly above the tie so they round identically; honest non-tie
  // values sit ≥ 5e-3 (r2) / 5e-5 (r4) from a boundary and are unaffected.
  private def r2(c: String) = s"round(CAST($c AS DOUBLE) + 1e-6, 2) AS $c"
  private def r4(c: String) = s"round(CAST($c AS DOUBLE) + 1e-6, 4) AS $c"
  // for values the TEXT already rounds to 6dp from bit-identical doubles:
  // re-rounding coarser (or nudging at 1e-6, the 6th decimal itself)
  // would corrupt them — pass through at the same scale instead
  private def r6(c: String) = s"round(CAST($c AS DOUBLE), 6) AS $c"
  private def big(c: String) = s"CAST($c AS BIGINT) AS $c"

  private def wrapNorm(inner: String, aliases: Seq[String],
      norm: Seq[String], order: String): String = {
    val sel = s"SELECT ${norm.mkString(", ")}\nFROM (\n$inner\n) AS t(${aliases.mkString(", ")})"
    if (order.isEmpty) sel else s"$sel\nORDER BY $order"
  }

  /** One adapted corpus entry; wrapper identical to DialectOps.verbatim
    * (positional aliases + normalization + total ORDER BY).
    */
  private def adapted(name: String, text: String, aliases: Seq[String],
      norm: Seq[String], order: String): QueryDef = {
    val oracle = TpcdsSynth.duckCtePreamble +
      wrapNorm(text.replace("tpcds.", "tpcds_"), aliases, norm, order)
    QueryDef(name, Some(oracle), (s, dir) => {
      Tables.register(s, dir)
      ensureTpcdsViews(s, dir)
      // resolve through the analyzed-plan temp views (planning cost),
      // not the text-stored catalog views — same relations either way
      s.sql(wrapNorm(text.replace("tpcds.", "graft_tpcds_"),
        aliases, norm, order))
    })
  }

  /** Table ref in a benchto TPC-DS text: `${database}.${schema}.t`,
    * optionally followed by a same-line alias.
    */
  private val VerbatimRef = raw"\$$\{database}\.\$$\{schema}\.(\w+)([ \t]+\w+)?".r

  /** One VERBATIM corpus entry (BenchtoTpcdsTexts, byte-identical): the
    * engine resolves through the `tpcds` views after benchto's own
    * template substitution; the oracle collapses refs to the CTE names,
    * re-aliasing bare refs with the table's own name so the text's
    * `"table"."column"` qualifications keep resolving.
    */
  private def verbatim(name: String, text: String, aliases: Seq[String],
      norm: Seq[String], order: String): QueryDef = {
    // a template ref inside a STRING LITERAL (q14_2's channel label
    // '${database}.${schema}.store') is data, not a table ref — pin it to
    // the engine's spelling on BOTH sides before the table-ref rewrites
    val pinned = text.split("'", -1).zipWithIndex.map { case (seg, i) =>
      if (i % 2 == 1) seg.replace("${database}.${schema}.", "spark_catalog.tpcds.")
      else seg
    }.mkString("'")
    val engineText = pinned.replace("${database}.${schema}.", "spark_catalog.tpcds.")
    val oracleText = VerbatimRef.replaceAllIn(pinned, m =>
      if (m.group(2) != null) s"tpcds_${m.group(1)}${m.group(2)}"
      else s"tpcds_${m.group(1)} ${m.group(1)}")
    val oracle = TpcdsSynth.duckCtePreamble +
      wrapNorm(oracleText, aliases, norm, order)
    QueryDef(name, Some(oracle), (s, dir) => {
      Tables.register(s, dir)
      ensureTpcdsViews(s, dir)
      s.sql(wrapNorm(engineText, aliases, norm, order))
    })
  }

  def defs = Seq(
    // q03: brand report for one manufacturer in November of every year
    adapted("tpcds_q03",
      """SELECT dt.d_year, item.i_brand_id AS brand_id, item.i_brand AS brand,
        |  sum(ss_ext_sales_price) AS sum_agg
        |FROM tpcds.date_dim dt, tpcds.store_sales store_sales, tpcds.item item
        |WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
        |  AND store_sales.ss_item_sk = item.i_item_sk
        |  AND item.i_manufact_id = 28
        |  AND dt.d_moy = 11
        |GROUP BY dt.d_year, item.i_brand, item.i_brand_id
        |ORDER BY dt.d_year, sum_agg DESC, brand_id
        |LIMIT 100""".stripMargin,
      Seq("d_year", "brand_id", "brand", "sum_agg"),
      Seq("d_year", "brand_id", "brand", r2("sum_agg")),
      "d_year, sum_agg DESC, brand_id, brand"),

    // q10: demographics of customers active in-store AND (web OR catalog)
    adapted("tpcds_q10",
      """SELECT cd_gender, cd_marital_status, cd_education_status, count(*) AS cnt1,
        |  cd_purchase_estimate, count(*) AS cnt2, cd_credit_rating, count(*) AS cnt3,
        |  cd_dep_count, count(*) AS cnt4, cd_dep_employed_count, count(*) AS cnt5,
        |  cd_dep_college_count, count(*) AS cnt6
        |FROM tpcds.customer c, tpcds.customer_address ca, tpcds.customer_demographics customer_demographics
        |WHERE c.c_current_addr_sk = ca.ca_address_sk
        |  AND ca_county IN ('Rush County', 'Toole County', 'Jefferson County',
        |                    'Dona Ana County', 'La Porte County')
        |  AND cd_demo_sk = c.c_current_cdemo_sk
        |  AND EXISTS (SELECT * FROM tpcds.store_sales store_sales, tpcds.date_dim date_dim
        |              WHERE c.c_customer_sk = ss_customer_sk
        |                AND ss_sold_date_sk = d_date_sk AND d_year = 1996
        |                AND d_moy BETWEEN 1 AND (1 + 3))
        |  AND (EXISTS (SELECT * FROM tpcds.web_sales web_sales, tpcds.date_dim date_dim
        |               WHERE c.c_customer_sk = ws_bill_customer_sk
        |                 AND ws_sold_date_sk = d_date_sk AND d_year = 1996
        |                 AND d_moy BETWEEN 1 AND (1 + 3))
        |    OR EXISTS (SELECT * FROM tpcds.catalog_sales catalog_sales, tpcds.date_dim date_dim
        |               WHERE c.c_customer_sk = cs_ship_customer_sk
        |                 AND cs_sold_date_sk = d_date_sk AND d_year = 1996
        |                 AND d_moy BETWEEN 1 AND (1 + 3)))
        |GROUP BY cd_gender, cd_marital_status, cd_education_status,
        |  cd_purchase_estimate, cd_credit_rating, cd_dep_count,
        |  cd_dep_employed_count, cd_dep_college_count
        |ORDER BY cd_gender, cd_marital_status, cd_education_status,
        |  cd_purchase_estimate, cd_credit_rating, cd_dep_count,
        |  cd_dep_employed_count, cd_dep_college_count
        |LIMIT 100""".stripMargin,
      Seq("cd_gender", "cd_marital_status", "cd_education_status", "cnt1",
        "cd_purchase_estimate", "cnt2", "cd_credit_rating", "cnt3",
        "cd_dep_count", "cnt4", "cd_dep_employed_count", "cnt5",
        "cd_dep_college_count", "cnt6"),
      Seq("cd_gender", "cd_marital_status", "cd_education_status", big("cnt1"),
        "cd_purchase_estimate", big("cnt2"), "cd_credit_rating", big("cnt3"),
        "cd_dep_count", big("cnt4"), "cd_dep_employed_count", big("cnt5"),
        "cd_dep_college_count", big("cnt6")),
      "cd_gender, cd_marital_status, cd_education_status, " +
        "cd_purchase_estimate, cd_credit_rating, cd_dep_count, " +
        "cd_dep_employed_count, cd_dep_college_count"),

    // q18: 4-level ROLLUP of catalog averages over a double-demographics join
    adapted("tpcds_q18",
      """SELECT i_item_id, ca_country, ca_state, ca_county,
        |  avg(CAST(cs_quantity AS DECIMAL(12,2))) AS agg1,
        |  avg(CAST(cs_list_price AS DECIMAL(12,2))) AS agg2,
        |  avg(CAST(cs_coupon_amt AS DECIMAL(12,2))) AS agg3,
        |  avg(CAST(cs_sales_price AS DECIMAL(12,2))) AS agg4,
        |  avg(CAST(cs_net_profit AS DECIMAL(12,2))) AS agg5,
        |  avg(CAST(c_birth_year AS DECIMAL(12,2))) AS agg6,
        |  avg(CAST(cd1.cd_dep_count AS DECIMAL(12,2))) AS agg7
        |FROM tpcds.catalog_sales catalog_sales, tpcds.customer_demographics cd1,
        |  tpcds.customer_demographics cd2, tpcds.customer customer,
        |  tpcds.customer_address customer_address, tpcds.date_dim date_dim, tpcds.item item
        |WHERE cs_sold_date_sk = d_date_sk
        |  AND cs_item_sk = i_item_sk
        |  AND cs_bill_cdemo_sk = cd1.cd_demo_sk
        |  AND cs_bill_customer_sk = c_customer_sk
        |  AND cd1.cd_gender = 'F'
        |  AND cd1.cd_education_status = 'Unknown'
        |  AND c_current_cdemo_sk = cd2.cd_demo_sk
        |  AND c_current_addr_sk = ca_address_sk
        |  AND c_birth_month IN (1, 6, 8, 9, 12, 2)
        |  AND d_year = 1995
        |  AND ca_state IN ('MS', 'IN', 'ND', 'OK', 'NM', 'VA')
        |GROUP BY ROLLUP (i_item_id, ca_country, ca_state, ca_county)
        |ORDER BY ca_country ASC NULLS FIRST, ca_state ASC NULLS FIRST,
        |  ca_county ASC NULLS FIRST, i_item_id ASC NULLS FIRST
        |LIMIT 100""".stripMargin,
      Seq("i_item_id", "ca_country", "ca_state", "ca_county",
        "agg1", "agg2", "agg3", "agg4", "agg5", "agg6", "agg7"),
      Seq("i_item_id", "ca_country", "ca_state", "ca_county",
        r4("agg1"), r4("agg2"), r4("agg3"), r4("agg4"), r4("agg5"),
        r4("agg6"), r4("agg7")),
      "ca_country NULLS FIRST, ca_state NULLS FIRST, " +
        "ca_county NULLS FIRST, i_item_id NULLS FIRST"),

    // q22: inventory quantity-on-hand over a 4-level item ROLLUP
    adapted("tpcds_q22",
      """SELECT i_product_name, i_brand, i_class, i_category,
        |  avg(inv_quantity_on_hand) AS qoh
        |FROM tpcds.inventory inventory, tpcds.date_dim date_dim, tpcds.item item
        |WHERE inv_date_sk = d_date_sk
        |  AND inv_item_sk = i_item_sk
        |  AND d_month_seq BETWEEN 1200 AND (1200 + 11)
        |GROUP BY ROLLUP (i_product_name, i_brand, i_class, i_category)
        |ORDER BY qoh ASC NULLS FIRST, i_product_name ASC NULLS FIRST,
        |  i_brand ASC NULLS FIRST, i_class ASC NULLS FIRST,
        |  i_category ASC NULLS FIRST
        |LIMIT 100""".stripMargin,
      Seq("i_product_name", "i_brand", "i_class", "i_category", "qoh"),
      Seq("i_product_name", "i_brand", "i_class", "i_category", r4("qoh")),
      "qoh NULLS FIRST, i_product_name NULLS FIRST, i_brand NULLS FIRST, " +
        "i_class NULLS FIRST, i_category NULLS FIRST"),

    // q34: month-edge shoppers with 2..20-line tickets, by household profile
    adapted("tpcds_q34",
      """SELECT c_last_name, c_first_name, c_salutation, c_preferred_cust_flag,
        |  ss_ticket_number, cnt
        |FROM
        |  (SELECT ss_ticket_number, ss_customer_sk, count(*) AS cnt
        |   FROM tpcds.store_sales store_sales, tpcds.date_dim date_dim, tpcds.store store,
        |     tpcds.household_demographics household_demographics
        |   WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
        |     AND store_sales.ss_store_sk = store.s_store_sk
        |     AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
        |     AND (date_dim.d_dom BETWEEN 1 AND 3 OR date_dim.d_dom BETWEEN 25 AND 28)
        |     AND (household_demographics.hd_buy_potential = '>10000'
        |       OR household_demographics.hd_buy_potential = 'Unknown')
        |     AND household_demographics.hd_vehicle_count > 0
        |     AND (CASE WHEN household_demographics.hd_vehicle_count > 0
        |               THEN CAST(household_demographics.hd_dep_count AS DECIMAL(7,2))
        |                    / household_demographics.hd_vehicle_count
        |               ELSE NULL END) > 1.2
        |     AND date_dim.d_year IN (1999, 1999 + 1, 1999 + 2)
        |     AND store.s_county IN ('Williamson County', 'Williamson County',
        |       'Williamson County', 'Williamson County', 'Williamson County',
        |       'Williamson County', 'Williamson County', 'Williamson County')
        |   GROUP BY ss_ticket_number, ss_customer_sk) dn,
        |  tpcds.customer customer
        |WHERE ss_customer_sk = c_customer_sk
        |  AND cnt BETWEEN 1 AND 20
        |ORDER BY c_last_name ASC, c_first_name ASC, c_salutation ASC,
        |  c_preferred_cust_flag DESC, ss_ticket_number ASC""".stripMargin,
      Seq("c_last_name", "c_first_name", "c_salutation",
        "c_preferred_cust_flag", "ss_ticket_number", "cnt"),
      Seq("c_last_name", "c_first_name", "c_salutation",
        "c_preferred_cust_flag", "ss_ticket_number", big("cnt")),
      "c_last_name, c_first_name, c_salutation, c_preferred_cust_flag DESC, " +
        "ss_ticket_number"),

    // q35: per-state demographic stats of multi-channel shoppers
    adapted("tpcds_q35",
      """SELECT ca_state, cd_gender, cd_marital_status, cd_dep_count,
        |  count(*) AS cnt1, min(cd_dep_count) AS min1, max(cd_dep_count) AS max1,
        |  avg(cd_dep_count) AS avg1,
        |  cd_dep_employed_count, count(*) AS cnt2,
        |  min(cd_dep_employed_count) AS min2, max(cd_dep_employed_count) AS max2,
        |  avg(cd_dep_employed_count) AS avg2,
        |  cd_dep_college_count, count(*) AS cnt3,
        |  min(cd_dep_college_count) AS min3, max(cd_dep_college_count) AS max3,
        |  avg(cd_dep_college_count) AS avg3
        |FROM tpcds.customer c, tpcds.customer_address ca, tpcds.customer_demographics customer_demographics
        |WHERE c.c_current_addr_sk = ca.ca_address_sk
        |  AND cd_demo_sk = c.c_current_cdemo_sk
        |  AND EXISTS (SELECT * FROM tpcds.store_sales store_sales, tpcds.date_dim date_dim
        |              WHERE c.c_customer_sk = ss_customer_sk
        |                AND ss_sold_date_sk = d_date_sk AND d_year = 1996
        |                AND d_qoy < 4)
        |  AND (EXISTS (SELECT * FROM tpcds.web_sales web_sales, tpcds.date_dim date_dim
        |               WHERE c.c_customer_sk = ws_bill_customer_sk
        |                 AND ws_sold_date_sk = d_date_sk AND d_year = 1996
        |                 AND d_qoy < 4)
        |    OR EXISTS (SELECT * FROM tpcds.catalog_sales catalog_sales, tpcds.date_dim date_dim
        |               WHERE c.c_customer_sk = cs_ship_customer_sk
        |                 AND cs_sold_date_sk = d_date_sk AND d_year = 1996
        |                 AND d_qoy < 4))
        |GROUP BY ca_state, cd_gender, cd_marital_status, cd_dep_count,
        |  cd_dep_employed_count, cd_dep_college_count
        |ORDER BY ca_state, cd_gender, cd_marital_status, cd_dep_count,
        |  cd_dep_employed_count, cd_dep_college_count
        |LIMIT 100""".stripMargin,
      Seq("ca_state", "cd_gender", "cd_marital_status", "cd_dep_count",
        "cnt1", "min1", "max1", "avg1", "cd_dep_employed_count", "cnt2",
        "min2", "max2", "avg2", "cd_dep_college_count", "cnt3", "min3",
        "max3", "avg3"),
      Seq("ca_state", "cd_gender", "cd_marital_status", "cd_dep_count",
        big("cnt1"), big("min1"), big("max1"), r4("avg1"),
        "cd_dep_employed_count", big("cnt2"), big("min2"), big("max2"),
        r4("avg2"), "cd_dep_college_count", big("cnt3"), big("min3"),
        big("max3"), r4("avg3")),
      "ca_state, cd_gender, cd_marital_status, cd_dep_count, " +
        "cd_dep_employed_count, cd_dep_college_count"),

    // q36: gross-margin rank within a GROUPING()-derived hierarchy level.
    // The DECIMAL sums are exact on both engines; casting them to DOUBLE
    // before the ratio makes the division inputs (hence the 6dp-rounded
    // margin and its rank) bit-identical across engines.
    adapted("tpcds_q36",
      """SELECT
        |  round(CAST(sum(ss_net_profit) AS DOUBLE)
        |        / CAST(sum(ss_ext_sales_price) AS DOUBLE), 6) AS gross_margin,
        |  i_category, i_class,
        |  grouping(i_category) + grouping(i_class) AS lochierarchy,
        |  rank() OVER (
        |    PARTITION BY grouping(i_category) + grouping(i_class),
        |      CASE WHEN grouping(i_class) = 0 THEN i_category END
        |    ORDER BY round(CAST(sum(ss_net_profit) AS DOUBLE)
        |                   / CAST(sum(ss_ext_sales_price) AS DOUBLE), 6) ASC
        |  ) AS rank_within_parent
        |FROM tpcds.store_sales store_sales, tpcds.date_dim d1, tpcds.item item, tpcds.store store
        |WHERE d1.d_year = 2001
        |  AND d1.d_date_sk = ss_sold_date_sk
        |  AND i_item_sk = ss_item_sk
        |  AND s_store_sk = ss_store_sk
        |  AND s_state IN ('TN', 'TN', 'TN', 'TN', 'TN', 'TN', 'TN', 'TN')
        |GROUP BY ROLLUP (i_category, i_class)""".stripMargin,
      Seq("gross_margin", "i_category", "i_class", "lochierarchy",
        "rank_within_parent"),
      Seq(r6("gross_margin"), "i_category", "i_class", big("lochierarchy"),
        big("rank_within_parent")),
      "lochierarchy DESC, i_category NULLS FIRST, i_class NULLS FIRST"),

    // q38: customers active in ALL three channels (3-way INTERSECT)
    adapted("tpcds_q38",
      """SELECT count(*) AS cnt FROM (
        |  SELECT DISTINCT c_last_name, c_first_name, d_date
        |  FROM tpcds.store_sales store_sales, tpcds.date_dim date_dim, tpcds.customer customer
        |  WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
        |    AND store_sales.ss_customer_sk = customer.c_customer_sk
        |    AND d_month_seq BETWEEN 1200 AND (1200 + 83)
        |  INTERSECT
        |  SELECT DISTINCT c_last_name, c_first_name, d_date
        |  FROM tpcds.catalog_sales catalog_sales, tpcds.date_dim date_dim, tpcds.customer customer
        |  WHERE catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
        |    AND catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
        |    AND d_month_seq BETWEEN 1200 AND (1200 + 83)
        |  INTERSECT
        |  SELECT DISTINCT c_last_name, c_first_name, d_date
        |  FROM tpcds.web_sales web_sales, tpcds.date_dim date_dim, tpcds.customer customer
        |  WHERE web_sales.ws_sold_date_sk = date_dim.d_date_sk
        |    AND web_sales.ws_bill_customer_sk = customer.c_customer_sk
        |    AND d_month_seq BETWEEN 1200 AND (1200 + 83)
        |) hot_cust
        |LIMIT 100""".stripMargin,
      Seq("cnt"), Seq(big("cnt")), ""),

    // q42: category totals for one manager's items in one month
    adapted("tpcds_q42",
      """SELECT dt.d_year, item.i_category_id, item.i_category,
        |  sum(ss_ext_sales_price) AS ext_sales
        |FROM tpcds.date_dim dt, tpcds.store_sales store_sales, tpcds.item item
        |WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
        |  AND store_sales.ss_item_sk = item.i_item_sk
        |  AND item.i_manager_id = 1
        |  AND dt.d_moy = 11
        |  AND dt.d_year = 2000
        |GROUP BY dt.d_year, item.i_category_id, item.i_category
        |ORDER BY ext_sales DESC, dt.d_year, item.i_category_id, item.i_category
        |LIMIT 100""".stripMargin,
      Seq("d_year", "i_category_id", "i_category", "ext_sales"),
      Seq("d_year", "i_category_id", "i_category", r2("ext_sales")),
      "ext_sales DESC, d_year, i_category_id, i_category"),

    // q51: web-vs-store cumulative sales race (full join + running max)
    adapted("tpcds_q51",
      """WITH web_v1 AS (
        |  SELECT ws_item_sk AS item_sk, d_date,
        |    sum(sum(ws_sales_price)) OVER (PARTITION BY ws_item_sk
        |      ORDER BY d_date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cume_sales
        |  FROM tpcds.web_sales web_sales, tpcds.date_dim date_dim
        |  WHERE ws_sold_date_sk = d_date_sk
        |    AND d_month_seq BETWEEN 1200 AND (1200 + 11)
        |    AND ws_item_sk IS NOT NULL
        |  GROUP BY ws_item_sk, d_date
        |),
        |store_v1 AS (
        |  SELECT ss_item_sk AS item_sk, d_date,
        |    sum(sum(ss_sales_price)) OVER (PARTITION BY ss_item_sk
        |      ORDER BY d_date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cume_sales
        |  FROM tpcds.store_sales store_sales, tpcds.date_dim date_dim
        |  WHERE ss_sold_date_sk = d_date_sk
        |    AND d_month_seq BETWEEN 1200 AND (1200 + 11)
        |    AND ss_item_sk IS NOT NULL
        |  GROUP BY ss_item_sk, d_date
        |)
        |SELECT * FROM (
        |  SELECT item_sk, d_date, web_sales, store_sales,
        |    max(web_sales) OVER (PARTITION BY item_sk ORDER BY d_date
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS web_cumulative,
        |    max(store_sales) OVER (PARTITION BY item_sk ORDER BY d_date
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS store_cumulative
        |  FROM (
        |    SELECT
        |      CASE WHEN web.item_sk IS NOT NULL THEN web.item_sk ELSE store.item_sk END AS item_sk,
        |      CASE WHEN web.d_date IS NOT NULL THEN web.d_date ELSE store.d_date END AS d_date,
        |      web.cume_sales AS web_sales,
        |      store.cume_sales AS store_sales
        |    FROM web_v1 web
        |    FULL JOIN store_v1 store
        |      ON web.item_sk = store.item_sk AND web.d_date = store.d_date
        |  ) x
        |) y
        |WHERE web_cumulative > store_cumulative
        |ORDER BY item_sk ASC, d_date ASC
        |LIMIT 100""".stripMargin,
      Seq("item_sk", "d_date", "web_sales", "store_sales",
        "web_cumulative", "store_cumulative"),
      Seq("item_sk", "d_date", r2("web_sales"), r2("store_sales"),
        r2("web_cumulative"), r2("store_cumulative")),
      "item_sk, d_date"),

    // q53: quarterly sales vs each manufacturer's quarterly average
    adapted("tpcds_q53",
      """SELECT * FROM (
        |  SELECT i_manufact_id, sum(ss_sales_price) AS sum_sales,
        |    avg(CAST(sum(ss_sales_price) AS DOUBLE)) OVER (PARTITION BY i_manufact_id)
        |      AS avg_quarterly_sales
        |  FROM tpcds.item item, tpcds.store_sales store_sales, tpcds.date_dim date_dim, tpcds.store store
        |  WHERE ss_item_sk = i_item_sk
        |    AND ss_sold_date_sk = d_date_sk
        |    AND ss_store_sk = s_store_sk
        |    AND d_month_seq IN (1200, 1200 + 1, 1200 + 2, 1200 + 3, 1200 + 4,
        |      1200 + 5, 1200 + 6, 1200 + 7, 1200 + 8, 1200 + 9, 1200 + 10,
        |      1200 + 11)
        |    AND ((i_category IN ('Books', 'Children', 'Electronics')
        |          AND i_class IN ('personal', 'portable', 'reference', 'self-help')
        |          AND i_brand IN ('Brand#1', 'Brand#2', 'Brand#11', 'Brand#12',
        |                          'Brand#13', 'Brand#21', 'Brand#22', 'Brand#23'))
        |      OR (i_category IN ('Women', 'Music', 'Men')
        |          AND i_class IN ('accessories', 'classical', 'fragrances', 'pants')
        |          AND i_brand IN ('Brand#3', 'Brand#4', 'Brand#5', 'Brand#14',
        |                          'Brand#15', 'Brand#24', 'Brand#25', 'Brand#6')))
        |  GROUP BY i_manufact_id, d_qoy
        |) tmp1
        |WHERE CASE WHEN avg_quarterly_sales > 0
        |           THEN abs(CAST(sum_sales AS DECIMAL(38,4)) - avg_quarterly_sales)
        |                / avg_quarterly_sales
        |           ELSE NULL END > 0.1
        |ORDER BY avg_quarterly_sales, sum_sales, i_manufact_id
        |LIMIT 100""".stripMargin,
      Seq("i_manufact_id", "sum_sales", "avg_quarterly_sales"),
      Seq("i_manufact_id", r2("sum_sales"), r4("avg_quarterly_sales")),
      "avg_quarterly_sales, sum_sales, i_manufact_id"),

    // q55: brand revenue for one manager-month
    adapted("tpcds_q55",
      """SELECT i_brand_id AS brand_id, i_brand AS brand,
        |  sum(ss_ext_sales_price) AS ext_price
        |FROM tpcds.date_dim date_dim, tpcds.store_sales store_sales, tpcds.item item
        |WHERE d_date_sk = ss_sold_date_sk
        |  AND ss_item_sk = i_item_sk
        |  AND i_manager_id = 6
        |  AND d_moy = 11
        |  AND d_year = 1999
        |GROUP BY i_brand, i_brand_id
        |ORDER BY ext_price DESC, brand_id
        |LIMIT 100""".stripMargin,
      Seq("brand_id", "brand", "ext_price"),
      Seq("brand_id", "brand", r2("ext_price")),
      "ext_price DESC, brand_id, brand"),

    // q67: 8-level ROLLUP + per-category rank of every rollup row
    // (sumsales rounded so rank() is summation-order-stable across engines)
    adapted("tpcds_q67",
      """SELECT * FROM (
        |  SELECT i_category, i_class, i_brand, i_product_name, d_year, d_qoy,
        |    d_moy, s_store_id, sumsales,
        |    rank() OVER (PARTITION BY i_category ORDER BY sumsales DESC) AS rk
        |  FROM (
        |    SELECT i_category, i_class, i_brand, i_product_name, d_year, d_qoy,
        |      d_moy, s_store_id,
        |      round(sum(COALESCE(ss_sales_price * ss_quantity, 0)), 2) AS sumsales
        |    FROM tpcds.store_sales store_sales, tpcds.date_dim date_dim, tpcds.store store, tpcds.item item
        |    WHERE ss_sold_date_sk = d_date_sk
        |      AND ss_item_sk = i_item_sk
        |      AND ss_store_sk = s_store_sk
        |      AND d_month_seq BETWEEN 1200 AND (1200 + 11)
        |    GROUP BY ROLLUP (i_category, i_class, i_brand, i_product_name,
        |      d_year, d_qoy, d_moy, s_store_id)
        |  ) dw1
        |) dw2
        |WHERE rk <= 100
        |ORDER BY i_category ASC NULLS FIRST, i_class ASC NULLS FIRST,
        |  i_brand ASC NULLS FIRST, i_product_name ASC NULLS FIRST,
        |  d_year ASC NULLS FIRST, d_qoy ASC NULLS FIRST,
        |  d_moy ASC NULLS FIRST, s_store_id ASC NULLS FIRST,
        |  sumsales ASC, rk ASC
        |LIMIT 100""".stripMargin,
      Seq("i_category", "i_class", "i_brand", "i_product_name", "d_year",
        "d_qoy", "d_moy", "s_store_id", "sumsales", "rk"),
      Seq("i_category", "i_class", "i_brand", "i_product_name", "d_year",
        "d_qoy", "d_moy", "s_store_id", r2("sumsales"), big("rk")),
      "i_category NULLS FIRST, i_class NULLS FIRST, i_brand NULLS FIRST, " +
        "i_product_name NULLS FIRST, d_year NULLS FIRST, d_qoy NULLS FIRST, " +
        "d_moy NULLS FIRST, s_store_id NULLS FIRST, sumsales, rk"),

    // q73: 1..5-line tickets at month start, by household buy potential
    adapted("tpcds_q73",
      """SELECT c_last_name, c_first_name, c_salutation, c_preferred_cust_flag,
        |  ss_ticket_number, cnt
        |FROM
        |  (SELECT ss_ticket_number, ss_customer_sk, count(*) AS cnt
        |   FROM tpcds.store_sales store_sales, tpcds.date_dim date_dim, tpcds.store store,
        |     tpcds.household_demographics household_demographics
        |   WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
        |     AND store_sales.ss_store_sk = store.s_store_sk
        |     AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
        |     AND date_dim.d_dom BETWEEN 1 AND 2
        |     AND (household_demographics.hd_buy_potential = '>10000'
        |       OR household_demographics.hd_buy_potential = 'Unknown')
        |     AND household_demographics.hd_vehicle_count > 0
        |     AND (CASE WHEN household_demographics.hd_vehicle_count > 0
        |               THEN CAST(household_demographics.hd_dep_count AS DECIMAL(7,2))
        |                    / household_demographics.hd_vehicle_count
        |               ELSE NULL END) > 1
        |     AND date_dim.d_year IN (1999, 1999 + 1, 1999 + 2)
        |     AND store.s_county IN ('Williamson County', 'Franklin Parish',
        |       'Rush County', 'Orange County')
        |   GROUP BY ss_ticket_number, ss_customer_sk) dj,
        |  tpcds.customer customer
        |WHERE ss_customer_sk = c_customer_sk
        |  AND cnt BETWEEN 1 AND 5
        |ORDER BY cnt DESC, c_last_name ASC""".stripMargin,
      Seq("c_last_name", "c_first_name", "c_salutation",
        "c_preferred_cust_flag", "ss_ticket_number", "cnt"),
      Seq("c_last_name", "c_first_name", "c_salutation",
        "c_preferred_cust_flag", "ss_ticket_number", big("cnt")),
      "cnt DESC, c_last_name, c_first_name, c_salutation, " +
        "c_preferred_cust_flag, ss_ticket_number"),

    // q87: store shoppers absent from catalog and web (EXCEPT chain)
    adapted("tpcds_q87",
      """SELECT count(*) AS cnt FROM (
        |  (SELECT DISTINCT c_last_name, c_first_name, d_date
        |   FROM tpcds.store_sales store_sales, tpcds.date_dim date_dim, tpcds.customer customer
        |   WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
        |     AND store_sales.ss_customer_sk = customer.c_customer_sk
        |     AND d_month_seq BETWEEN 1200 AND (1200 + 11))
        |  EXCEPT
        |  (SELECT DISTINCT c_last_name, c_first_name, d_date
        |   FROM tpcds.catalog_sales catalog_sales, tpcds.date_dim date_dim, tpcds.customer customer
        |   WHERE catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
        |     AND catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
        |     AND d_month_seq BETWEEN 1200 AND (1200 + 11))
        |  EXCEPT
        |  (SELECT DISTINCT c_last_name, c_first_name, d_date
        |   FROM tpcds.web_sales web_sales, tpcds.date_dim date_dim, tpcds.customer customer
        |   WHERE web_sales.ws_sold_date_sk = date_dim.d_date_sk
        |     AND web_sales.ws_bill_customer_sk = customer.c_customer_sk
        |     AND d_month_seq BETWEEN 1200 AND (1200 + 11))
        |) cool_cust""".stripMargin,
      Seq("cnt"), Seq(big("cnt")), ""),

    // ── VERBATIM reference texts (BenchtoTpcdsTexts, byte-identical) ──
    // The queries whose full column needs the synthesized schema already
    // carries. TPC-DS-spec constants outside the synthesized domains
    // (q03's manufacturer 128, q55's manager 28) select empty sets —
    // kept verbatim anyway, oracle-compared, with the fixture-tuned
    // non-empty twins above (same round-4 discipline as the TPC-H
    // corpus's 1993/94 date windows).
    verbatim("tpcds_q03_verbatim", BenchtoTpcdsTexts.q03,
      Seq("d_year", "brand_id", "brand", "sum_agg"),
      Seq("d_year", "brand_id", "brand", r2("sum_agg")),
      "d_year, sum_agg DESC, brand_id, brand"),
    verbatim("tpcds_q38_verbatim", BenchtoTpcdsTexts.q38,
      Seq("cnt"), Seq(big("cnt")), ""),
    verbatim("tpcds_q42_verbatim", BenchtoTpcdsTexts.q42,
      Seq("d_year", "i_category_id", "i_category", "sumprice"),
      Seq("d_year", "i_category_id", "i_category", r2("sumprice")),
      "sumprice DESC, d_year, i_category_id, i_category"),
    verbatim("tpcds_q55_verbatim", BenchtoTpcdsTexts.q55,
      Seq("brand_id", "brand", "ext_price"),
      Seq("brand_id", "brand", r2("ext_price")),
      "ext_price DESC, brand_id, brand"),
    verbatim("tpcds_q87_verbatim", BenchtoTpcdsTexts.q87,
      Seq("cnt"), Seq(big("cnt")), ""),

    // q19: brand report where buyer and store sit in different zip
    // prefixes (i_manager_id tuned 8 → 7: the synthesized domain is 0–7)
    adapted("tpcds_q19",
      """SELECT i_brand_id AS brand_id, i_brand AS brand, i_manufact_id,
        |  i_manufact, sum(ss_ext_sales_price) AS ext_price
        |FROM tpcds.date_dim date_dim, tpcds.store_sales store_sales,
        |  tpcds.item item, tpcds.customer customer,
        |  tpcds.customer_address customer_address, tpcds.store store
        |WHERE d_date_sk = ss_sold_date_sk
        |  AND ss_item_sk = i_item_sk
        |  AND i_manager_id = 7
        |  AND d_moy = 11
        |  AND d_year = 1998
        |  AND ss_customer_sk = c_customer_sk
        |  AND c_current_addr_sk = ca_address_sk
        |  AND substr(ca_zip, 1, 5) <> substr(s_zip, 1, 5)
        |  AND ss_store_sk = s_store_sk
        |GROUP BY i_brand, i_brand_id, i_manufact_id, i_manufact
        |ORDER BY ext_price DESC, i_brand, i_brand_id, i_manufact_id, i_manufact
        |LIMIT 100""".stripMargin,
      Seq("brand_id", "brand", "i_manufact_id", "i_manufact", "ext_price"),
      Seq("brand_id", "brand", "i_manufact_id", "i_manufact", r2("ext_price")),
      "ext_price DESC, brand, brand_id, i_manufact_id, i_manufact"),

    // q65: items selling at <= 10% of their store's average item revenue
    // (month_seq window tuned 1176 → 1200, the fixture's first year; the
    // inner LIMIT ordering gains revenue as a tiebreaker — store NAMES
    // repeat across stores, so (name, desc) alone is not a total order)
    adapted("tpcds_q65",
      """SELECT s_store_name, i_item_desc, sc.revenue, i_current_price,
        |  i_wholesale_cost, i_brand
        |FROM tpcds.store store, tpcds.item item,
        |  (SELECT ss_store_sk, avg(revenue) AS ave
        |   FROM (SELECT ss_store_sk, ss_item_sk, sum(ss_sales_price) AS revenue
        |         FROM tpcds.store_sales store_sales, tpcds.date_dim date_dim
        |         WHERE ss_sold_date_sk = d_date_sk
        |           AND d_month_seq BETWEEN 1200 AND (1200 + 11)
        |         GROUP BY ss_store_sk, ss_item_sk) sa
        |   GROUP BY ss_store_sk) sb,
        |  (SELECT ss_store_sk, ss_item_sk, sum(ss_sales_price) AS revenue
        |   FROM tpcds.store_sales store_sales, tpcds.date_dim date_dim
        |   WHERE ss_sold_date_sk = d_date_sk
        |     AND d_month_seq BETWEEN 1200 AND (1200 + 11)
        |   GROUP BY ss_store_sk, ss_item_sk) sc
        |WHERE sb.ss_store_sk = sc.ss_store_sk
        |  AND sc.revenue <= 0.1 * sb.ave
        |  AND s_store_sk = sc.ss_store_sk
        |  AND i_item_sk = sc.ss_item_sk
        |ORDER BY s_store_name, i_item_desc, revenue, i_brand
        |LIMIT 100""".stripMargin,
      Seq("s_store_name", "i_item_desc", "revenue", "i_current_price",
        "i_wholesale_cost", "i_brand"),
      Seq("s_store_name", "i_item_desc", r2("revenue"), "i_current_price",
        r2("i_wholesale_cost"), "i_brand"),
      "s_store_name, i_item_desc, revenue, i_brand"),

    // q27: GROUPING()-flagged two-level rollup of store averages by state
    // (d_year tuned 2002 → 2000: the fixture epoch ends 2001; the cd
    // education filter is dropped and the state list widened to the
    // spec's 6-distinct form so the predicate can't starve at sf0.001 —
    // ROLLUP over an EMPTY input is a known engine divergence: Spark
    // emits 0 rows where the standard, the reference, and DuckDB emit
    // the grand-total grouping-set row; pinned in TpcdsSpec)
    adapted("tpcds_q27",
      """SELECT i_item_id, s_state, GROUPING(s_state) AS g_state,
        |  avg(ss_quantity) AS agg1, avg(ss_list_price) AS agg2,
        |  avg(ss_coupon_amt) AS agg3, avg(ss_sales_price) AS agg4
        |FROM tpcds.store_sales store_sales, tpcds.customer_demographics customer_demographics,
        |  tpcds.date_dim date_dim, tpcds.store store, tpcds.item item
        |WHERE ss_sold_date_sk = d_date_sk
        |  AND ss_item_sk = i_item_sk
        |  AND ss_store_sk = s_store_sk
        |  AND ss_cdemo_sk = cd_demo_sk
        |  AND cd_gender = 'M'
        |  AND cd_marital_status = 'S'
        |  AND d_year = 2000
        |  AND s_state IN ('TN', 'TX', 'CA', 'NY', 'MS', 'IN')
        |GROUP BY ROLLUP (i_item_id, s_state)
        |ORDER BY i_item_id ASC NULLS FIRST, s_state ASC NULLS FIRST
        |LIMIT 100""".stripMargin,
      Seq("i_item_id", "s_state", "g_state", "agg1", "agg2", "agg3", "agg4"),
      Seq("i_item_id", "s_state", big("g_state"), r4("agg1"), r4("agg2"),
        r4("agg3"), r4("agg4")),
      "i_item_id NULLS FIRST, s_state NULLS FIRST, g_state"),

    // q46: weekend shoppers whose bought-city differs from their home
    // city (cities tuned into the synthesized City0..City14 domain; amt/
    // profit appended as ORDER tiebreakers — ticket+city alone is not a
    // total order when one ticket spans several line addresses)
    adapted("tpcds_q46",
      """SELECT c_last_name, c_first_name, ca_city, bought_city,
        |  ss_ticket_number, amt, profit
        |FROM
        |  (SELECT ss_ticket_number, ss_customer_sk, ca_city AS bought_city,
        |     sum(ss_coupon_amt) AS amt, sum(ss_net_profit) AS profit
        |   FROM tpcds.store_sales store_sales, tpcds.date_dim date_dim,
        |     tpcds.store store, tpcds.household_demographics household_demographics,
        |     tpcds.customer_address customer_address
        |   WHERE ss_sold_date_sk = d_date_sk
        |     AND ss_store_sk = s_store_sk
        |     AND ss_hdemo_sk = hd_demo_sk
        |     AND ss_addr_sk = ca_address_sk
        |     AND (hd_dep_count = 4 OR hd_vehicle_count = 3)
        |     AND d_dow IN (6, 0)
        |     AND d_year IN (1999, 2000, 2001)
        |     AND s_city IN ('City1', 'City2', 'City1', 'City1', 'City1')
        |   GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city) dn,
        |  tpcds.customer customer, tpcds.customer_address current_addr
        |WHERE ss_customer_sk = c_customer_sk
        |  AND c_current_addr_sk = current_addr.ca_address_sk
        |  AND current_addr.ca_city <> bought_city
        |ORDER BY c_last_name, c_first_name, ca_city, bought_city,
        |  ss_ticket_number, amt, profit
        |LIMIT 100""".stripMargin,
      Seq("c_last_name", "c_first_name", "ca_city", "bought_city",
        "ss_ticket_number", "amt", "profit"),
      Seq("c_last_name", "c_first_name", "ca_city", "bought_city",
        "ss_ticket_number", r2("amt"), r2("profit")),
      "c_last_name, c_first_name, ca_city, bought_city, ss_ticket_number, amt, profit"),

    // q61: promo share of category sales (category tuned 'Jewelry' →
    // 'Books'; the verbatim twin keeps 'Jewelry' and returns NULLs)
    adapted("tpcds_q61",
      """SELECT promotions, total,
        |  CAST(promotions AS DECIMAL(15,4)) / CAST(total AS DECIMAL(15,4)) * 100 AS ratio
        |FROM
        |  (SELECT sum(ss_ext_sales_price) AS promotions
        |   FROM tpcds.store_sales store_sales, tpcds.store store,
        |     tpcds.promotion promotion, tpcds.date_dim date_dim,
        |     tpcds.customer customer, tpcds.customer_address customer_address,
        |     tpcds.item item
        |   WHERE ss_sold_date_sk = d_date_sk
        |     AND ss_store_sk = s_store_sk
        |     AND ss_promo_sk = p_promo_sk
        |     AND ss_customer_sk = c_customer_sk
        |     AND ca_address_sk = c_current_addr_sk
        |     AND ss_item_sk = i_item_sk
        |     AND ca_gmt_offset = -5
        |     AND i_category = 'Books'
        |     AND (p_channel_dmail = 'Y' OR p_channel_email = 'Y' OR p_channel_tv = 'Y')
        |     AND s_gmt_offset = -5
        |     AND d_year = 1998
        |     AND d_moy = 11) promotional_sales,
        |  (SELECT sum(ss_ext_sales_price) AS total
        |   FROM tpcds.store_sales store_sales, tpcds.store store,
        |     tpcds.date_dim date_dim, tpcds.customer customer,
        |     tpcds.customer_address customer_address, tpcds.item item
        |   WHERE ss_sold_date_sk = d_date_sk
        |     AND ss_store_sk = s_store_sk
        |     AND ss_customer_sk = c_customer_sk
        |     AND ca_address_sk = c_current_addr_sk
        |     AND ss_item_sk = i_item_sk
        |     AND ca_gmt_offset = -5
        |     AND i_category = 'Books'
        |     AND s_gmt_offset = -5
        |     AND d_year = 1998
        |     AND d_moy = 11) all_sales""".stripMargin,
      Seq("promotions", "total", "ratio"),
      Seq(r2("promotions"), r2("total"), r6("ratio")), ""),

    // q74: year-over-year customer growth, store vs web — the 4-way
    // CTE self-join family (q4/q11/q74). Years tuned 2001/2002 →
    // 1999/2000 (the fixture epoch ends 2001; the spec's second year is
    // empty). One row per qualifying customer, so customer_id totally
    // orders the LIMIT cut.
    {
      val q74YearTotalBody = """SELECT c_customer_id AS customer_id,
        |    c_first_name AS customer_first_name,
        |    c_last_name AS customer_last_name,
        |    d_year AS year_, sum(ss_net_paid) AS year_total, 's' AS sale_type
        |  FROM tpcds.customer customer, tpcds.store_sales store_sales, tpcds.date_dim date_dim
        |  WHERE c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
        |    AND d_year IN (1999, 2000)
        |  GROUP BY c_customer_id, c_first_name, c_last_name, d_year
        |  UNION ALL
        |  SELECT c_customer_id AS customer_id,
        |    c_first_name AS customer_first_name,
        |    c_last_name AS customer_last_name,
        |    d_year AS year_, sum(ws_net_paid) AS year_total, 'w' AS sale_type
        |  FROM tpcds.customer customer, tpcds.web_sales web_sales, tpcds.date_dim date_dim
        |  WHERE c_customer_sk = ws_bill_customer_sk AND ws_sold_date_sk = d_date_sk
        |    AND d_year IN (1999, 2000)
        |  GROUP BY c_customer_id, c_first_name, c_last_name, d_year""".stripMargin
      val q74MainBody = """SELECT t_s_secyear.customer_id, t_s_secyear.customer_first_name,
        |  t_s_secyear.customer_last_name
        |FROM year_total t_s_firstyear, year_total t_s_secyear,
        |  year_total t_w_firstyear, year_total t_w_secyear
        |WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
        |  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
        |  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
        |  AND t_s_firstyear.sale_type = 's'
        |  AND t_w_firstyear.sale_type = 'w'
        |  AND t_s_secyear.sale_type = 's'
        |  AND t_w_secyear.sale_type = 'w'
        |  AND t_s_firstyear.year_ = 1999
        |  AND t_s_secyear.year_ = 2000
        |  AND t_w_firstyear.year_ = 1999
        |  AND t_w_secyear.year_ = 2000
        |  AND t_s_firstyear.year_total > 0
        |  AND t_w_firstyear.year_total > 0
        |  AND (CASE WHEN t_w_firstyear.year_total > 0
        |        THEN t_w_secyear.year_total / t_w_firstyear.year_total
        |        ELSE null END)
        |    > (CASE WHEN t_s_firstyear.year_total > 0
        |        THEN t_s_secyear.year_total / t_s_firstyear.year_total
        |        ELSE null END)
        |ORDER BY 1, 1, 1
        |LIMIT 100""".stripMargin
      val aliases = Seq("customer_id", "customer_first_name", "customer_last_name")
      val text = s"WITH year_total AS (\n$q74YearTotalBody)\n$q74MainBody"
      val oracle = TpcdsSynth.duckCtePreamble +
        wrapNorm(text.replace("tpcds.", "tpcds_"), aliases, aliases, "customer_id")
      // engine-side structural fix, round 17 (guide §2.4 "remove shuffles
      // outright"; supersedes the round-16 materialize-once, whose eager
      // checkpoint serialized all of year_total before the outer
      // join could start and measured as a 0.91× sf0.1 regression in the
      // r16 driver bench): the 4-way self-join on customer_id is exactly
      // a per-customer PIVOT, because c_customer_id is injective in the
      // customer primary key ('AAAAAAAA' || c_custkey — TpcdsSynth, and
      // the TPC-DS spec's business key), so (customer_id → first, last)
      // is functional and every join side contributes at most one row
      // per (sale_type, year_) — the grain year_total is grouped on.
      // One aggregation over year_total replaces checkpoint + 3 joins:
      // each fact table is scanned ONCE (year_total now has a single
      // consumer, so Spark plans the CTE once inline — the r16 at-scale
      // contract is kept without any materialization barrier).
      // Equivalence of the filters: an inner-join side "exists" iff its
      // pivoted total is non-NULL — a missing row pivots to NULL and a
      // NULL year_total row is excluded by the original predicates too
      // (NULL > 0 and NULL-ratio comparisons are never true); the CASE
      // guards are kept verbatim so a zero first-year total can never
      // divide (ANSI mode). The oracle runs the untouched WITH-text, so
      // the rewrite is machine-checked at every SF.
      QueryDef("tpcds_q74", Some(oracle), (s, dir) => {
        Tables.register(s, dir)
        ensureTpcdsViews(s, dir)
        def fast(sql: String) = sql.replace("tpcds.", "graft_tpcds_")
        import org.apache.spark.sql.functions._
        def tot(st: String, yr: Int) = max(when(
          col("sale_type") === st && col("year_") === yr, col("year_total")))
        val wide = s.sql(fast(q74YearTotalBody))
          .groupBy("customer_id", "customer_first_name", "customer_last_name")
          .agg(tot("s", 1999).as("s_first"), tot("s", 2000).as("s_sec"),
            tot("w", 1999).as("w_first"), tot("w", 2000).as("w_sec"))
        wide.filter(col("s_first") > 0 && col("w_first") > 0 &&
            (when(col("w_first") > 0, col("w_sec") / col("w_first")) >
              when(col("s_first") > 0, col("s_sec") / col("s_first"))))
          .select(col("customer_id"), col("customer_first_name"),
            col("customer_last_name"))
          .orderBy("customer_id").limit(100)
          .orderBy("customer_id")
      })
    },

    // q11: same 4-way self-join over (ext_list_price - ext_discount_amt)
    // revenue with the customer-profile columns carried through the CTE.
    // Round 17: engine side runs the q74 pivot rework (one aggregation
    // over year_total instead of four inlined CTE copies = one scan per
    // fact table; equivalence argument at tpcds_q74 above — customer_id
    // is injective, all carried customer columns are functionally
    // dependent on it). The CTE has no year filter of its own, but only
    // dyear ∈ {1999, 2000} can satisfy any reference, so that filter on
    // year_total (the union of the per-reference filters) reaches
    // date_dim below the aggregation. Oracle runs the untouched
    // WITH-text.
    {
      val q11YearTotalBody = """SELECT c_customer_id AS customer_id,
        |    c_first_name AS customer_first_name,
        |    c_last_name AS customer_last_name,
        |    c_preferred_cust_flag AS customer_preferred_cust_flag,
        |    c_birth_country AS customer_birth_country,
        |    c_login AS customer_login,
        |    c_email_address AS customer_email_address,
        |    d_year AS dyear,
        |    sum(ss_ext_list_price - ss_ext_discount_amt) AS year_total,
        |    's' AS sale_type
        |  FROM tpcds.customer customer, tpcds.store_sales store_sales, tpcds.date_dim date_dim
        |  WHERE c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
        |  GROUP BY c_customer_id, c_first_name, c_last_name,
        |    c_preferred_cust_flag, c_birth_country, c_login,
        |    c_email_address, d_year
        |  UNION ALL
        |  SELECT c_customer_id AS customer_id,
        |    c_first_name AS customer_first_name,
        |    c_last_name AS customer_last_name,
        |    c_preferred_cust_flag AS customer_preferred_cust_flag,
        |    c_birth_country AS customer_birth_country,
        |    c_login AS customer_login,
        |    c_email_address AS customer_email_address,
        |    d_year AS dyear,
        |    sum(ws_ext_list_price - ws_ext_discount_amt) AS year_total,
        |    'w' AS sale_type
        |  FROM tpcds.customer customer, tpcds.web_sales web_sales, tpcds.date_dim date_dim
        |  WHERE c_customer_sk = ws_bill_customer_sk AND ws_sold_date_sk = d_date_sk
        |  GROUP BY c_customer_id, c_first_name, c_last_name,
        |    c_preferred_cust_flag, c_birth_country, c_login,
        |    c_email_address, d_year""".stripMargin
      val q11MainBody = """SELECT t_s_secyear.customer_id, t_s_secyear.customer_first_name,
        |  t_s_secyear.customer_last_name,
        |  t_s_secyear.customer_preferred_cust_flag,
        |  t_s_secyear.customer_birth_country, t_s_secyear.customer_login
        |FROM year_total t_s_firstyear, year_total t_s_secyear,
        |  year_total t_w_firstyear, year_total t_w_secyear
        |WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
        |  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
        |  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
        |  AND t_s_firstyear.sale_type = 's'
        |  AND t_w_firstyear.sale_type = 'w'
        |  AND t_s_secyear.sale_type = 's'
        |  AND t_w_secyear.sale_type = 'w'
        |  AND t_s_firstyear.dyear = 1999
        |  AND t_s_secyear.dyear = 2000
        |  AND t_w_firstyear.dyear = 1999
        |  AND t_w_secyear.dyear = 2000
        |  AND t_s_firstyear.year_total > 0
        |  AND t_w_firstyear.year_total > 0
        |  AND (CASE WHEN t_w_firstyear.year_total > 0
        |        THEN t_w_secyear.year_total / t_w_firstyear.year_total
        |        ELSE null END)
        |    > (CASE WHEN t_s_firstyear.year_total > 0
        |        THEN t_s_secyear.year_total / t_s_firstyear.year_total
        |        ELSE null END)
        |ORDER BY t_s_secyear.customer_id
        |LIMIT 100""".stripMargin
      val aliases = Seq("customer_id", "customer_first_name", "customer_last_name",
        "customer_preferred_cust_flag", "customer_birth_country",
        "customer_login")
      val text = s"WITH year_total AS (\n$q11YearTotalBody)\n$q11MainBody"
      val oracle = TpcdsSynth.duckCtePreamble +
        wrapNorm(text.replace("tpcds.", "tpcds_"), aliases, aliases, "customer_id")
      QueryDef("tpcds_q11", Some(oracle), (s, dir) => {
        Tables.register(s, dir)
        ensureTpcdsViews(s, dir)
        def fast(sql: String) = sql.replace("tpcds.", "graft_tpcds_")
        import org.apache.spark.sql.functions._
        def tot(st: String, yr: Int) = max(when(
          col("sale_type") === st && col("dyear") === yr, col("year_total")))
        // only dyear 1999/2000 can satisfy any of the four references'
        // filters; Catalyst pushes this through the union and the
        // grouping key into date_dim
        val wide = s.sql(fast(q11YearTotalBody)).filter(col("dyear").isin(1999, 2000))
          .groupBy("customer_id", "customer_first_name", "customer_last_name",
            "customer_preferred_cust_flag", "customer_birth_country",
            "customer_login", "customer_email_address")
          .agg(tot("s", 1999).as("s_first"), tot("s", 2000).as("s_sec"),
            tot("w", 1999).as("w_first"), tot("w", 2000).as("w_sec"))
        wide.filter(col("s_first") > 0 && col("w_first") > 0 &&
            (when(col("w_first") > 0, col("w_sec") / col("w_first")) >
              when(col("s_first") > 0, col("s_sec") / col("s_first"))))
          .select(col("customer_id"), col("customer_first_name"),
            col("customer_last_name"), col("customer_preferred_cust_flag"),
            col("customer_birth_country"), col("customer_login"))
          .orderBy("customer_id").limit(100)
          .orderBy("customer_id")
      })
    },

    // q14: cross-channel item INTERSECT + avg-sales scalar CTE + 4-level
    // ROLLUP — the heaviest TPC-DS composite shape. Derived MECHANICALLY
    // from the embedded verbatim text (md5-guarded upstream) with
    // exactly four adaptations: (a) the '${database}.${schema}.store'
    // channel-literal template artifact becomes plain 'store' (the
    // benchto templating leaks into a string literal the two engines
    // would render differently), (b) table refs resolve through the
    // tpcds views, (c) the final ORDER BY gains NULLS FIRST so both
    // engines cut the same top-100 across rollup subtotal rows, and
    // (d) — engine side only — the two shared CTEs are rebuilt from one
    // fact scan each instead of three. The channels are disjoint slices
    // of lineitem with identical derivations (TpcdsSynth.allChannelSalesSql),
    // so avg_sales' UNION ALL of the slices IS the full scan, and
    // cross_items' INTERSECT of per-channel DISTINCT triples ≡ grouping
    // the triples and requiring all three channel flags (GROUP BY and
    // INTERSECT share NULL-collation semantics; the item equality join
    // drops NULL triples either way). The main body runs unchanged:
    // cross_items (three IN-subqueries) runs once through
    // graft.plans.SharedCte, avg_sales (three identical scalar
    // subqueries) once through Spark's scalar-subquery merge. The oracle
    // runs the untouched WITH-text, so both rewrites are machine-checked
    // at every SF. The spec constants (1999-2001, November of 2001) sit
    // inside the fixture epoch.
    {
      val text = replaceExactly(
        replaceExactly(BenchtoTpcdsTexts.q14_1, "'${database}.${schema}.store'", "'store'")
          .replace("${database}.${schema}.", "tpcds."),
        """ORDER BY "channel" ASC, "i_brand_id" ASC, "i_class_id" ASC, "i_category_id" ASC""",
        """ORDER BY "channel" ASC NULLS FIRST, "i_brand_id" ASC NULLS FIRST, "i_class_id" ASC NULLS FIRST, "i_category_id" ASC NULLS FIRST""")
      val aliases = Seq("channel", "i_brand_id", "i_class_id", "i_category_id",
        "sales", "number_sales")
      val norm = Seq("channel", "i_brand_id", "i_class_id", "i_category_id",
        r2("sales"), big("number_sales"))
      val order = "channel, i_brand_id, i_class_id, i_category_id"
      val oracle = TpcdsSynth.duckCtePreamble +
        wrapNorm(text.replace("tpcds.", "tpcds_"), aliases, norm, order)
      // the verbatim WITH-clause ends at its (md5-guarded, stable) main
      // delimiter
      val iMain = text.indexOf("SELECT\n  \"channel\"")
      require(iMain > 0,
        "q14 main delimiter not found — verbatim text changed upstream")
      val engineText = "WITH in_window AS (\n  SELECT s.* FROM (" +
        TpcdsSynth.allChannelSalesSql(b => s"tpcds.base_$b") + ") s,\n" +
        """    graft_tpcds_date_dim d
        |  WHERE s.sold_date_sk = d.d_date_sk AND d.d_year BETWEEN 1999 AND 2001),
        |cross_items AS (
        |  SELECT i_item_sk ss_item_sk FROM graft_tpcds_item, (
        |    SELECT i_brand_id brand_id, i_class_id class_id, i_category_id category_id
        |    FROM in_window, graft_tpcds_item WHERE item_sk = i_item_sk
        |    GROUP BY i_brand_id, i_class_id, i_category_id
        |    HAVING max(CASE WHEN channel = 0 THEN 1 END) = 1
        |      AND max(CASE WHEN channel = 1 THEN 1 END) = 1
        |      AND max(CASE WHEN channel = 2 THEN 1 END) = 1) x
        |  WHERE i_brand_id = brand_id AND i_class_id = class_id
        |    AND i_category_id = category_id),
        |avg_sales AS (
        |  SELECT avg(quantity * list_price) average_sales FROM in_window)
        |""".stripMargin + text.substring(iMain).replace("tpcds.", "graft_tpcds_")
      QueryDef("tpcds_q14", Some(oracle), (s, dir) => {
        Tables.register(s, dir)
        ensureTpcdsViews(s, dir)
        s.sql(wrapNorm(engineText, aliases, norm, order))
      })
    },

    // q04: the FULL three-channel year-over-year 6-way CTE self-join —
    // derived mechanically from the embedded md5-guarded verbatim text
    // with only view refs and the year pair retuned (2001/2002 →
    // 1999/2000; the spec's second year is outside the fixture epoch).
    // Completes the q4/q11/q74 growth-ratio trio. Round 17: engine side
    // runs the q74/q11 pivot rework — SIX inlined year_total copies
    // (two fact scans per channel) become one aggregation over one scan
    // per channel, with the union-of-reference year filter pushed in
    // (equivalence arguments at tpcds_q74; all six pivoted totals must
    // be non-NULL to pass the original predicates, exactly the 6-way
    // inner join's existence requirement). Oracle runs the untouched
    // WITH-text.
    {
      val text = replaceExactly(
        replaceExactly(BenchtoTpcdsTexts.q04.replace("${database}.${schema}.", "tpcds."),
          "\"dyear\" = 2001", "\"dyear\" = 1999", n = 3),
        "\"dyear\" = (2001 + 1)", "\"dyear\" = (1999 + 1)", n = 3)
      val aliases = Seq("customer_id", "customer_first_name",
        "customer_last_name", "customer_preferred_cust_flag")
      val oracle = TpcdsSynth.duckCtePreamble +
        wrapNorm(text.replace("tpcds.", "tpcds_"), aliases, aliases,
          "customer_id")
      val iYt = text.indexOf("year_total AS (") + "year_total AS (".length
      val iMain = text.indexOf("SELECT\n  \"t_s_secyear\"")
      require(iYt > 15 && iMain > iYt,
        "q04 CTE delimiters not found — verbatim text changed upstream")
      val ytBody = text.substring(iYt, iMain).trim.dropRight(1)
      QueryDef("tpcds_q04", Some(oracle), (s, dir) => {
        Tables.register(s, dir)
        ensureTpcdsViews(s, dir)
        def fast(sql: String) = sql.replace("tpcds.", "graft_tpcds_")
        import org.apache.spark.sql.functions._
        def tot(st: String, yr: Int) = max(when(
          col("sale_type") === st && col("dyear") === yr, col("year_total")))
        def ratio(sec: String, first: String) =
          when(col(first) > 0, col(sec) / col(first))
        val wide = s.sql(fast(ytBody)).filter(col("dyear").isin(1999, 2000))
          .groupBy("customer_id", "customer_first_name", "customer_last_name",
            "customer_preferred_cust_flag", "customer_birth_country",
            "customer_login", "customer_email_address")
          .agg(tot("s", 1999).as("s_first"), tot("s", 2000).as("s_sec"),
            tot("c", 1999).as("c_first"), tot("c", 2000).as("c_sec"),
            tot("w", 1999).as("w_first"), tot("w", 2000).as("w_sec"))
        wide.filter(col("s_first") > 0 && col("c_first") > 0 &&
            col("w_first") > 0 &&
            (ratio("c_sec", "c_first") > ratio("s_sec", "s_first")) &&
            (ratio("c_sec", "c_first") > ratio("w_sec", "w_first")))
          .select(col("customer_id"), col("customer_first_name"),
            col("customer_last_name"), col("customer_preferred_cust_flag"))
          .orderBy("customer_id", "customer_first_name",
            "customer_last_name", "customer_preferred_cust_flag").limit(100)
          .orderBy("customer_id")
      })
    },

    // Round-5 widening: with store_returns / promotion / reason /
    // time_dim and the d_dow/d_day_name/store-name domains synthesized,
    // these ten reference texts run VERBATIM with non-empty results —
    // the spec constants ('TN', 'ese', 'reason 28', d_dow = 1, manager 1,
    // the q28/q98 ranges) all land inside the synthesized domains.
    verbatim("tpcds_q01_verbatim", BenchtoTpcdsTexts.q01,
      Seq("c_customer_id"), Seq("c_customer_id"), "c_customer_id"),
    verbatim("tpcds_q07_verbatim", BenchtoTpcdsTexts.q07,
      Seq("i_item_id", "agg1", "agg2", "agg3", "agg4"),
      Seq("i_item_id", r4("agg1"), r4("agg2"), r4("agg3"), r4("agg4")),
      "i_item_id"),
    verbatim("tpcds_q28_verbatim", BenchtoTpcdsTexts.q28,
      Seq("b1_lp", "b1_cnt", "b1_cntd", "b2_lp", "b2_cnt", "b2_cntd",
        "b3_lp", "b3_cnt", "b3_cntd", "b4_lp", "b4_cnt", "b4_cntd",
        "b5_lp", "b5_cnt", "b5_cntd", "b6_lp", "b6_cnt", "b6_cntd"),
      Seq(r4("b1_lp"), big("b1_cnt"), big("b1_cntd"),
        r4("b2_lp"), big("b2_cnt"), big("b2_cntd"),
        r4("b3_lp"), big("b3_cnt"), big("b3_cntd"),
        r4("b4_lp"), big("b4_cnt"), big("b4_cntd"),
        r4("b5_lp"), big("b5_cnt"), big("b5_cntd"),
        r4("b6_lp"), big("b6_cnt"), big("b6_cntd")), ""),
    verbatim("tpcds_q43_verbatim", BenchtoTpcdsTexts.q43,
      Seq("s_store_name", "s_store_id", "sun_sales", "mon_sales",
        "tue_sales", "wed_sales", "thu_sales", "fri_sales", "sat_sales"),
      Seq("s_store_name", "s_store_id", r2("sun_sales"), r2("mon_sales"),
        r2("tue_sales"), r2("wed_sales"), r2("thu_sales"), r2("fri_sales"),
        r2("sat_sales")),
      "s_store_name, s_store_id"),
    verbatim("tpcds_q52_verbatim", BenchtoTpcdsTexts.q52,
      Seq("d_year", "brand_id", "brand", "ext_price"),
      Seq("d_year", "brand_id", "brand", r2("ext_price")),
      "d_year, ext_price DESC, brand_id, brand"),
    verbatim("tpcds_q79_verbatim", BenchtoTpcdsTexts.q79,
      Seq("c_last_name", "c_first_name", "city30", "ss_ticket_number",
        "amt", "profit"),
      Seq("c_last_name", "c_first_name", "city30", "ss_ticket_number",
        r2("amt"), r2("profit")),
      "c_last_name, c_first_name, city30, profit, amt, ss_ticket_number"),
    verbatim("tpcds_q88_verbatim", BenchtoTpcdsTexts.q88,
      Seq("h8_30_to_9", "h9_to_9_30", "h9_30_to_10", "h10_to_10_30",
        "h10_30_to_11", "h11_to_11_30", "h11_30_to_12", "h12_to_12_30"),
      Seq(big("h8_30_to_9"), big("h9_to_9_30"), big("h9_30_to_10"),
        big("h10_to_10_30"), big("h10_30_to_11"), big("h11_to_11_30"),
        big("h11_30_to_12"), big("h12_to_12_30")), ""),
    verbatim("tpcds_q93_verbatim", BenchtoTpcdsTexts.q93,
      Seq("ss_customer_sk", "sumsales"),
      Seq("ss_customer_sk", r2("sumsales")),
      "sumsales, ss_customer_sk"),
    verbatim("tpcds_q96_verbatim", BenchtoTpcdsTexts.q96,
      Seq("cnt"), Seq(big("cnt")), ""),
    verbatim("tpcds_q26_verbatim", BenchtoTpcdsTexts.q26,
      Seq("i_item_id", "agg1", "agg2", "agg3", "agg4"),
      Seq("i_item_id", r4("agg1"), r4("agg2"), r4("agg3"), r4("agg4")),
      "i_item_id"),
    // q59: week-over-year sales ratios — both 12-month windows (month_seq
    // 1212..1223 vs 1224..1235) sit inside the synthesized 1200..1283
    // domain, so the text runs verbatim with real ratio rows. Ratios
    // normalize at 6dp (Spark's decimal division quantizes there).
    verbatim("tpcds_q59_verbatim", BenchtoTpcdsTexts.q59,
      Seq("s_store_name1", "s_store_id1", "d_week_seq1", "r_sun", "r_mon",
        "r_tue", "r_wed", "r_thu", "r_fri", "r_sat"),
      Seq("s_store_name1", "s_store_id1", "d_week_seq1", r6("r_sun"),
        r6("r_mon"), r6("r_tue"), r6("r_wed"), r6("r_thu"), r6("r_fri"),
        r6("r_sat")),
      "s_store_name1, s_store_id1, d_week_seq1"),
    // q61: promo share of category sales. 'Jewelry' is outside the
    // synthesized category domain, so the verbatim row is an honest
    // all-NULL single row (both engines agree); the adapted twin below
    // runs the same shape over 'Books' with real values.
    verbatim("tpcds_q61_verbatim", BenchtoTpcdsTexts.q61,
      Seq("promotions", "total", "ratio"),
      Seq(r2("promotions"), r2("total"), r6("ratio")), ""),
    // q23: best-customer cross-channel CTE chain (frequent items,
    // max-store-sales scalar, 50%-of-max best customers, then February
    // catalog+web revenue from those customers on those items). The
    // year list 2000..2003 overlaps the epoch's 2000-2001, so the CTEs
    // select real rows; single-row output, no LIMIT-cut exposure. The
    // verbatim text's count(*) > 4 frequency bar exceeds the fixture's
    // max same-item-same-day repeat (2), so its answer is an honest
    // NULL — the adapted twin lowers the bar to > 1 and returns real
    // revenue through the whole chain.
    verbatim("tpcds_q23_verbatim", BenchtoTpcdsTexts.q23_1,
      Seq("total_sales"), Seq(r2("total_sales")), ""),
    adapted("tpcds_q23",
      replaceExactly(BenchtoTpcdsTexts.q23_1, "\"count\"(*) > 4", "\"count\"(*) > 1")
        .replace("${database}.${schema}.", "tpcds."),
      Seq("total_sales"), Seq(r2("total_sales")), ""),
    // q33/q60: three-channel UNION-by-category family — every constant
    // (Electronics/Music, 1998, ca_gmt_offset -5) sits inside the
    // synthesized domains. q33 groups by manufact_id (≤ 50 rows, under
    // the LIMIT — no cut exposure); q60 orders by its unique group key.
    verbatim("tpcds_q33_verbatim", BenchtoTpcdsTexts.q33,
      Seq("i_manufact_id", "total_sales"),
      Seq("i_manufact_id", r2("total_sales")),
      "i_manufact_id"),
    verbatim("tpcds_q60_verbatim", BenchtoTpcdsTexts.q60,
      Seq("i_item_id", "total_sales"),
      Seq("i_item_id", r2("total_sales")),
      "i_item_id"),
    // q69: EXISTS + double-NOT-EXISTS demographics (the anti-join twin
    // of q10) — 'NM' lands in the synthesized state domain and the
    // April-June 2001 window is inside the epoch; ORDER covers all five
    // group keys, so the LIMIT cut is total.
    verbatim("tpcds_q69_verbatim", BenchtoTpcdsTexts.q69,
      Seq("cd_gender", "cd_marital_status", "cd_education_status", "cnt1",
        "cd_purchase_estimate", "cnt2", "cd_credit_rating", "cnt3"),
      Seq("cd_gender", "cd_marital_status", "cd_education_status",
        big("cnt1"), "cd_purchase_estimate", big("cnt2"),
        "cd_credit_rating", big("cnt3")),
      "cd_gender, cd_marital_status, cd_education_status, " +
        "cd_purchase_estimate, cd_credit_rating"),
    verbatim("tpcds_q98_verbatim", BenchtoTpcdsTexts.q98,
      Seq("i_item_id", "i_item_desc", "i_category", "i_class",
        "i_current_price", "itemrevenue", "revenueratio"),
      // revenueratio normalizes at 6dp, not 4: Spark's decimal division
      // already rounds the ratio to scale 6 (HALF_UP), so a 4dp nudge can
      // land the two engines on opposite sides of a .xxxx5 boundary —
      // rounding both at the SAME granularity Spark quantized to aligns them
      Seq("i_item_id", "i_item_desc", "i_category", "i_class",
        "i_current_price", r2("itemrevenue"), r6("revenueratio")),
      "i_category, i_class, i_item_id, i_item_desc"),

    // ── round-6 verbatim batch ────────────────────────────────────────
    // Real rows under the spec's own constants: q47 (the rank-lag/lead
    // window family — s_company_name now synthesized), q70 (rank-in-
    // subquery rollup; month_seq 1200-1211 is the fixture's first year),
    // q97 (basket overlap census, same window). Honest empties with
    // fixture-tuned adapted twins below: q32/q37 (manufact 977 / price
    // band 68-98 sit outside the synthesized domains), q44 (the spec's
    // ss_addr_sk IS NULL baseline has no synthesized nulls → NULL
    // threshold), q89 (spec class lists don't intersect the synthesized
    // class domain).
    verbatim("tpcds_q32_verbatim", BenchtoTpcdsTexts.q32,
      Seq("excess_discount_amount"), Seq(r2("excess_discount_amount")), ""),
    verbatim("tpcds_q37_verbatim", BenchtoTpcdsTexts.q37,
      Seq("i_item_id", "i_item_desc", "i_current_price"),
      Seq("i_item_id", "i_item_desc", r2("i_current_price")),
      "i_item_id"),
    verbatim("tpcds_q44_verbatim", BenchtoTpcdsTexts.q44,
      Seq("rnk", "best_performing", "worst_performing"),
      Seq(big("rnk"), "best_performing", "worst_performing"),
      "rnk"),
    verbatim("tpcds_q47_verbatim", BenchtoTpcdsTexts.q47,
      Seq("i_category", "i_brand", "s_store_name", "s_company_name",
        "d_year", "d_moy", "avg_monthly_sales", "sum_sales", "psum", "nsum"),
      Seq("i_category", "i_brand", "s_store_name", "s_company_name",
        "d_year", "d_moy", r2("avg_monthly_sales"), r2("sum_sales"),
        r2("psum"), r2("nsum")),
      "i_category, i_brand, s_store_name, d_year, d_moy"),
    verbatim("tpcds_q70_verbatim", BenchtoTpcdsTexts.q70,
      Seq("total_sum", "s_state", "s_county", "lochierarchy",
        "rank_within_parent"),
      Seq(r2("total_sum"), "s_state", "s_county", big("lochierarchy"),
        big("rank_within_parent")),
      "lochierarchy DESC, s_state NULLS FIRST, s_county NULLS FIRST"),
    verbatim("tpcds_q89_verbatim", BenchtoTpcdsTexts.q89,
      Seq("i_category", "i_class", "i_brand", "s_store_name",
        "s_company_name", "d_moy", "sum_sales", "avg_monthly_sales"),
      Seq("i_category", "i_class", "i_brand", "s_store_name",
        "s_company_name", "d_moy", r2("sum_sales"), r2("avg_monthly_sales")),
      "i_category, i_class, i_brand, s_store_name, d_moy"),
    verbatim("tpcds_q97_verbatim", BenchtoTpcdsTexts.q97,
      Seq("store_only", "catalog_only", "store_and_catalog"),
      Seq(big("store_only"), big("catalog_only"), big("store_and_catalog")),
      ""),

    // ── round-6 widening: twelve more reference families ─────────────
    // (reference texts presto-benchto-benchmarks/.../tpcds/qNN.sql; same
    // adaptation discipline as above — structure kept, constants tuned
    // into the synthesized domains, total ORDER under LIMIT, NULLS FIRST
    // where rollup/outer-join nulls can reach an ordering key.)

    // q47: rank-indexed lag/lead self-join around the monthly category
    // average — the richest window family (rank + windowed avg + a
    // 3-way self-join on rank±1). s_company_name (constant in the spec
    // data) is dropped from the synthesized store; d_year 2000 with the
    // flanking months of 1999/2001 per the reference.
    adapted("tpcds_q47",
      """WITH v1 AS (
        |  SELECT i_category, i_brand, s_store_name, d_year, d_moy,
        |    sum(ss_sales_price) sum_sales,
        |    avg(sum(ss_sales_price)) OVER
        |      (PARTITION BY i_category, i_brand, s_store_name, d_year) avg_monthly_sales,
        |    rank() OVER
        |      (PARTITION BY i_category, i_brand, s_store_name
        |       ORDER BY d_year, d_moy) rn
        |  FROM tpcds.item, tpcds.store_sales, tpcds.date_dim, tpcds.store
        |  WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
        |    AND ss_store_sk = s_store_sk
        |    AND (d_year = 2000 OR (d_year = 1999 AND d_moy = 12)
        |         OR (d_year = 2001 AND d_moy = 1))
        |  GROUP BY i_category, i_brand, s_store_name, d_year, d_moy
        |),
        |v2 AS (
        |  SELECT v1.i_category, v1.i_brand, v1.s_store_name, v1.d_year,
        |    v1.d_moy, v1.avg_monthly_sales, v1.sum_sales,
        |    v1_lag.sum_sales psum, v1_lead.sum_sales nsum
        |  FROM v1, v1 v1_lag, v1 v1_lead
        |  WHERE v1.i_category = v1_lag.i_category
        |    AND v1.i_category = v1_lead.i_category
        |    AND v1.i_brand = v1_lag.i_brand AND v1.i_brand = v1_lead.i_brand
        |    AND v1.s_store_name = v1_lag.s_store_name
        |    AND v1.s_store_name = v1_lead.s_store_name
        |    AND v1.rn = v1_lag.rn + 1 AND v1.rn = v1_lead.rn - 1
        |)
        |SELECT i_category, i_brand, s_store_name, d_year, d_moy,
        |  avg_monthly_sales, sum_sales, psum, nsum
        |FROM v2
        |WHERE d_year = 2000 AND avg_monthly_sales > 0
        |  AND CASE WHEN avg_monthly_sales > 0
        |      THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
        |      ELSE NULL END > 0.1
        |ORDER BY sum_sales - avg_monthly_sales, i_category, i_brand,
        |  s_store_name, d_moy
        |LIMIT 100""".stripMargin,
      Seq("i_category", "i_brand", "s_store_name", "d_year", "d_moy",
        "avg_monthly_sales", "sum_sales", "psum", "nsum"),
      Seq("i_category", "i_brand", "s_store_name", "d_year", "d_moy",
        r2("avg_monthly_sales"), r2("sum_sales"), r2("psum"), r2("nsum")),
      "i_category, i_brand, s_store_name, d_year, d_moy"),

    // q44: best/worst item net-profit ranks at one store, joined on the
    // rank. Adaptations beyond the usual: the spec's baseline filter
    // `ss_addr_sk IS NULL` (a null-skew artifact of the official
    // generator) has no synthesized twin — a deterministic hdemo slice
    // stands in; and the rank input is rounded with item_sk as a
    // tiebreak so an LSB-level average can't flip ranks between engines.
    adapted("tpcds_q44",
      """SELECT asceding.rnk, i1.i_product_name best_performing,
        |  i2.i_product_name worst_performing
        |FROM
        |  (SELECT item_sk, rnk FROM
        |    (SELECT item_sk, rank() OVER (ORDER BY rank_col, item_sk) rnk
        |     FROM (SELECT ss_item_sk item_sk,
        |             round(avg(ss_net_profit), 4) rank_col
        |           FROM tpcds.store_sales
        |           WHERE ss_store_sk = 4
        |           GROUP BY ss_item_sk
        |           HAVING avg(ss_net_profit) > 0.9 * (
        |             SELECT avg(ss_net_profit) rank_col
        |             FROM tpcds.store_sales
        |             WHERE ss_store_sk = 4 AND ss_hdemo_sk % 11 = 7
        |             GROUP BY ss_store_sk)) v1) v11
        |   WHERE rnk < 11) asceding,
        |  (SELECT item_sk, rnk FROM
        |    (SELECT item_sk, rank() OVER (ORDER BY rank_col DESC, item_sk) rnk
        |     FROM (SELECT ss_item_sk item_sk,
        |             round(avg(ss_net_profit), 4) rank_col
        |           FROM tpcds.store_sales
        |           WHERE ss_store_sk = 4
        |           GROUP BY ss_item_sk
        |           HAVING avg(ss_net_profit) > 0.9 * (
        |             SELECT avg(ss_net_profit) rank_col
        |             FROM tpcds.store_sales
        |             WHERE ss_store_sk = 4 AND ss_hdemo_sk % 11 = 7
        |             GROUP BY ss_store_sk)) v2) v21
        |   WHERE rnk < 11) descending,
        |  tpcds.item i1, tpcds.item i2
        |WHERE asceding.rnk = descending.rnk
        |  AND i1.i_item_sk = asceding.item_sk
        |  AND i2.i_item_sk = descending.item_sk
        |ORDER BY asceding.rnk
        |LIMIT 100""".stripMargin,
      Seq("rnk", "best_performing", "worst_performing"),
      Seq(big("rnk"), "best_performing", "worst_performing"),
      "rnk"),

    // q31: county-level quarter-over-quarter share growth — six CTE
    // instances (store q1-q3, web q1-q3) joined on county, web growth
    // required to outpace store growth in both steps.
    adapted("tpcds_q31",
      """WITH ss AS (
        |  SELECT ca_county, d_qoy, d_year,
        |    sum(ss_ext_sales_price) store_sales
        |  FROM tpcds.store_sales, tpcds.date_dim, tpcds.customer_address
        |  WHERE ss_sold_date_sk = d_date_sk AND ss_addr_sk = ca_address_sk
        |  GROUP BY ca_county, d_qoy, d_year
        |),
        |ws AS (
        |  SELECT ca_county, d_qoy, d_year,
        |    sum(ws_ext_sales_price) web_sales
        |  FROM tpcds.web_sales, tpcds.date_dim, tpcds.customer_address
        |  WHERE ws_sold_date_sk = d_date_sk AND ws_bill_addr_sk = ca_address_sk
        |  GROUP BY ca_county, d_qoy, d_year
        |)
        |SELECT ss1.ca_county, ss1.d_year,
        |  CAST(ws2.web_sales AS DOUBLE) / ws1.web_sales web_q1_q2_increase,
        |  CAST(ss2.store_sales AS DOUBLE) / ss1.store_sales store_q1_q2_increase,
        |  CAST(ws3.web_sales AS DOUBLE) / ws2.web_sales web_q2_q3_increase,
        |  CAST(ss3.store_sales AS DOUBLE) / ss2.store_sales store_q2_q3_increase
        |FROM ss ss1, ss ss2, ss ss3, ws ws1, ws ws2, ws ws3
        |WHERE ss1.d_qoy = 1 AND ss1.d_year = 2000
        |  AND ss1.ca_county = ss2.ca_county AND ss2.d_qoy = 2 AND ss2.d_year = 2000
        |  AND ss2.ca_county = ss3.ca_county AND ss3.d_qoy = 3 AND ss3.d_year = 2000
        |  AND ss1.ca_county = ws1.ca_county AND ws1.d_qoy = 1 AND ws1.d_year = 2000
        |  AND ws1.ca_county = ws2.ca_county AND ws2.d_qoy = 2 AND ws2.d_year = 2000
        |  AND ws1.ca_county = ws3.ca_county AND ws3.d_qoy = 3 AND ws3.d_year = 2000
        |  AND CASE WHEN ws1.web_sales > 0
        |      THEN CAST(ws2.web_sales AS DOUBLE) / ws1.web_sales ELSE NULL END
        |    > CASE WHEN ss1.store_sales > 0
        |      THEN CAST(ss2.store_sales AS DOUBLE) / ss1.store_sales ELSE NULL END
        |  AND CASE WHEN ws2.web_sales > 0
        |      THEN CAST(ws3.web_sales AS DOUBLE) / ws2.web_sales ELSE NULL END
        |    > CASE WHEN ss2.store_sales > 0
        |      THEN CAST(ss3.store_sales AS DOUBLE) / ss2.store_sales ELSE NULL END
        |ORDER BY ss1.ca_county""".stripMargin,
      Seq("ca_county", "d_year", "web_q1_q2_increase", "store_q1_q2_increase",
        "web_q2_q3_increase", "store_q2_q3_increase"),
      Seq("ca_county", "d_year", r6("web_q1_q2_increase"),
        r6("store_q1_q2_increase"), r6("web_q2_q3_increase"),
        r6("store_q2_q3_increase")),
      "ca_county"),

    // q32: catalog discounts more than 1.3× the same item's 90-day
    // average — the correlated-scalar-threshold family. i_manufact_id
    // retuned into the synthesized 0..49 domain; the 90-day window is
    // spelled as closed date literals (the one INTERVAL spelling both
    // dialects share).
    adapted("tpcds_q32",
      """SELECT sum(cs_ext_discount_amt) excess_discount_amount
        |FROM tpcds.catalog_sales, tpcds.item, tpcds.date_dim
        |WHERE i_manufact_id = 28 AND i_item_sk = cs_item_sk
        |  AND d_date BETWEEN DATE '1999-01-07' AND DATE '1999-04-07'
        |  AND d_date_sk = cs_sold_date_sk
        |  AND cs_ext_discount_amt > (
        |    SELECT 1.3 * avg(cs_ext_discount_amt)
        |    FROM tpcds.catalog_sales, tpcds.date_dim
        |    WHERE cs_item_sk = i_item_sk
        |      AND d_date BETWEEN DATE '1999-01-07' AND DATE '1999-04-07'
        |      AND d_date_sk = cs_sold_date_sk)
        |LIMIT 100""".stripMargin,
      Seq("excess_discount_amount"), Seq(r2("excess_discount_amount")), ""),

    // q37: item price-band × inventory-level × catalog-demand — the
    // inventory-gated item report. i_current_price band retuned to the
    // fixture's retail-price range (spec's 20..50 selects nothing).
    adapted("tpcds_q37",
      """SELECT i_item_id, i_item_desc, i_current_price
        |FROM tpcds.item, tpcds.inventory, tpcds.date_dim, tpcds.catalog_sales
        |WHERE i_current_price BETWEEN 950 AND 1100
        |  AND inv_item_sk = i_item_sk AND d_date_sk = inv_date_sk
        |  AND d_date BETWEEN DATE '1996-02-01' AND DATE '1996-04-01'
        |  AND i_manufact_id IN (10, 20, 30, 40)
        |  AND inv_quantity_on_hand BETWEEN 100 AND 500
        |  AND cs_item_sk = i_item_sk
        |GROUP BY i_item_id, i_item_desc, i_current_price
        |ORDER BY i_item_id
        |LIMIT 100""".stripMargin,
      Seq("i_item_id", "i_item_desc", "i_current_price"),
      Seq("i_item_id", "i_item_desc", r2("i_current_price")),
      "i_item_id"),

    // q39: inventory coefficient-of-variation month-over-month self-join
    // (stddev_samp / mean per item × warehouse × month, high-cov in both
    // January and February) — the statistical-aggregate family over the
    // synthesized weekly inventory snapshots. The spec's cov > 1 bar
    // assumes the official generator's i.i.d.-uniform quantities, whose
    // small-mean groups our modular derivation can't produce (4-5 evenly
    // spread samples keep mean ≳ stdev); 0.7 is the same tail selection
    // (48 of ~24k groups at sf0.01) inside the synthesized dispersion.
    adapted("tpcds_q39",
      """WITH inv AS (
        |  SELECT w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy,
        |    stdev, mean,
        |    CASE mean WHEN 0 THEN NULL ELSE stdev / mean END cov
        |  FROM (SELECT w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy,
        |          stddev_samp(inv_quantity_on_hand) stdev,
        |          avg(inv_quantity_on_hand) mean
        |        FROM tpcds.inventory, tpcds.item, tpcds.warehouse,
        |          tpcds.date_dim
        |        WHERE inv_item_sk = i_item_sk
        |          AND inv_warehouse_sk = w_warehouse_sk
        |          AND inv_date_sk = d_date_sk AND d_year = 1995
        |        GROUP BY w_warehouse_name, w_warehouse_sk, i_item_sk,
        |          d_moy) foo
        |  WHERE CASE mean WHEN 0 THEN 0 ELSE stdev / mean END > 0.7
        |)
        |SELECT inv1.w_warehouse_sk wsk1, inv1.i_item_sk isk1,
        |  inv1.d_moy moy1, inv1.cov cov1,
        |  inv2.w_warehouse_sk wsk2, inv2.i_item_sk isk2,
        |  inv2.d_moy moy2, inv2.cov cov2
        |FROM inv inv1, inv inv2
        |WHERE inv1.i_item_sk = inv2.i_item_sk
        |  AND inv1.w_warehouse_sk = inv2.w_warehouse_sk
        |  AND inv1.d_moy = 1 AND inv2.d_moy = 2
        |ORDER BY inv1.w_warehouse_sk, inv1.i_item_sk""".stripMargin,
      Seq("wsk1", "isk1", "moy1", "cov1", "wsk2", "isk2", "moy2", "cov2"),
      Seq("wsk1", "isk1", "moy1", r6("cov1"), "wsk2", "isk2", "moy2",
        r6("cov2")),
      "wsk1, isk1"),

    // q58: items whose revenue is within ±10% of each other across ALL
    // THREE channels — the nested-scalar date anchor plus six BETWEEN
    // share bounds. The spec anchors on one d_week_seq; at the fixture's
    // density a single week holds ~1 line per item per channel and the
    // three-way ±10% match is empty, so the anchor widens to the
    // anchor date's d_year (same nested-scalar shape, reference bounds
    // kept intact — 3 real rows at sf0.01).
    adapted("tpcds_q58",
      """WITH ss_items AS (
        |  SELECT i_item_id item_id, sum(ss_ext_sales_price) ss_item_rev
        |  FROM tpcds.store_sales, tpcds.item, tpcds.date_dim
        |  WHERE ss_item_sk = i_item_sk
        |    AND d_date IN (SELECT d_date FROM tpcds.date_dim
        |                   WHERE d_year = (SELECT d_year
        |                     FROM tpcds.date_dim
        |                     WHERE d_date = DATE '2000-01-03'))
        |    AND ss_sold_date_sk = d_date_sk
        |  GROUP BY i_item_id
        |),
        |cs_items AS (
        |  SELECT i_item_id item_id, sum(cs_ext_sales_price) cs_item_rev
        |  FROM tpcds.catalog_sales, tpcds.item, tpcds.date_dim
        |  WHERE cs_item_sk = i_item_sk
        |    AND d_date IN (SELECT d_date FROM tpcds.date_dim
        |                   WHERE d_year = (SELECT d_year
        |                     FROM tpcds.date_dim
        |                     WHERE d_date = DATE '2000-01-03'))
        |    AND cs_sold_date_sk = d_date_sk
        |  GROUP BY i_item_id
        |),
        |ws_items AS (
        |  SELECT i_item_id item_id, sum(ws_ext_sales_price) ws_item_rev
        |  FROM tpcds.web_sales, tpcds.item, tpcds.date_dim
        |  WHERE ws_item_sk = i_item_sk
        |    AND d_date IN (SELECT d_date FROM tpcds.date_dim
        |                   WHERE d_year = (SELECT d_year
        |                     FROM tpcds.date_dim
        |                     WHERE d_date = DATE '2000-01-03'))
        |    AND ws_sold_date_sk = d_date_sk
        |  GROUP BY i_item_id
        |)
        |SELECT ss_items.item_id, ss_item_rev,
        |  CAST(ss_item_rev AS DOUBLE)
        |    / ((ss_item_rev + cs_item_rev + ws_item_rev) / 3) * 100 ss_dev,
        |  cs_item_rev,
        |  CAST(cs_item_rev AS DOUBLE)
        |    / ((ss_item_rev + cs_item_rev + ws_item_rev) / 3) * 100 cs_dev,
        |  ws_item_rev,
        |  CAST(ws_item_rev AS DOUBLE)
        |    / ((ss_item_rev + cs_item_rev + ws_item_rev) / 3) * 100 ws_dev,
        |  (ss_item_rev + cs_item_rev + ws_item_rev) / 3 average
        |FROM ss_items, cs_items, ws_items
        |WHERE ss_items.item_id = cs_items.item_id
        |  AND ss_items.item_id = ws_items.item_id
        |  AND ss_item_rev BETWEEN 0.9 * cs_item_rev AND 1.1 * cs_item_rev
        |  AND ss_item_rev BETWEEN 0.9 * ws_item_rev AND 1.1 * ws_item_rev
        |  AND cs_item_rev BETWEEN 0.9 * ss_item_rev AND 1.1 * ss_item_rev
        |  AND cs_item_rev BETWEEN 0.9 * ws_item_rev AND 1.1 * ws_item_rev
        |  AND ws_item_rev BETWEEN 0.9 * ss_item_rev AND 1.1 * ss_item_rev
        |  AND ws_item_rev BETWEEN 0.9 * cs_item_rev AND 1.1 * cs_item_rev
        |ORDER BY ss_items.item_id, ss_item_rev
        |LIMIT 100""".stripMargin,
      Seq("item_id", "ss_item_rev", "ss_dev", "cs_item_rev", "cs_dev",
        "ws_item_rev", "ws_dev", "average"),
      Seq("item_id", r2("ss_item_rev"), r4("ss_dev"), r2("cs_item_rev"),
        r4("cs_dev"), r2("ws_item_rev"), r4("ws_dev"), r2("average")),
      "item_id"),

    // q70: state/county profit ROLLUP whose state list is itself a
    // rank-window subquery, ranked within each rollup level via
    // GROUPING() in a window PARTITION BY — the
    // window-over-grouping-sets family.
    adapted("tpcds_q70",
      """SELECT sum(ss_net_profit) total_sum, s_state, s_county,
        |  grouping(s_state) + grouping(s_county) lochierarchy,
        |  rank() OVER (
        |    PARTITION BY grouping(s_state) + grouping(s_county),
        |      CASE WHEN grouping(s_county) = 0 THEN s_state END
        |    ORDER BY sum(ss_net_profit) DESC, s_state, s_county) rank_within_parent
        |FROM tpcds.store_sales, tpcds.date_dim d1, tpcds.store
        |WHERE d1.d_month_seq BETWEEN 1260 AND 1271
        |  AND d1.d_date_sk = ss_sold_date_sk
        |  AND s_store_sk = ss_store_sk
        |  AND s_state IN (
        |    SELECT s_state FROM (
        |      SELECT s_state s_state, rank() OVER
        |        (PARTITION BY s_state
        |         ORDER BY sum(ss_net_profit) DESC) ranking
        |      FROM tpcds.store_sales, tpcds.store, tpcds.date_dim
        |      WHERE d_month_seq BETWEEN 1260 AND 1271
        |        AND d_date_sk = ss_sold_date_sk
        |        AND s_store_sk = ss_store_sk
        |      GROUP BY s_state) tmp1
        |    WHERE ranking <= 5)
        |GROUP BY ROLLUP (s_state, s_county)
        |ORDER BY lochierarchy DESC,
        |  CASE WHEN grouping(s_state) + grouping(s_county) = 0
        |    THEN s_state END NULLS FIRST,
        |  rank_within_parent, s_state NULLS FIRST, s_county NULLS FIRST
        |LIMIT 100""".stripMargin,
      Seq("total_sum", "s_state", "s_county", "lochierarchy",
        "rank_within_parent"),
      Seq(r2("total_sum"), "s_state", "s_county", big("lochierarchy"),
        big("rank_within_parent")),
      "lochierarchy DESC, s_state NULLS FIRST, s_county NULLS FIRST"),

    // q75: year-over-year unit-count decline by brand/class/category/
    // manufacturer across ALL THREE channels, each net of its returns
    // (sales LEFT JOIN returns on order+item) — the returns-aware
    // UNION + self-join family, over the round-6 synthesized
    // catalog_returns / web_returns. `prev.sales_cnt <> 0` guards the
    // ANSI-mode ratio (a fully-returned group would divide by zero on
    // both engines). The twice-referenced all_sales CTE is shared by
    // graft.plans.SharedCte, with the references' d_year filters pushed
    // into it as their disjunction.
    adapted("tpcds_q75",
      """WITH all_sales AS (
        |SELECT d_year, i_brand_id, i_class_id, i_category_id,
        |    i_manufact_id, sum(sales_cnt) sales_cnt, sum(sales_amt) sales_amt
        |  FROM (
        |    SELECT d_year, i_brand_id, i_class_id, i_category_id,
        |      i_manufact_id,
        |      cs_quantity - COALESCE(cr_return_quantity, 0) sales_cnt,
        |      cs_ext_sales_price - COALESCE(cr_return_amount, 0.0) sales_amt
        |    FROM tpcds.catalog_sales
        |    JOIN tpcds.item ON i_item_sk = cs_item_sk
        |    JOIN tpcds.date_dim ON d_date_sk = cs_sold_date_sk
        |    LEFT JOIN tpcds.catalog_returns
        |      ON cs_order_number = cr_order_number AND cs_item_sk = cr_item_sk
        |    WHERE i_category = 'Books'
        |    UNION
        |    SELECT d_year, i_brand_id, i_class_id, i_category_id,
        |      i_manufact_id,
        |      ss_quantity - COALESCE(sr_return_quantity, 0) sales_cnt,
        |      ss_ext_sales_price - COALESCE(sr_return_amt, 0.0) sales_amt
        |    FROM tpcds.store_sales
        |    JOIN tpcds.item ON i_item_sk = ss_item_sk
        |    JOIN tpcds.date_dim ON d_date_sk = ss_sold_date_sk
        |    LEFT JOIN tpcds.store_returns
        |      ON ss_ticket_number = sr_ticket_number AND ss_item_sk = sr_item_sk
        |    WHERE i_category = 'Books'
        |    UNION
        |    SELECT d_year, i_brand_id, i_class_id, i_category_id,
        |      i_manufact_id,
        |      ws_quantity - COALESCE(wr_return_quantity, 0) sales_cnt,
        |      ws_ext_sales_price - COALESCE(wr_return_amt, 0.0) sales_amt
        |    FROM tpcds.web_sales
        |    JOIN tpcds.item ON i_item_sk = ws_item_sk
        |    JOIN tpcds.date_dim ON d_date_sk = ws_sold_date_sk
        |    LEFT JOIN tpcds.web_returns
        |      ON ws_order_number = wr_order_number AND ws_item_sk = wr_item_sk
        |    WHERE i_category = 'Books') sales_detail
        |  GROUP BY d_year, i_brand_id, i_class_id, i_category_id,
        |    i_manufact_id
        |)
        |SELECT prev_yr.d_year prev_year, curr_yr.d_year curr_year,
        |  curr_yr.i_brand_id, curr_yr.i_class_id, curr_yr.i_category_id,
        |  curr_yr.i_manufact_id,
        |  prev_yr.sales_cnt prev_yr_cnt, curr_yr.sales_cnt curr_yr_cnt,
        |  curr_yr.sales_cnt - prev_yr.sales_cnt sales_cnt_diff,
        |  curr_yr.sales_amt - prev_yr.sales_amt sales_amt_diff
        |FROM all_sales curr_yr, all_sales prev_yr
        |WHERE curr_yr.i_brand_id = prev_yr.i_brand_id
        |  AND curr_yr.i_class_id = prev_yr.i_class_id
        |  AND curr_yr.i_category_id = prev_yr.i_category_id
        |  AND curr_yr.i_manufact_id = prev_yr.i_manufact_id
        |  AND curr_yr.d_year = 2000 AND prev_yr.d_year = 1999
        |  AND prev_yr.sales_cnt <> 0
        |  AND CAST(curr_yr.sales_cnt AS DOUBLE)
        |    / CAST(prev_yr.sales_cnt AS DOUBLE) < 0.9
        |ORDER BY sales_cnt_diff, curr_yr.i_brand_id, curr_yr.i_class_id,
        |  curr_yr.i_category_id, curr_yr.i_manufact_id
        |LIMIT 100""".stripMargin,
      Seq("prev_year", "curr_year", "i_brand_id", "i_class_id",
        "i_category_id", "i_manufact_id", "prev_yr_cnt", "curr_yr_cnt",
        "sales_cnt_diff", "sales_amt_diff"),
      Seq("prev_year", "curr_year", "i_brand_id", "i_class_id",
        "i_category_id", "i_manufact_id", big("prev_yr_cnt"),
        big("curr_yr_cnt"), big("sales_cnt_diff"), r2("sales_amt_diff")),
      "i_brand_id, i_class_id, i_category_id, i_manufact_id"),

    // q30: customers whose web-return total beats 1.2× their state's
    // average — the correlated state-average family over the round-6
    // web_returns (the spec's c_last_review_date column has no
    // synthesized twin and is dropped from the output).
    adapted("tpcds_q30",
      """WITH customer_total_return AS (
        |  SELECT wr_returning_customer_sk ctr_customer_sk,
        |    ca_state ctr_state, sum(wr_return_amt) ctr_total_return
        |  FROM tpcds.web_returns, tpcds.date_dim, tpcds.customer_address
        |  WHERE wr_returned_date_sk = d_date_sk AND d_year = 2000
        |    AND wr_returning_addr_sk = ca_address_sk
        |  GROUP BY wr_returning_customer_sk, ca_state
        |)
        |SELECT c_customer_id, c_salutation, c_first_name, c_last_name,
        |  c_preferred_cust_flag, c_birth_day, c_birth_month, c_birth_year,
        |  c_birth_country, c_login, c_email_address, ctr_total_return
        |FROM customer_total_return ctr1, tpcds.customer_address,
        |  tpcds.customer
        |WHERE ctr1.ctr_total_return > (
        |    SELECT avg(ctr_total_return) * 1.2
        |    FROM customer_total_return ctr2
        |    WHERE ctr1.ctr_state = ctr2.ctr_state)
        |  AND ca_address_sk = c_current_addr_sk AND ca_state = 'CA'
        |  AND ctr1.ctr_customer_sk = c_customer_sk
        |ORDER BY c_customer_id, ctr_total_return
        |LIMIT 100""".stripMargin,
      Seq("c_customer_id", "c_salutation", "c_first_name", "c_last_name",
        "c_preferred_cust_flag", "c_birth_day", "c_birth_month",
        "c_birth_year", "c_birth_country", "c_login", "c_email_address",
        "ctr_total_return"),
      Seq("c_customer_id", "c_salutation", "c_first_name", "c_last_name",
        "c_preferred_cust_flag", "c_birth_day", "c_birth_month",
        "c_birth_year", "c_birth_country", "c_login", "c_email_address",
        r2("ctr_total_return")),
      "c_customer_id, ctr_total_return"),

    // q89: monthly sales deviation from the class's yearly average per
    // store — the windowed-deviation report (avg over a coarser
    // partition than the GROUP BY, then a ±10% filter).
    adapted("tpcds_q89",
      """SELECT i_category, i_class, i_brand, s_store_name, d_moy,
        |  sum_sales, avg_monthly_sales
        |FROM (
        |  SELECT i_category, i_class, i_brand, s_store_name, d_moy,
        |    sum(ss_sales_price) sum_sales,
        |    avg(sum(ss_sales_price)) OVER
        |      (PARTITION BY i_category, i_brand, s_store_name) avg_monthly_sales
        |  FROM tpcds.item, tpcds.store_sales, tpcds.date_dim, tpcds.store
        |  WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
        |    AND ss_store_sk = s_store_sk AND d_year = 2000
        |    AND ((i_category IN ('Books', 'Electronics', 'Music')
        |          AND i_class IN ('personal', 'portable', 'reference'))
        |      OR (i_category IN ('Men', 'Women', 'Children')
        |          AND i_class IN ('accessories', 'classical', 'fragrances')))
        |  GROUP BY i_category, i_class, i_brand, s_store_name, d_moy) tmp1
        |WHERE CASE WHEN avg_monthly_sales <> 0
        |    THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
        |    ELSE NULL END > 0.1
        |ORDER BY sum_sales - avg_monthly_sales, i_category, i_class,
        |  i_brand, s_store_name, d_moy
        |LIMIT 100""".stripMargin,
      Seq("i_category", "i_class", "i_brand", "s_store_name", "d_moy",
        "sum_sales", "avg_monthly_sales"),
      Seq("i_category", "i_class", "i_brand", "s_store_name", "d_moy",
        r2("sum_sales"), r2("avg_monthly_sales")),
      "i_category, i_class, i_brand, s_store_name, d_moy"),

    // q02: week-over-week cross-year share self-join — per-day-name
    // sales pivoted per week, then weeks joined to the SAME week one
    // year later (d_week_seq2 - 53). A week missing a day yields NULL
    // shares on both engines (sum over empty), never a 0-division.
    adapted("tpcds_q02",
      """WITH wscs AS (
        |  SELECT sold_date_sk, sales_price FROM (
        |    SELECT ws_sold_date_sk sold_date_sk, ws_ext_sales_price sales_price
        |    FROM tpcds.web_sales
        |    UNION ALL
        |    SELECT cs_sold_date_sk sold_date_sk, cs_ext_sales_price sales_price
        |    FROM tpcds.catalog_sales) x
        |),
        |wswscs AS (
        |  SELECT d_week_seq,
        |    sum(CASE WHEN d_day_name = 'Sunday' THEN sales_price END) sun_sales,
        |    sum(CASE WHEN d_day_name = 'Monday' THEN sales_price END) mon_sales,
        |    sum(CASE WHEN d_day_name = 'Tuesday' THEN sales_price END) tue_sales,
        |    sum(CASE WHEN d_day_name = 'Wednesday' THEN sales_price END) wed_sales,
        |    sum(CASE WHEN d_day_name = 'Thursday' THEN sales_price END) thu_sales,
        |    sum(CASE WHEN d_day_name = 'Friday' THEN sales_price END) fri_sales,
        |    sum(CASE WHEN d_day_name = 'Saturday' THEN sales_price END) sat_sales
        |  FROM wscs, tpcds.date_dim
        |  WHERE d_date_sk = sold_date_sk
        |  GROUP BY d_week_seq
        |)
        |SELECT d_week_seq1,
        |  round(CAST(sun_sales1 AS DOUBLE) / sun_sales2, 2) r_sun,
        |  round(CAST(mon_sales1 AS DOUBLE) / mon_sales2, 2) r_mon,
        |  round(CAST(tue_sales1 AS DOUBLE) / tue_sales2, 2) r_tue,
        |  round(CAST(wed_sales1 AS DOUBLE) / wed_sales2, 2) r_wed,
        |  round(CAST(thu_sales1 AS DOUBLE) / thu_sales2, 2) r_thu,
        |  round(CAST(fri_sales1 AS DOUBLE) / fri_sales2, 2) r_fri,
        |  round(CAST(sat_sales1 AS DOUBLE) / sat_sales2, 2) r_sat
        |FROM
        |  (SELECT wswscs.d_week_seq d_week_seq1, sun_sales sun_sales1,
        |     mon_sales mon_sales1, tue_sales tue_sales1, wed_sales wed_sales1,
        |     thu_sales thu_sales1, fri_sales fri_sales1, sat_sales sat_sales1
        |   FROM wswscs, tpcds.date_dim date_dim
        |   WHERE date_dim.d_week_seq = wswscs.d_week_seq AND d_year = 1999
        |   GROUP BY wswscs.d_week_seq, sun_sales, mon_sales, tue_sales,
        |     wed_sales, thu_sales, fri_sales, sat_sales) y,
        |  (SELECT wswscs.d_week_seq d_week_seq2, sun_sales sun_sales2,
        |     mon_sales mon_sales2, tue_sales tue_sales2, wed_sales wed_sales2,
        |     thu_sales thu_sales2, fri_sales fri_sales2, sat_sales sat_sales2
        |   FROM wswscs, tpcds.date_dim date_dim
        |   WHERE date_dim.d_week_seq = wswscs.d_week_seq AND d_year = 2000
        |   GROUP BY wswscs.d_week_seq, sun_sales, mon_sales, tue_sales,
        |     wed_sales, thu_sales, fri_sales, sat_sales) z
        |WHERE d_week_seq1 = d_week_seq2 - 53
        |ORDER BY d_week_seq1""".stripMargin,
      Seq("d_week_seq1", "r_sun", "r_mon", "r_tue", "r_wed", "r_thu",
        "r_fri", "r_sat"),
      Seq("d_week_seq1", "r_sun", "r_mon", "r_tue", "r_wed", "r_thu",
        "r_fri", "r_sat"),
      "d_week_seq1"),

    // q12: web revenue share-of-class over a 30-day window (q98's web
    // twin; same 6dp ratio normalization rationale as q98).
    adapted("tpcds_q12",
      """SELECT i_item_id, i_item_desc, i_category, i_class, i_current_price,
        |  sum(ws_ext_sales_price) itemrevenue,
        |  CAST(sum(ws_ext_sales_price) * 100 AS DOUBLE)
        |    / sum(sum(ws_ext_sales_price)) OVER (PARTITION BY i_class) revenueratio
        |FROM tpcds.web_sales, tpcds.item, tpcds.date_dim
        |WHERE ws_item_sk = i_item_sk
        |  AND i_category IN ('Books', 'Men', 'Music')
        |  AND ws_sold_date_sk = d_date_sk
        |  AND d_date BETWEEN DATE '1999-02-22' AND DATE '1999-03-24'
        |GROUP BY i_item_id, i_item_desc, i_category, i_class, i_current_price
        |ORDER BY i_category, i_class, i_item_id, i_item_desc, revenueratio
        |LIMIT 100""".stripMargin,
      Seq("i_item_id", "i_item_desc", "i_category", "i_class",
        "i_current_price", "itemrevenue", "revenueratio"),
      Seq("i_item_id", "i_item_desc", "i_category", "i_class",
        r2("i_current_price"), r2("itemrevenue"), r6("revenueratio")),
      "i_category, i_class, i_item_id, i_item_desc"),

    // q21: warehouse inventory level 30 days before vs after a pivot
    // date, kept when the after/before ratio stays within [2/3, 3/2].
    // Price band retuned to the fixture's retail prices; the pivot sits
    // mid-1995 inside the synthesized inventory epoch.
    adapted("tpcds_q21",
      """SELECT w_warehouse_name, i_item_id,
        |  sum(CASE WHEN CAST(d_date AS DATE) < DATE '1995-06-30'
        |      THEN inv_quantity_on_hand ELSE 0 END) inv_before,
        |  sum(CASE WHEN CAST(d_date AS DATE) >= DATE '1995-06-30'
        |      THEN inv_quantity_on_hand ELSE 0 END) inv_after
        |FROM tpcds.inventory, tpcds.warehouse, tpcds.item, tpcds.date_dim
        |WHERE i_current_price BETWEEN 900 AND 1500
        |  AND i_item_sk = inv_item_sk
        |  AND inv_warehouse_sk = w_warehouse_sk
        |  AND inv_date_sk = d_date_sk
        |  AND d_date BETWEEN DATE '1995-05-31' AND DATE '1995-07-30'
        |GROUP BY w_warehouse_name, i_item_id
        |HAVING (CASE WHEN sum(CASE WHEN CAST(d_date AS DATE) < DATE '1995-06-30'
        |      THEN inv_quantity_on_hand ELSE 0 END) > 0
        |    THEN CAST(sum(CASE WHEN CAST(d_date AS DATE) >= DATE '1995-06-30'
        |      THEN inv_quantity_on_hand ELSE 0 END) AS DOUBLE)
        |      / sum(CASE WHEN CAST(d_date AS DATE) < DATE '1995-06-30'
        |      THEN inv_quantity_on_hand ELSE 0 END)
        |    ELSE NULL END) BETWEEN 2.0 / 3.0 AND 3.0 / 2.0
        |ORDER BY w_warehouse_name, i_item_id
        |LIMIT 100""".stripMargin,
      Seq("w_warehouse_name", "i_item_id", "inv_before", "inv_after"),
      Seq("w_warehouse_name", "i_item_id", big("inv_before"),
        big("inv_after")),
      "w_warehouse_name, i_item_id"),

    // q40: catalog sales net of returns by warehouse state, 30 days
    // before vs after a pivot date (the before/after family over the
    // round-6 cs_warehouse_sk + catalog_returns; the spec's
    // cr_refunded_cash column maps to the synthesized cr_return_amount).
    adapted("tpcds_q40",
      """SELECT w_state, i_item_id,
        |  sum(CASE WHEN CAST(d_date AS DATE) < DATE '1999-06-30'
        |      THEN cs_sales_price - COALESCE(cr_return_amount, 0)
        |      ELSE 0 END) sales_before,
        |  sum(CASE WHEN CAST(d_date AS DATE) >= DATE '1999-06-30'
        |      THEN cs_sales_price - COALESCE(cr_return_amount, 0)
        |      ELSE 0 END) sales_after
        |FROM tpcds.catalog_sales
        |LEFT JOIN tpcds.catalog_returns
        |  ON cs_order_number = cr_order_number AND cs_item_sk = cr_item_sk,
        |  tpcds.warehouse, tpcds.item, tpcds.date_dim
        |WHERE i_current_price BETWEEN 900 AND 1500
        |  AND i_item_sk = cs_item_sk
        |  AND cs_warehouse_sk = w_warehouse_sk
        |  AND cs_sold_date_sk = d_date_sk
        |  AND d_date BETWEEN DATE '1999-05-31' AND DATE '1999-07-30'
        |GROUP BY w_state, i_item_id
        |ORDER BY w_state, i_item_id
        |LIMIT 100""".stripMargin,
      Seq("w_state", "i_item_id", "sales_before", "sales_after"),
      Seq("w_state", "i_item_id", r2("sales_before"), r2("sales_after")),
      "w_state, i_item_id"),

    // q84: customers in one city within a ±50k income-band window,
    // reached through household → income_band and confirmed by a
    // store-return demographic — the income_band dimension's family.
    adapted("tpcds_q84",
      """SELECT c_customer_id customer_id,
        |  concat(coalesce(c_last_name, ''), ', ',
        |    coalesce(c_first_name, '')) customername
        |FROM tpcds.customer, tpcds.customer_address,
        |  tpcds.customer_demographics, tpcds.household_demographics,
        |  tpcds.income_band, tpcds.store_returns
        |WHERE ca_city = 'City5'
        |  AND c_current_addr_sk = ca_address_sk
        |  AND ib_lower_bound >= 38128
        |  AND ib_upper_bound <= 38128 + 50000
        |  AND ib_income_band_sk = hd_income_band_sk
        |  AND cd_demo_sk = c_current_cdemo_sk
        |  AND hd_demo_sk = c_current_hdemo_sk
        |  AND sr_cdemo_sk = cd_demo_sk
        |ORDER BY c_customer_id
        |LIMIT 100""".stripMargin,
      Seq("customer_id", "customername"),
      Seq("customer_id", "customername"),
      "customer_id, customername"),

    // q92: web discounts above 1.3× the item's 90-day average — q32's
    // web twin, same correlated-scalar-threshold shape.
    adapted("tpcds_q92",
      """SELECT sum(ws_ext_discount_amt) excess_discount_amount
        |FROM tpcds.web_sales, tpcds.item, tpcds.date_dim
        |WHERE i_manufact_id = 28 AND i_item_sk = ws_item_sk
        |  AND d_date BETWEEN DATE '1999-01-07' AND DATE '1999-04-07'
        |  AND d_date_sk = ws_sold_date_sk
        |  AND ws_ext_discount_amt > (
        |    SELECT 1.3 * avg(ws_ext_discount_amt)
        |    FROM tpcds.web_sales, tpcds.date_dim
        |    WHERE ws_item_sk = i_item_sk
        |      AND d_date BETWEEN DATE '1999-01-07' AND DATE '1999-04-07'
        |      AND d_date_sk = ws_sold_date_sk)
        |LIMIT 100""".stripMargin,
      Seq("excess_discount_amount"), Seq(r2("excess_discount_amount")), ""),

    // q08: store profit for stores whose zip prefix appears BOTH in a
    // literal list and among zips dense with preferred customers. The
    // spec's 400-zip literal list and per-5-digit-zip count > 10 assume
    // the official generator's multi-customer zips; the synthesized
    // address table has one customer per exact zip and store zips
    // concentrate under the low prefixes, so the zip unit adapts to the
    // 2-digit prefix with an in-domain literal list — the
    // INTERSECT-gated-join structure is unchanged.
    adapted("tpcds_q08",
      """SELECT s_store_name, sum(ss_net_profit) profit
        |FROM tpcds.store_sales, tpcds.date_dim, tpcds.store,
        |  (SELECT ca_zip FROM (
        |    SELECT substr(ca_zip, 1, 2) ca_zip
        |    FROM tpcds.customer_address
        |    WHERE substr(ca_zip, 1, 2) IN ('00', '01', '02', '03')
        |    INTERSECT
        |    SELECT ca_zip FROM (
        |      SELECT substr(ca_zip, 1, 2) ca_zip, count(*) cnt
        |      FROM tpcds.customer_address, tpcds.customer
        |      WHERE ca_address_sk = c_current_addr_sk
        |        AND c_preferred_cust_flag = 'Y'
        |      GROUP BY substr(ca_zip, 1, 2)
        |      HAVING count(*) > 10) a1) x) v1
        |WHERE ss_store_sk = s_store_sk AND ss_sold_date_sk = d_date_sk
        |  AND d_qoy = 2 AND d_year = 1999
        |  AND substr(s_zip, 1, 2) = substr(v1.ca_zip, 1, 2)
        |GROUP BY s_store_name
        |ORDER BY s_store_name
        |LIMIT 100""".stripMargin,
      Seq("s_store_name", "profit"),
      Seq("s_store_name", r2("profit")),
      "s_store_name"),

    // q17: the store→return→catalog-rebuy item flow with the full
    // count/avg/stddev/cov panel per channel leg (the statistical
    // triple family). The spec's d_quarter_name quarter windows assume
    // the generator's dense cross-channel rebuys; in the synthesized
    // split the (customer, item) rebuy match IS the selective predicate
    // (~42 groups at sf0.01), so the date windows widen to the epoch.
    adapted("tpcds_q17",
      """SELECT i_item_id, i_item_desc, s_state,
        |  count(ss_quantity) store_sales_quantitycount,
        |  avg(ss_quantity) store_sales_quantityave,
        |  stddev_samp(ss_quantity) store_sales_quantitystdev,
        |  stddev_samp(ss_quantity) / avg(ss_quantity) store_sales_quantitycov,
        |  count(sr_return_quantity) store_returns_quantitycount,
        |  avg(sr_return_quantity) store_returns_quantityave,
        |  stddev_samp(sr_return_quantity) store_returns_quantitystdev,
        |  stddev_samp(sr_return_quantity) / avg(sr_return_quantity) store_returns_quantitycov,
        |  count(cs_quantity) catalog_sales_quantitycount,
        |  avg(cs_quantity) catalog_sales_quantityave,
        |  stddev_samp(cs_quantity) catalog_sales_quantitystdev,
        |  stddev_samp(cs_quantity) / avg(cs_quantity) catalog_sales_quantitycov
        |FROM tpcds.store_sales, tpcds.store_returns, tpcds.catalog_sales,
        |  tpcds.date_dim d1, tpcds.date_dim d2, tpcds.date_dim d3,
        |  tpcds.store, tpcds.item
        |WHERE d1.d_year BETWEEN 1995 AND 2001
        |  AND d1.d_date_sk = ss_sold_date_sk
        |  AND i_item_sk = ss_item_sk
        |  AND s_store_sk = ss_store_sk
        |  AND ss_customer_sk = sr_customer_sk
        |  AND ss_item_sk = sr_item_sk
        |  AND ss_ticket_number = sr_ticket_number
        |  AND sr_returned_date_sk = d2.d_date_sk
        |  AND d2.d_year BETWEEN 1995 AND 2001
        |  AND sr_customer_sk = cs_bill_customer_sk
        |  AND sr_item_sk = cs_item_sk
        |  AND cs_sold_date_sk = d3.d_date_sk
        |  AND d3.d_year BETWEEN 1995 AND 2001
        |GROUP BY i_item_id, i_item_desc, s_state
        |ORDER BY i_item_id, i_item_desc, s_state
        |LIMIT 100""".stripMargin,
      Seq("i_item_id", "i_item_desc", "s_state",
        "store_sales_quantitycount", "store_sales_quantityave",
        "store_sales_quantitystdev", "store_sales_quantitycov",
        "store_returns_quantitycount", "store_returns_quantityave",
        "store_returns_quantitystdev", "store_returns_quantitycov",
        "catalog_sales_quantitycount", "catalog_sales_quantityave",
        "catalog_sales_quantitystdev", "catalog_sales_quantitycov"),
      Seq("i_item_id", "i_item_desc", "s_state",
        big("store_sales_quantitycount"), r6("store_sales_quantityave"),
        r6("store_sales_quantitystdev"), r6("store_sales_quantitycov"),
        big("store_returns_quantitycount"), r6("store_returns_quantityave"),
        r6("store_returns_quantitystdev"), r6("store_returns_quantitycov"),
        big("catalog_sales_quantitycount"), r6("catalog_sales_quantityave"),
        r6("catalog_sales_quantitystdev"), r6("catalog_sales_quantitycov")),
      "i_item_id, i_item_desc, s_state"),

    // q45: web sales by zip, gated by a literal zip list OR membership
    // of the item in a keyed item-id subquery (the OR-of-IN family).
    // Zip literals sit in the synthesized (c*17+7) % 100000 domain.
    adapted("tpcds_q45",
      """SELECT ca_zip, ca_city, sum(ws_sales_price) total_sales
        |FROM tpcds.web_sales, tpcds.customer, tpcds.customer_address,
        |  tpcds.date_dim, tpcds.item
        |WHERE ws_bill_customer_sk = c_customer_sk
        |  AND c_current_addr_sk = ca_address_sk
        |  AND ws_item_sk = i_item_sk
        |  AND ws_sold_date_sk = d_date_sk
        |  AND (substr(ca_zip, 1, 5) IN ('00177', '00347', '00517', '00687',
        |      '00857', '01707', '03407', '05107', '06807', '08507')
        |    OR i_item_id IN (SELECT i_item_id FROM tpcds.item
        |        WHERE i_item_sk IN (2, 3, 5, 7, 11, 13, 17, 19, 23, 29)))
        |  AND d_qoy = 2 AND d_year = 2000
        |GROUP BY ca_zip, ca_city
        |ORDER BY ca_zip, ca_city
        |LIMIT 100""".stripMargin,
      Seq("ca_zip", "ca_city", "total_sales"),
      Seq("ca_zip", "ca_city", r2("total_sales")),
      "ca_zip, ca_city"),

    // q49: worst return ratios per channel — quantity and currency
    // ratios double-ranked, rank ≤ 10 kept, channels UNIONed. December
    // 2001 is past the fixture's last shipment (2001-11-04) → 2000; the
    // spec's 10 000 return-amount bar scales to the synthesized amounts.
    adapted("tpcds_q49",
      """SELECT 'web' channel, web.item, web.return_ratio,
        |  web.return_rank, web.currency_rank
        |FROM (
        |  SELECT item, return_ratio, currency_ratio,
        |    rank() OVER (ORDER BY return_ratio) return_rank,
        |    rank() OVER (ORDER BY currency_ratio) currency_rank
        |  FROM (
        |    SELECT ws.ws_item_sk item,
        |      CAST(sum(COALESCE(wr.wr_return_quantity, 0)) AS DECIMAL(15,4))
        |        / CAST(sum(COALESCE(ws.ws_quantity, 0)) AS DECIMAL(15,4)) return_ratio,
        |      CAST(sum(COALESCE(wr.wr_return_amt, 0)) AS DECIMAL(15,4))
        |        / CAST(sum(COALESCE(ws.ws_net_paid, 0)) AS DECIMAL(15,4)) currency_ratio
        |    FROM tpcds.web_sales ws
        |    LEFT JOIN tpcds.web_returns wr
        |      ON ws.ws_order_number = wr.wr_order_number
        |      AND ws.ws_item_sk = wr.wr_item_sk,
        |      tpcds.date_dim
        |    WHERE wr.wr_return_amt > 10000 AND ws.ws_net_profit > 1
        |      AND ws.ws_net_paid > 0 AND ws.ws_quantity > 0
        |      AND ws_sold_date_sk = d_date_sk
        |      AND d_year = 2000 AND d_moy = 12
        |    GROUP BY ws.ws_item_sk) in_web) web
        |WHERE web.return_rank <= 10 OR web.currency_rank <= 10
        |UNION
        |SELECT 'catalog' channel, catalog.item, catalog.return_ratio,
        |  catalog.return_rank, catalog.currency_rank
        |FROM (
        |  SELECT item, return_ratio, currency_ratio,
        |    rank() OVER (ORDER BY return_ratio) return_rank,
        |    rank() OVER (ORDER BY currency_ratio) currency_rank
        |  FROM (
        |    SELECT cs.cs_item_sk item,
        |      CAST(sum(COALESCE(cr.cr_return_quantity, 0)) AS DECIMAL(15,4))
        |        / CAST(sum(COALESCE(cs.cs_quantity, 0)) AS DECIMAL(15,4)) return_ratio,
        |      CAST(sum(COALESCE(cr.cr_return_amount, 0)) AS DECIMAL(15,4))
        |        / CAST(sum(COALESCE(cs.cs_net_paid, 0)) AS DECIMAL(15,4)) currency_ratio
        |    FROM tpcds.catalog_sales cs
        |    LEFT JOIN tpcds.catalog_returns cr
        |      ON cs.cs_order_number = cr.cr_order_number
        |      AND cs.cs_item_sk = cr.cr_item_sk,
        |      tpcds.date_dim
        |    WHERE cr.cr_return_amount > 10000 AND cs.cs_net_profit > 1
        |      AND cs.cs_net_paid > 0 AND cs.cs_quantity > 0
        |      AND cs_sold_date_sk = d_date_sk
        |      AND d_year = 2000 AND d_moy = 12
        |    GROUP BY cs.cs_item_sk) in_cat) catalog
        |WHERE catalog.return_rank <= 10 OR catalog.currency_rank <= 10
        |UNION
        |SELECT 'store' channel, store.item, store.return_ratio,
        |  store.return_rank, store.currency_rank
        |FROM (
        |  SELECT item, return_ratio, currency_ratio,
        |    rank() OVER (ORDER BY return_ratio) return_rank,
        |    rank() OVER (ORDER BY currency_ratio) currency_rank
        |  FROM (
        |    SELECT sts.ss_item_sk item,
        |      CAST(sum(COALESCE(sr.sr_return_quantity, 0)) AS DECIMAL(15,4))
        |        / CAST(sum(COALESCE(sts.ss_quantity, 0)) AS DECIMAL(15,4)) return_ratio,
        |      CAST(sum(COALESCE(sr.sr_return_amt, 0)) AS DECIMAL(15,4))
        |        / CAST(sum(COALESCE(sts.ss_net_paid, 0)) AS DECIMAL(15,4)) currency_ratio
        |    FROM tpcds.store_sales sts
        |    LEFT JOIN tpcds.store_returns sr
        |      ON sts.ss_ticket_number = sr.sr_ticket_number
        |      AND sts.ss_item_sk = sr.sr_item_sk,
        |      tpcds.date_dim
        |    WHERE sr.sr_return_amt > 10000 AND sts.ss_net_profit > 1
        |      AND sts.ss_net_paid > 0 AND sts.ss_quantity > 0
        |      AND ss_sold_date_sk = d_date_sk
        |      AND d_year = 2000 AND d_moy = 12
        |    GROUP BY sts.ss_item_sk) in_store) store
        |WHERE store.return_rank <= 10 OR store.currency_rank <= 10
        |ORDER BY 1, 4, 5
        |LIMIT 100""".stripMargin,
      Seq("channel", "item", "return_ratio", "return_rank",
        "currency_rank"),
      Seq("channel", "item", r6("return_ratio"), big("return_rank"),
        big("currency_rank")),
      "channel, return_rank, currency_rank, item"),

    // q50: sale→return latency histogram per store (30/60/90/120-day
    // CASE buckets). The spec subtracts julian surrogate keys; the
    // synthesized keys are DATEs, so the buckets compare against
    // date + INTERVAL bounds (same day arithmetic, portable spelling).
    // Store address columns beyond the synthesized subset are dropped.
    adapted("tpcds_q50",
      """SELECT s_store_name, s_store_id, s_county, s_state,
        |  sum(CASE WHEN sr_returned_date_sk <=
        |      CAST(ss_sold_date_sk + INTERVAL '30' DAY AS DATE)
        |      THEN 1 ELSE 0 END) d30,
        |  sum(CASE WHEN sr_returned_date_sk >
        |      CAST(ss_sold_date_sk + INTERVAL '30' DAY AS DATE)
        |      AND sr_returned_date_sk <=
        |      CAST(ss_sold_date_sk + INTERVAL '60' DAY AS DATE)
        |      THEN 1 ELSE 0 END) d31_60,
        |  sum(CASE WHEN sr_returned_date_sk >
        |      CAST(ss_sold_date_sk + INTERVAL '60' DAY AS DATE)
        |      AND sr_returned_date_sk <=
        |      CAST(ss_sold_date_sk + INTERVAL '90' DAY AS DATE)
        |      THEN 1 ELSE 0 END) d61_90,
        |  sum(CASE WHEN sr_returned_date_sk >
        |      CAST(ss_sold_date_sk + INTERVAL '90' DAY AS DATE)
        |      AND sr_returned_date_sk <=
        |      CAST(ss_sold_date_sk + INTERVAL '120' DAY AS DATE)
        |      THEN 1 ELSE 0 END) d91_120,
        |  sum(CASE WHEN sr_returned_date_sk >
        |      CAST(ss_sold_date_sk + INTERVAL '120' DAY AS DATE)
        |      THEN 1 ELSE 0 END) d_over_120
        |FROM tpcds.store_sales, tpcds.store_returns, tpcds.store,
        |  tpcds.date_dim d1, tpcds.date_dim d2
        |WHERE d2.d_year = 2000 AND d2.d_moy = 8
        |  AND ss_ticket_number = sr_ticket_number
        |  AND ss_item_sk = sr_item_sk
        |  AND ss_sold_date_sk = d1.d_date_sk
        |  AND sr_returned_date_sk = d2.d_date_sk
        |  AND ss_customer_sk = sr_customer_sk
        |  AND ss_store_sk = s_store_sk
        |GROUP BY s_store_name, s_store_id, s_county, s_state
        |ORDER BY s_store_name, s_store_id, s_county, s_state
        |LIMIT 100""".stripMargin,
      Seq("s_store_name", "s_store_id", "s_county", "s_state",
        "d30", "d31_60", "d61_90", "d91_120", "d_over_120"),
      Seq("s_store_name", "s_store_id", "s_county", "s_state",
        big("d30"), big("d31_60"), big("d61_90"), big("d91_120"),
        big("d_over_120")),
      "s_store_name, s_store_id, s_county, s_state"),

    // q06: states whose customers buy items priced above their
    // category's average in one month — two independent scalar
    // subqueries (a DISTINCT month anchor and a correlated category
    // average). The spec's 1.2× bar assumes the generator's wide price
    // spread; the fixture's retail prices span 900-1000 (avg 950), so
    // 1.02× selects the same above-average tail (~30%).
    adapted("tpcds_q06",
      """SELECT a.ca_state state, count(*) cnt
        |FROM tpcds.customer_address a, tpcds.customer c,
        |  tpcds.store_sales s, tpcds.date_dim d, tpcds.item i
        |WHERE a.ca_address_sk = c.c_current_addr_sk
        |  AND c.c_customer_sk = s.ss_customer_sk
        |  AND s.ss_sold_date_sk = d.d_date_sk
        |  AND s.ss_item_sk = i.i_item_sk
        |  AND d.d_month_seq = (SELECT DISTINCT d_month_seq
        |    FROM tpcds.date_dim WHERE d_year = 2000 AND d_moy = 1)
        |  AND i.i_current_price > 1.02 * (SELECT avg(j.i_current_price)
        |    FROM tpcds.item j WHERE j.i_category = i.i_category)
        |GROUP BY a.ca_state
        |HAVING count(*) >= 10
        |ORDER BY cnt, a.ca_state
        |LIMIT 100""".stripMargin,
      Seq("state", "cnt"), Seq("state", big("cnt")), "state"),

    // q09: five quantity-band CASE branches, each choosing between two
    // scalar-subquery aggregates on a count threshold, anchored on a
    // one-row reason scan — the scalar-subquery-in-CASE family.
    // Thresholds sit at the synthesized band populations (~4k per
    // 10-quantity band at sf0.01 scales linearly with SF, so the
    // comparison stays meaningful at every SF the gate runs).
    adapted("tpcds_q09",
      """SELECT
        |  CASE WHEN (SELECT count(*) FROM tpcds.store_sales
        |      WHERE ss_quantity BETWEEN 1 AND 20) > 5
        |    THEN (SELECT avg(ss_ext_discount_amt) FROM tpcds.store_sales
        |      WHERE ss_quantity BETWEEN 1 AND 20)
        |    ELSE (SELECT avg(ss_net_paid) FROM tpcds.store_sales
        |      WHERE ss_quantity BETWEEN 1 AND 20) END bucket1,
        |  CASE WHEN (SELECT count(*) FROM tpcds.store_sales
        |      WHERE ss_quantity BETWEEN 21 AND 40) > 500000000
        |    THEN (SELECT avg(ss_ext_discount_amt) FROM tpcds.store_sales
        |      WHERE ss_quantity BETWEEN 21 AND 40)
        |    ELSE (SELECT avg(ss_net_paid) FROM tpcds.store_sales
        |      WHERE ss_quantity BETWEEN 21 AND 40) END bucket2,
        |  CASE WHEN (SELECT count(*) FROM tpcds.store_sales
        |      WHERE ss_quantity BETWEEN 41 AND 60) > 5
        |    THEN (SELECT avg(ss_ext_discount_amt) FROM tpcds.store_sales
        |      WHERE ss_quantity BETWEEN 41 AND 60)
        |    ELSE (SELECT avg(ss_net_paid) FROM tpcds.store_sales
        |      WHERE ss_quantity BETWEEN 41 AND 60) END bucket3
        |FROM tpcds.reason
        |WHERE r_reason_sk = 1""".stripMargin,
      Seq("bucket1", "bucket2", "bucket3"),
      Seq(r4("bucket1"), r4("bucket2"), r4("bucket3")), ""),

    // q13: three OR'd demographic bands crossed with three OR'd
    // geographic/profit bands — the multi-OR selectivity family.
    adapted("tpcds_q13",
      """SELECT avg(ss_quantity) avg_qty, avg(ss_ext_sales_price) avg_esp,
        |  avg(ss_ext_wholesale_cost) avg_ewc,
        |  sum(ss_ext_wholesale_cost) sum_ewc
        |FROM tpcds.store_sales, tpcds.store,
        |  tpcds.customer_demographics, tpcds.household_demographics,
        |  tpcds.customer_address, tpcds.date_dim
        |WHERE s_store_sk = ss_store_sk AND ss_sold_date_sk = d_date_sk
        |  AND d_year = 2001
        |  AND ((ss_hdemo_sk = hd_demo_sk AND cd_demo_sk = ss_cdemo_sk
        |        AND cd_marital_status = 'M'
        |        AND cd_education_status = '4 yr Degree'
        |        AND ss_sales_price BETWEEN 100.00 AND 150.00
        |        AND hd_dep_count = 3)
        |    OR (ss_hdemo_sk = hd_demo_sk AND cd_demo_sk = ss_cdemo_sk
        |        AND cd_marital_status = 'S'
        |        AND cd_education_status = 'College'
        |        AND ss_sales_price BETWEEN 50.00 AND 100.00
        |        AND hd_dep_count = 1)
        |    OR (ss_hdemo_sk = hd_demo_sk AND cd_demo_sk = ss_cdemo_sk
        |        AND cd_marital_status = 'W'
        |        AND cd_education_status = '2 yr Degree'
        |        AND ss_sales_price BETWEEN 150.00 AND 200.00
        |        AND hd_dep_count = 1))
        |  AND ((ss_addr_sk = ca_address_sk AND ca_country = 'United States'
        |        AND ca_state IN ('TX', 'OK', 'NM')
        |        AND ss_net_profit BETWEEN 100 AND 200)
        |    OR (ss_addr_sk = ca_address_sk AND ca_country = 'United States'
        |        AND ca_state IN ('VA', 'TN', 'CA')
        |        AND ss_net_profit BETWEEN 150 AND 300)
        |    OR (ss_addr_sk = ca_address_sk AND ca_country = 'United States'
        |        AND ca_state IN ('IN', 'ND', 'NY')
        |        AND ss_net_profit BETWEEN 50 AND 250))""".stripMargin,
      Seq("avg_qty", "avg_esp", "avg_ewc", "sum_ewc"),
      Seq(r4("avg_qty"), r4("avg_esp"), r4("avg_ewc"), r2("sum_ewc")), ""),

    // q15: catalog sales by zip where the zip, the state, OR the sale
    // price qualifies — the OR-of-heterogeneous-gates family.
    adapted("tpcds_q15",
      """SELECT ca_zip, sum(cs_sales_price) total_sales
        |FROM tpcds.catalog_sales, tpcds.customer, tpcds.customer_address,
        |  tpcds.date_dim
        |WHERE cs_bill_customer_sk = c_customer_sk
        |  AND c_current_addr_sk = ca_address_sk
        |  AND (substr(ca_zip, 1, 5) IN ('00177', '00347', '00517',
        |      '00687', '00857', '01707', '03407', '05107', '06807', '08507')
        |    OR ca_state IN ('CA', 'WA', 'GA')
        |    OR cs_sales_price > 500)
        |  AND cs_sold_date_sk = d_date_sk
        |  AND d_qoy = 2 AND d_year = 2000
        |GROUP BY ca_zip
        |ORDER BY ca_zip
        |LIMIT 100""".stripMargin,
      Seq("ca_zip", "total_sales"),
      Seq("ca_zip", r2("total_sales")),
      "ca_zip"),

    // q20: catalog share-of-class over a 30-day window (q12/q98's
    // catalog twin; same 6dp ratio normalization rationale).
    adapted("tpcds_q20",
      """SELECT i_item_id, i_item_desc, i_category, i_class, i_current_price,
        |  sum(cs_ext_sales_price) itemrevenue,
        |  CAST(sum(cs_ext_sales_price) * 100 AS DOUBLE)
        |    / sum(sum(cs_ext_sales_price)) OVER (PARTITION BY i_class) revenueratio
        |FROM tpcds.catalog_sales, tpcds.item, tpcds.date_dim
        |WHERE cs_item_sk = i_item_sk
        |  AND i_category IN ('Books', 'Men', 'Music')
        |  AND cs_sold_date_sk = d_date_sk
        |  AND d_date BETWEEN DATE '1999-02-22' AND DATE '1999-03-24'
        |GROUP BY i_item_id, i_item_desc, i_category, i_class, i_current_price
        |ORDER BY i_category, i_class, i_item_id, i_item_desc, revenueratio
        |LIMIT 100""".stripMargin,
      Seq("i_item_id", "i_item_desc", "i_category", "i_class",
        "i_current_price", "itemrevenue", "revenueratio"),
      Seq("i_item_id", "i_item_desc", "i_category", "i_class",
        r2("i_current_price"), r2("itemrevenue"), r6("revenueratio")),
      "i_category, i_class, i_item_id, i_item_desc"),

    // q25: the store→return→catalog rebuy flow summing net profit /
    // net loss per leg (q17's profit twin; same epoch-wide windows —
    // the rebuy match is the selective predicate).
    adapted("tpcds_q25",
      """SELECT i_item_id, i_item_desc, s_store_id, s_store_name,
        |  sum(ss_net_profit) store_sales_profit,
        |  sum(sr_net_loss) store_returns_loss,
        |  sum(cs_net_profit) catalog_sales_profit
        |FROM tpcds.store_sales, tpcds.store_returns, tpcds.catalog_sales,
        |  tpcds.date_dim d1, tpcds.date_dim d2, tpcds.date_dim d3,
        |  tpcds.store, tpcds.item
        |WHERE d1.d_year BETWEEN 1995 AND 2001
        |  AND d1.d_date_sk = ss_sold_date_sk
        |  AND i_item_sk = ss_item_sk
        |  AND s_store_sk = ss_store_sk
        |  AND ss_customer_sk = sr_customer_sk
        |  AND ss_item_sk = sr_item_sk
        |  AND ss_ticket_number = sr_ticket_number
        |  AND sr_returned_date_sk = d2.d_date_sk
        |  AND d2.d_year BETWEEN 1995 AND 2001
        |  AND sr_customer_sk = cs_bill_customer_sk
        |  AND sr_item_sk = cs_item_sk
        |  AND cs_sold_date_sk = d3.d_date_sk
        |  AND d3.d_year BETWEEN 1995 AND 2001
        |GROUP BY i_item_id, i_item_desc, s_store_id, s_store_name
        |ORDER BY i_item_id, i_item_desc, s_store_id, s_store_name
        |LIMIT 100""".stripMargin,
      Seq("i_item_id", "i_item_desc", "s_store_id", "s_store_name",
        "store_sales_profit", "store_returns_loss",
        "catalog_sales_profit"),
      Seq("i_item_id", "i_item_desc", "s_store_id", "s_store_name",
        r2("store_sales_profit"), r2("store_returns_loss"),
        r2("catalog_sales_profit")),
      "i_item_id, i_item_desc, s_store_id, s_store_name"),

    // q29: the same flow summing quantities (q17/q25's quantity twin).
    adapted("tpcds_q29",
      """SELECT i_item_id, i_item_desc, s_store_id, s_store_name,
        |  sum(ss_quantity) store_sales_quantity,
        |  sum(sr_return_quantity) store_returns_quantity,
        |  sum(cs_quantity) catalog_sales_quantity
        |FROM tpcds.store_sales, tpcds.store_returns, tpcds.catalog_sales,
        |  tpcds.date_dim d1, tpcds.date_dim d2, tpcds.date_dim d3,
        |  tpcds.store, tpcds.item
        |WHERE d1.d_year BETWEEN 1995 AND 2001
        |  AND d1.d_date_sk = ss_sold_date_sk
        |  AND i_item_sk = ss_item_sk
        |  AND s_store_sk = ss_store_sk
        |  AND ss_customer_sk = sr_customer_sk
        |  AND ss_item_sk = sr_item_sk
        |  AND ss_ticket_number = sr_ticket_number
        |  AND sr_returned_date_sk = d2.d_date_sk
        |  AND d2.d_year BETWEEN 1995 AND 2001
        |  AND sr_customer_sk = cs_bill_customer_sk
        |  AND sr_item_sk = cs_item_sk
        |  AND cs_sold_date_sk = d3.d_date_sk
        |  AND d3.d_year BETWEEN 1995 AND 2001
        |GROUP BY i_item_id, i_item_desc, s_store_id, s_store_name
        |ORDER BY i_item_id, i_item_desc, s_store_id, s_store_name
        |LIMIT 100""".stripMargin,
      Seq("i_item_id", "i_item_desc", "s_store_id", "s_store_name",
        "store_sales_quantity", "store_returns_quantity",
        "catalog_sales_quantity"),
      Seq("i_item_id", "i_item_desc", "s_store_id", "s_store_name",
        big("store_sales_quantity"), big("store_returns_quantity"),
        big("catalog_sales_quantity")),
      "i_item_id, i_item_desc, s_store_id, s_store_name"),

    // q41: manufacturers carrying an item matching deep OR'd
    // attribute predicates — a pure-dimension correlated-count query
    // (no fact table at all). Attribute lists retuned into the
    // synthesized class/category/price domains.
    adapted("tpcds_q41",
      """SELECT DISTINCT i_product_name
        |FROM tpcds.item i1
        |WHERE i_manufact_id BETWEEN 10 AND 40
        |  AND (SELECT count(*) cnt FROM tpcds.item
        |    WHERE i_manufact = i1.i_manufact
        |      AND ((i_category = 'Women'
        |            AND i_class IN ('personal', 'portable')
        |            AND i_current_price BETWEEN 950 AND 1200)
        |        OR (i_category = 'Men'
        |            AND i_class IN ('classical', 'fragrances')
        |            AND i_current_price BETWEEN 1200 AND 1500)
        |        OR (i_category = 'Books'
        |            AND i_class IN ('self-help', 'reference')
        |            AND i_current_price BETWEEN 1000 AND 1400))) > 0
        |ORDER BY i_product_name
        |LIMIT 100""".stripMargin,
      Seq("i_product_name"), Seq("i_product_name"), "i_product_name"),

    // q48: total quantity under OR'd demographic × geographic bands
    // (q13's quantity-only sibling).
    adapted("tpcds_q48",
      """SELECT sum(ss_quantity) total_qty
        |FROM tpcds.store_sales, tpcds.store,
        |  tpcds.customer_demographics, tpcds.customer_address,
        |  tpcds.date_dim
        |WHERE s_store_sk = ss_store_sk AND ss_sold_date_sk = d_date_sk
        |  AND d_year = 2000
        |  AND ((cd_demo_sk = ss_cdemo_sk AND cd_marital_status = 'M'
        |        AND cd_education_status = '4 yr Degree'
        |        AND ss_sales_price BETWEEN 100.00 AND 150.00)
        |    OR (cd_demo_sk = ss_cdemo_sk AND cd_marital_status = 'D'
        |        AND cd_education_status = '2 yr Degree'
        |        AND ss_sales_price BETWEEN 50.00 AND 100.00)
        |    OR (cd_demo_sk = ss_cdemo_sk AND cd_marital_status = 'S'
        |        AND cd_education_status = 'College'
        |        AND ss_sales_price BETWEEN 150.00 AND 200.00))
        |  AND ((ss_addr_sk = ca_address_sk AND ca_country = 'United States'
        |        AND ca_state IN ('TX', 'OK', 'NM')
        |        AND ss_net_profit BETWEEN 0 AND 2000)
        |    OR (ss_addr_sk = ca_address_sk AND ca_country = 'United States'
        |        AND ca_state IN ('VA', 'TN', 'CA')
        |        AND ss_net_profit BETWEEN 150 AND 3000)
        |    OR (ss_addr_sk = ca_address_sk AND ca_country = 'United States'
        |        AND ca_state IN ('IN', 'ND', 'NY')
        |        AND ss_net_profit BETWEEN 50 AND 25000))""".stripMargin,
      Seq("total_qty"), Seq(big("total_qty")), ""),

    // q54: revenue segments of customers acquired through one
    // category-month across web+catalog, measured on their store
    // spending in the following quarter, bucketed in 50-dollar
    // segments. floor() spells the segment explicitly — the spec's
    // CAST(x AS INT) truncates on Presto but ROUNDS on DuckDB, so the
    // portable floor keeps both engines identical. The county/state
    // store-vicinity join hits the synthesized shared domains; the
    // category/class pair is one the synthesized (p%6, p%8) derivation
    // can actually co-produce (Women needs an odd key, 'personal' an
    // 8-divisible one — 'portable' is the odd-compatible class).
    adapted("tpcds_q54",
      """WITH my_customers AS (
        |  SELECT DISTINCT c_customer_sk, c_current_addr_sk
        |  FROM (
        |    SELECT cs_sold_date_sk sold_date_sk,
        |      cs_bill_customer_sk customer_sk, cs_item_sk item_sk
        |    FROM tpcds.catalog_sales
        |    UNION ALL
        |    SELECT ws_sold_date_sk sold_date_sk,
        |      ws_bill_customer_sk customer_sk, ws_item_sk item_sk
        |    FROM tpcds.web_sales) cs_or_ws_sales,
        |    tpcds.item, tpcds.date_dim, tpcds.customer
        |  WHERE sold_date_sk = d_date_sk AND item_sk = i_item_sk
        |    AND i_category = 'Women' AND i_class = 'portable'
        |    AND c_customer_sk = cs_or_ws_sales.customer_sk
        |    AND d_moy = 12 AND d_year = 1999
        |),
        |my_revenue AS (
        |  SELECT c_customer_sk, sum(ss_ext_sales_price) revenue
        |  FROM my_customers, tpcds.store_sales, tpcds.customer_address,
        |    tpcds.store, tpcds.date_dim
        |  WHERE c_current_addr_sk = ca_address_sk
        |    AND ca_county = s_county AND ca_state = s_state
        |    AND ss_customer_sk = c_customer_sk
        |    AND ss_sold_date_sk = d_date_sk
        |    AND d_month_seq BETWEEN (SELECT DISTINCT d_month_seq + 1
        |        FROM tpcds.date_dim WHERE d_year = 1999 AND d_moy = 12)
        |      AND (SELECT DISTINCT d_month_seq + 3
        |        FROM tpcds.date_dim WHERE d_year = 1999 AND d_moy = 12)
        |  GROUP BY c_customer_sk
        |),
        |segments AS (
        |  SELECT CAST(floor(CAST(revenue AS DOUBLE) / 50) AS INT) segment
        |  FROM my_revenue
        |)
        |SELECT segment, count(*) num_customers, segment * 50 segment_base
        |FROM segments
        |GROUP BY segment
        |ORDER BY segment, num_customers
        |LIMIT 100""".stripMargin,
      Seq("segment", "num_customers", "segment_base"),
      Seq("segment", big("num_customers"), big("segment_base")),
      "segment"),

    // q63: manager-month deviation from the manager's yearly average
    // (q53's manager twin).
    adapted("tpcds_q63",
      """SELECT * FROM (
        |  SELECT i_manager_id, sum(ss_sales_price) sum_sales,
        |    avg(CAST(sum(ss_sales_price) AS DOUBLE))
        |      OVER (PARTITION BY i_manager_id) avg_monthly_sales
        |  FROM tpcds.item, tpcds.store_sales, tpcds.date_dim, tpcds.store
        |  WHERE ss_item_sk = i_item_sk
        |    AND ss_sold_date_sk = d_date_sk
        |    AND ss_store_sk = s_store_sk
        |    AND d_month_seq IN (1200, 1200 + 1, 1200 + 2, 1200 + 3,
        |      1200 + 4, 1200 + 5, 1200 + 6, 1200 + 7, 1200 + 8, 1200 + 9,
        |      1200 + 10, 1200 + 11)
        |    AND ((i_category IN ('Books', 'Children', 'Electronics')
        |          AND i_class IN ('personal', 'portable', 'reference', 'self-help'))
        |      OR (i_category IN ('Women', 'Music', 'Men')
        |          AND i_class IN ('accessories', 'classical', 'fragrances', 'pants')))
        |  GROUP BY i_manager_id, d_moy
        |) tmp1
        |WHERE CASE WHEN avg_monthly_sales > 0
        |    THEN abs(CAST(sum_sales AS DECIMAL(38,4)) - avg_monthly_sales)
        |         / avg_monthly_sales
        |    ELSE NULL END > 0.1
        |ORDER BY i_manager_id, avg_monthly_sales, sum_sales
        |LIMIT 100""".stripMargin,
      Seq("i_manager_id", "sum_sales", "avg_monthly_sales"),
      Seq("i_manager_id", r2("sum_sales"), r4("avg_monthly_sales")),
      "i_manager_id, avg_monthly_sales, sum_sales"),

    // q68: bought-city vs home-city ticket report with extended-price /
    // list-price / tax sums (q46's sibling with different measures).
    adapted("tpcds_q68",
      """SELECT c_last_name, c_first_name, ca_city, bought_city,
        |  ss_ticket_number, extended_price, extended_tax, list_price
        |FROM
        |  (SELECT ss_ticket_number, ss_customer_sk, ca_city AS bought_city,
        |     sum(ss_ext_sales_price) AS extended_price,
        |     sum(ss_ext_list_price) AS list_price,
        |     sum(ss_ext_discount_amt) AS extended_tax
        |   FROM tpcds.store_sales, tpcds.date_dim,
        |     tpcds.store, tpcds.household_demographics,
        |     tpcds.customer_address
        |   WHERE ss_sold_date_sk = d_date_sk
        |     AND ss_store_sk = s_store_sk
        |     AND ss_hdemo_sk = hd_demo_sk
        |     AND ss_addr_sk = ca_address_sk
        |     AND d_dom BETWEEN 1 AND 2
        |     AND (hd_dep_count = 4 OR hd_vehicle_count = 3)
        |     AND d_year IN (1999, 2000, 2001)
        |     AND s_city IN ('City1', 'City2')
        |   GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city) dn,
        |  tpcds.customer, tpcds.customer_address current_addr
        |WHERE ss_customer_sk = c_customer_sk
        |  AND c_current_addr_sk = current_addr.ca_address_sk
        |  AND current_addr.ca_city <> bought_city
        |ORDER BY c_last_name, ss_ticket_number
        |LIMIT 100""".stripMargin,
      Seq("c_last_name", "c_first_name", "ca_city", "bought_city",
        "ss_ticket_number", "extended_price", "extended_tax", "list_price"),
      Seq("c_last_name", "c_first_name", "ca_city", "bought_city",
        "ss_ticket_number", r2("extended_price"), r2("extended_tax"),
        r2("list_price")),
      "c_last_name, c_first_name, ca_city, bought_city, ss_ticket_number"),

    // q71: brand revenue by hour-of-day across all three channels for
    // one manager-month — the time_dim family. The spec gates on
    // t_meal_time ('breakfast'/'dinner'), which has no synthesized
    // twin; the equivalent hour bands spell the same selection.
    adapted("tpcds_q71",
      """SELECT i_brand_id brand_id, i_brand brand, t_hour, t_minute,
        |  sum(ext_price) ext_price
        |FROM tpcds.item,
        |  (SELECT ws_ext_sales_price ext_price,
        |     ws_sold_date_sk sold_date_sk, ws_item_sk sold_item_sk,
        |     ws_sold_time_sk time_sk
        |   FROM tpcds.web_sales, tpcds.date_dim
        |   WHERE d_date_sk = ws_sold_date_sk AND d_moy = 11 AND d_year = 2000
        |   UNION ALL
        |   SELECT cs_ext_sales_price ext_price,
        |     cs_sold_date_sk sold_date_sk, cs_item_sk sold_item_sk,
        |     cs_sold_time_sk time_sk
        |   FROM tpcds.catalog_sales, tpcds.date_dim
        |   WHERE d_date_sk = cs_sold_date_sk AND d_moy = 11 AND d_year = 2000
        |   UNION ALL
        |   SELECT ss_ext_sales_price ext_price,
        |     ss_sold_date_sk sold_date_sk, ss_item_sk sold_item_sk,
        |     ss_sold_time_sk time_sk
        |   FROM tpcds.store_sales, tpcds.date_dim
        |   WHERE d_date_sk = ss_sold_date_sk AND d_moy = 11 AND d_year = 2000
        |  ) tmp, tpcds.time_dim
        |WHERE sold_item_sk = i_item_sk
        |  AND i_manager_id = 1
        |  AND time_sk = t_time_sk
        |  AND (t_hour IN (7, 8) OR t_hour IN (18, 19))
        |GROUP BY i_brand, i_brand_id, t_hour, t_minute
        |ORDER BY ext_price DESC, i_brand_id, t_hour, t_minute
        |LIMIT 100""".stripMargin,
      Seq("brand_id", "brand", "t_hour", "t_minute", "ext_price"),
      Seq("brand_id", "brand", "t_hour", "t_minute", r2("ext_price")),
      "ext_price DESC, brand_id, t_hour, t_minute"),

    // q78: store-loyalty ratio per (year, item, customer): store
    // quantities of never-returned sales against the other channels'
    // (the anti-returns LEFT-JOIN-IS-NULL family over all three
    // returns tables).
    adapted("tpcds_q78",
      """WITH ws AS (
        |  SELECT d_year ws_sold_year, ws_item_sk,
        |    ws_bill_customer_sk ws_customer_sk,
        |    sum(ws_quantity) ws_qty, sum(ws_wholesale_cost) ws_wc,
        |    sum(ws_sales_price) ws_sp
        |  FROM tpcds.web_sales
        |  LEFT JOIN tpcds.web_returns
        |    ON wr_order_number = ws_order_number AND ws_item_sk = wr_item_sk
        |  JOIN tpcds.date_dim ON ws_sold_date_sk = d_date_sk
        |  WHERE wr_order_number IS NULL
        |  GROUP BY d_year, ws_item_sk, ws_bill_customer_sk
        |),
        |cs AS (
        |  SELECT d_year cs_sold_year, cs_item_sk,
        |    cs_bill_customer_sk cs_customer_sk,
        |    sum(cs_quantity) cs_qty, sum(cs_wholesale_cost) cs_wc,
        |    sum(cs_sales_price) cs_sp
        |  FROM tpcds.catalog_sales
        |  LEFT JOIN tpcds.catalog_returns
        |    ON cr_order_number = cs_order_number AND cs_item_sk = cr_item_sk
        |  JOIN tpcds.date_dim ON cs_sold_date_sk = d_date_sk
        |  WHERE cr_order_number IS NULL
        |  GROUP BY d_year, cs_item_sk, cs_bill_customer_sk
        |),
        |ss AS (
        |  SELECT d_year ss_sold_year, ss_item_sk,
        |    ss_customer_sk,
        |    sum(ss_quantity) ss_qty, sum(ss_wholesale_cost) ss_wc,
        |    sum(ss_sales_price) ss_sp
        |  FROM tpcds.store_sales
        |  LEFT JOIN tpcds.store_returns
        |    ON sr_ticket_number = ss_ticket_number AND ss_item_sk = sr_item_sk
        |  JOIN tpcds.date_dim ON ss_sold_date_sk = d_date_sk
        |  WHERE sr_ticket_number IS NULL
        |  GROUP BY d_year, ss_item_sk, ss_customer_sk
        |)
        |SELECT ss_customer_sk,
        |  round(CAST(ss_qty AS DOUBLE)
        |    / (coalesce(ws_qty, 0) + coalesce(cs_qty, 0)), 2) ratio,
        |  ss_qty store_qty, ss_wc store_wholesale_cost,
        |  ss_sp store_sales_price,
        |  coalesce(ws_qty, 0) + coalesce(cs_qty, 0) other_chan_qty,
        |  coalesce(ws_wc, 0) + coalesce(cs_wc, 0) other_chan_wholesale_cost,
        |  coalesce(ws_sp, 0) + coalesce(cs_sp, 0) other_chan_sales_price
        |FROM ss
        |LEFT JOIN ws ON ws_sold_year = ss_sold_year
        |  AND ws_item_sk = ss_item_sk AND ws_customer_sk = ss_customer_sk
        |LEFT JOIN cs ON cs_sold_year = ss_sold_year
        |  AND cs_item_sk = ss_item_sk AND cs_customer_sk = ss_customer_sk
        |WHERE (coalesce(ws_qty, 0) > 0 OR coalesce(cs_qty, 0) > 0)
        |  AND ss_sold_year = 2000
        |ORDER BY ss_customer_sk, ss_qty DESC, ss_wc DESC, ss_sp DESC,
        |  other_chan_qty, other_chan_wholesale_cost, other_chan_sales_price,
        |  ratio
        |LIMIT 100""".stripMargin,
      Seq("ss_customer_sk", "ratio", "store_qty", "store_wholesale_cost",
        "store_sales_price", "other_chan_qty", "other_chan_wholesale_cost",
        "other_chan_sales_price"),
      Seq("ss_customer_sk", "ratio", big("store_qty"),
        r2("store_wholesale_cost"), r2("store_sales_price"),
        big("other_chan_qty"), r2("other_chan_wholesale_cost"),
        r2("other_chan_sales_price")),
      "ss_customer_sk, store_qty DESC, store_wholesale_cost DESC, " +
        "store_sales_price DESC"),

    // q82: q37's store twin — price-band × inventory-level items with
    // store demand.
    adapted("tpcds_q82",
      """SELECT i_item_id, i_item_desc, i_current_price
        |FROM tpcds.item, tpcds.inventory, tpcds.date_dim, tpcds.store_sales
        |WHERE i_current_price BETWEEN 950 AND 1100
        |  AND inv_item_sk = i_item_sk AND d_date_sk = inv_date_sk
        |  AND d_date BETWEEN DATE '1996-02-01' AND DATE '1996-04-01'
        |  AND i_manufact_id IN (15, 25, 35, 45)
        |  AND inv_quantity_on_hand BETWEEN 100 AND 500
        |  AND ss_item_sk = i_item_sk
        |GROUP BY i_item_id, i_item_desc, i_current_price
        |ORDER BY i_item_id
        |LIMIT 100""".stripMargin,
      Seq("i_item_id", "i_item_desc", "i_current_price"),
      Seq("i_item_id", "i_item_desc", r2("i_current_price")),
      "i_item_id"),

    // q86: web net-paid ROLLUP with GROUPING()-partitioned rank
    // (q36's web twin).
    adapted("tpcds_q86",
      """SELECT sum(ws_net_paid) total_sum, i_category, i_class,
        |  grouping(i_category) + grouping(i_class) lochierarchy,
        |  rank() OVER (
        |    PARTITION BY grouping(i_category) + grouping(i_class),
        |      CASE WHEN grouping(i_class) = 0 THEN i_category END
        |    ORDER BY sum(ws_net_paid) DESC, i_category, i_class) rank_within_parent
        |FROM tpcds.web_sales, tpcds.date_dim d1, tpcds.item
        |WHERE d1.d_month_seq BETWEEN 1200 AND 1211
        |  AND d1.d_date_sk = ws_sold_date_sk
        |  AND i_item_sk = ws_item_sk
        |GROUP BY ROLLUP (i_category, i_class)
        |ORDER BY lochierarchy DESC,
        |  CASE WHEN grouping(i_category) + grouping(i_class) = 0
        |    THEN i_category END NULLS FIRST,
        |  rank_within_parent, i_category NULLS FIRST, i_class NULLS FIRST
        |LIMIT 100""".stripMargin,
      Seq("total_sum", "i_category", "i_class", "lochierarchy",
        "rank_within_parent"),
      Seq(r2("total_sum"), "i_category", "i_class", big("lochierarchy"),
        big("rank_within_parent")),
      "lochierarchy DESC, i_category NULLS FIRST, i_class NULLS FIRST"),

    // q16: catalog orders shipped in a 60-day window from one county,
    // split across warehouses (EXISTS a second line from a DIFFERENT
    // warehouse) and never returned (NOT EXISTS) — with count(DISTINCT
    // order) over the round-6 ship-date/addr/ship-cost columns.
    adapted("tpcds_q16",
      """SELECT count(DISTINCT cs_order_number) order_count,
        |  sum(cs_ext_ship_cost) total_shipping_cost,
        |  sum(cs_net_profit) total_net_profit
        |FROM tpcds.catalog_sales cs1, tpcds.date_dim,
        |  tpcds.customer_address, tpcds.call_center
        |WHERE d_date BETWEEN DATE '1999-02-01' AND DATE '1999-04-02'
        |  AND cs1.cs_ship_date_sk = d_date_sk
        |  AND cs1.cs_ship_addr_sk = ca_address_sk
        |  AND ca_state = 'OK'
        |  AND cs1.cs_call_center_sk = cc_call_center_sk
        |  AND cc_county = 'Williamson County'
        |  AND EXISTS (SELECT * FROM tpcds.catalog_sales cs2
        |    WHERE cs1.cs_order_number = cs2.cs_order_number
        |      AND cs1.cs_warehouse_sk <> cs2.cs_warehouse_sk)
        |  AND NOT EXISTS (SELECT * FROM tpcds.catalog_returns cr1
        |    WHERE cs1.cs_order_number = cr1.cr_order_number)
        |LIMIT 100""".stripMargin,
      Seq("order_count", "total_shipping_cost", "total_net_profit"),
      Seq(big("order_count"), r2("total_shipping_cost"),
        r2("total_net_profit")), ""),

    // q62: web shipping-latency histogram by warehouse × ship mode ×
    // site (q50's web twin over the new ship_mode / web_site dims; the
    // fixture's receipt lag is ≤ 30 days, so the >30 buckets are
    // honestly zero while the column structure is exercised).
    adapted("tpcds_q62",
      """SELECT substr(w_warehouse_name, 1, 20) wname, sm_type, web_name,
        |  sum(CASE WHEN ws_ship_date_sk <=
        |      CAST(ws_sold_date_sk + INTERVAL '30' DAY AS DATE)
        |      THEN 1 ELSE 0 END) d30,
        |  sum(CASE WHEN ws_ship_date_sk >
        |      CAST(ws_sold_date_sk + INTERVAL '30' DAY AS DATE)
        |      AND ws_ship_date_sk <=
        |      CAST(ws_sold_date_sk + INTERVAL '60' DAY AS DATE)
        |      THEN 1 ELSE 0 END) d31_60,
        |  sum(CASE WHEN ws_ship_date_sk >
        |      CAST(ws_sold_date_sk + INTERVAL '60' DAY AS DATE)
        |      AND ws_ship_date_sk <=
        |      CAST(ws_sold_date_sk + INTERVAL '90' DAY AS DATE)
        |      THEN 1 ELSE 0 END) d61_90,
        |  sum(CASE WHEN ws_ship_date_sk >
        |      CAST(ws_sold_date_sk + INTERVAL '90' DAY AS DATE)
        |      AND ws_ship_date_sk <=
        |      CAST(ws_sold_date_sk + INTERVAL '120' DAY AS DATE)
        |      THEN 1 ELSE 0 END) d91_120,
        |  sum(CASE WHEN ws_ship_date_sk >
        |      CAST(ws_sold_date_sk + INTERVAL '120' DAY AS DATE)
        |      THEN 1 ELSE 0 END) d_over_120
        |FROM tpcds.web_sales, tpcds.warehouse, tpcds.ship_mode,
        |  tpcds.web_site, tpcds.date_dim
        |WHERE d_month_seq BETWEEN 1260 AND 1271
        |  AND ws_ship_date_sk = d_date_sk
        |  AND ws_warehouse_sk = w_warehouse_sk
        |  AND ws_ship_mode_sk = sm_ship_mode_sk
        |  AND ws_web_site_sk = web_site_sk
        |GROUP BY substr(w_warehouse_name, 1, 20), sm_type, web_name
        |ORDER BY wname, sm_type, web_name
        |LIMIT 100""".stripMargin,
      Seq("wname", "sm_type", "web_name", "d30", "d31_60", "d61_90",
        "d91_120", "d_over_120"),
      Seq("wname", "sm_type", "web_name", big("d30"), big("d31_60"),
        big("d61_90"), big("d91_120"), big("d_over_120")),
      "wname, sm_type, web_name"),

    // q94: web orders shipped in a 60-day window from one state via one
    // site company, split across warehouses and never returned — q16's
    // web twin.
    adapted("tpcds_q94",
      """SELECT count(DISTINCT ws_order_number) order_count,
        |  sum(ws_ext_ship_cost) total_shipping_cost,
        |  sum(ws_net_profit) total_net_profit
        |FROM tpcds.web_sales ws1, tpcds.date_dim,
        |  tpcds.customer_address, tpcds.web_site
        |WHERE d_date BETWEEN DATE '1999-02-01' AND DATE '1999-04-02'
        |  AND ws1.ws_ship_date_sk = d_date_sk
        |  AND ws1.ws_ship_addr_sk = ca_address_sk
        |  AND ca_state = 'OK'
        |  AND ws1.ws_web_site_sk = web_site_sk
        |  AND web_company_name = 'pri'
        |  AND EXISTS (SELECT * FROM tpcds.web_sales ws2
        |    WHERE ws1.ws_order_number = ws2.ws_order_number
        |      AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
        |  AND NOT EXISTS (SELECT * FROM tpcds.web_returns wr1
        |    WHERE ws1.ws_order_number = wr1.wr_order_number)
        |LIMIT 100""".stripMargin,
      Seq("order_count", "total_shipping_cost", "total_net_profit"),
      Seq(big("order_count"), r2("total_shipping_cost"),
        r2("total_net_profit")), ""),

    // q95: q94's both-sides-IN variant — the split-warehouse order set
    // is a CTE self-join, and RETURNED orders are required (IN instead
    // of NOT EXISTS), exercising the semi-join-on-CTE shape.
    adapted("tpcds_q95",
      """WITH ws_wh AS (
        |  SELECT ws1.ws_order_number
        |  FROM tpcds.web_sales ws1, tpcds.web_sales ws2
        |  WHERE ws1.ws_order_number = ws2.ws_order_number
        |    AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk
        |)
        |SELECT count(DISTINCT ws1.ws_order_number) order_count,
        |  sum(ws_ext_ship_cost) total_shipping_cost,
        |  sum(ws_net_profit) total_net_profit
        |FROM tpcds.web_sales ws1, tpcds.date_dim,
        |  tpcds.customer_address, tpcds.web_site
        |WHERE d_date BETWEEN DATE '1999-02-01' AND DATE '1999-04-02'
        |  AND ws1.ws_ship_date_sk = d_date_sk
        |  AND ws1.ws_ship_addr_sk = ca_address_sk
        |  AND ca_state = 'OK'
        |  AND ws1.ws_web_site_sk = web_site_sk
        |  AND web_company_name = 'pri'
        |  AND ws1.ws_order_number IN (SELECT ws_order_number FROM ws_wh)
        |  AND ws1.ws_order_number IN (SELECT wr_order_number
        |    FROM tpcds.web_returns, ws_wh
        |    WHERE wr_order_number = ws_wh.ws_order_number)
        |LIMIT 100""".stripMargin,
      Seq("order_count", "total_shipping_cost", "total_net_profit"),
      Seq(big("order_count"), r2("total_shipping_cost"),
        r2("total_net_profit")), ""),

    // q99: catalog shipping-latency histogram by warehouse × ship mode
    // × call center (q62's catalog twin).
    adapted("tpcds_q99",
      """SELECT substr(w_warehouse_name, 1, 20) wname, sm_type, cc_name,
        |  sum(CASE WHEN cs_ship_date_sk <=
        |      CAST(cs_sold_date_sk + INTERVAL '30' DAY AS DATE)
        |      THEN 1 ELSE 0 END) d30,
        |  sum(CASE WHEN cs_ship_date_sk >
        |      CAST(cs_sold_date_sk + INTERVAL '30' DAY AS DATE)
        |      AND cs_ship_date_sk <=
        |      CAST(cs_sold_date_sk + INTERVAL '60' DAY AS DATE)
        |      THEN 1 ELSE 0 END) d31_60,
        |  sum(CASE WHEN cs_ship_date_sk >
        |      CAST(cs_sold_date_sk + INTERVAL '60' DAY AS DATE)
        |      AND cs_ship_date_sk <=
        |      CAST(cs_sold_date_sk + INTERVAL '90' DAY AS DATE)
        |      THEN 1 ELSE 0 END) d61_90,
        |  sum(CASE WHEN cs_ship_date_sk >
        |      CAST(cs_sold_date_sk + INTERVAL '90' DAY AS DATE)
        |      AND cs_ship_date_sk <=
        |      CAST(cs_sold_date_sk + INTERVAL '120' DAY AS DATE)
        |      THEN 1 ELSE 0 END) d91_120,
        |  sum(CASE WHEN cs_ship_date_sk >
        |      CAST(cs_sold_date_sk + INTERVAL '120' DAY AS DATE)
        |      THEN 1 ELSE 0 END) d_over_120
        |FROM tpcds.catalog_sales, tpcds.warehouse, tpcds.ship_mode,
        |  tpcds.call_center, tpcds.date_dim
        |WHERE d_month_seq BETWEEN 1260 AND 1271
        |  AND cs_ship_date_sk = d_date_sk
        |  AND cs_warehouse_sk = w_warehouse_sk
        |  AND cs_ship_mode_sk = sm_ship_mode_sk
        |  AND cs_call_center_sk = cc_call_center_sk
        |GROUP BY substr(w_warehouse_name, 1, 20), sm_type, cc_name
        |ORDER BY wname, sm_type, cc_name
        |LIMIT 100""".stripMargin,
      Seq("wname", "sm_type", "cc_name", "d30", "d31_60", "d61_90",
        "d91_120", "d_over_120"),
      Seq("wname", "sm_type", "cc_name", big("d30"), big("d31_60"),
        big("d61_90"), big("d91_120"), big("d_over_120")),
      "wname, sm_type, cc_name"),

    // q66: the 24-column warehouse monthly pivot — web + catalog legs
    // UNION ALLed, each pivoting sales and net by month under a carrier
    // + time-band gate, re-aggregated per warehouse. The month columns
    // are generated (12 × sales/net × 2 legs); the one text feeds both
    // engines as everywhere else. (The spec's w_country column has no
    // synthesized twin and is dropped.)
    {
      val mon = Seq("jan", "feb", "mar", "apr", "may", "jun", "jul",
        "aug", "sep", "oct", "nov", "dec")
      def pivot(p: String, price: String, net: String): String =
        (mon.zipWithIndex.map { case (m, i) =>
          s"    sum(CASE WHEN d_moy = ${i + 1} THEN $price * ${p}_quantity ELSE 0 END) ${m}_sales"
        } ++ mon.zipWithIndex.map { case (m, i) =>
          s"    sum(CASE WHEN d_moy = ${i + 1} THEN $net * ${p}_quantity ELSE 0 END) ${m}_net"
        }).mkString(",\n")
      def leg(table: String, p: String): String =
        s"""  SELECT w_warehouse_name, w_warehouse_sq_ft, w_city, w_county,
           |    w_state, 'UPS,FEDEX' ship_carriers, d_year year_,
           |${pivot(p, s"${p}_ext_sales_price", s"${p}_net_paid")}
           |  FROM tpcds.$table, tpcds.warehouse, tpcds.date_dim,
           |    tpcds.time_dim, tpcds.ship_mode
           |  WHERE ${p}_warehouse_sk = w_warehouse_sk
           |    AND ${p}_sold_date_sk = d_date_sk
           |    AND ${p}_sold_time_sk = t_time_sk
           |    AND ${p}_ship_mode_sk = sm_ship_mode_sk
           |    AND d_year = 2000
           |    AND t_time BETWEEN 30838 AND 30838 + 28800
           |    AND sm_carrier IN ('UPS', 'FEDEX')
           |  GROUP BY w_warehouse_name, w_warehouse_sq_ft, w_city,
           |    w_county, w_state, d_year""".stripMargin
      val outCols = mon.map(m => s"${m}_sales") ++ mon.map(m => s"${m}_net")
      val text =
        s"""SELECT w_warehouse_name, w_warehouse_sq_ft, w_city, w_county,
           |  w_state, ship_carriers, year_,
           |${outCols.map(c => s"  sum($c) $c").mkString(",\n")}
           |FROM (
           |${leg("web_sales", "ws")}
           |  UNION ALL
           |${leg("catalog_sales", "cs")}
           |) x
           |GROUP BY w_warehouse_name, w_warehouse_sq_ft, w_city, w_county,
           |  w_state, ship_carriers, year_
           |ORDER BY w_warehouse_name
           |LIMIT 100""".stripMargin
      val aliases = Seq("w_warehouse_name", "w_warehouse_sq_ft", "w_city",
        "w_county", "w_state", "ship_carriers", "year_") ++ outCols
      val norm = Seq("w_warehouse_name", "w_warehouse_sq_ft", "w_city",
        "w_county", "w_state", "ship_carriers", "year_") ++
        outCols.map(r2)
      adapted("tpcds_q66", text, aliases, norm, "w_warehouse_name")
    },

    // q72: the 9-way catalog/inventory promo join — inventory short of
    // the ordered quantity in the sale's own week, shipped > 5 days
    // later, per demographic slice, promo LEFT JOINed (the synthesized
    // promo key always resolves, so no_promo is honestly zero).
    adapted("tpcds_q72",
      """SELECT i_item_desc, w_warehouse_name, d1.d_week_seq,
        |  sum(CASE WHEN p_promo_sk IS NULL THEN 1 ELSE 0 END) no_promo,
        |  sum(CASE WHEN p_promo_sk IS NOT NULL THEN 1 ELSE 0 END) promo,
        |  count(*) total_cnt
        |FROM tpcds.catalog_sales
        |JOIN tpcds.inventory ON cs_item_sk = inv_item_sk
        |JOIN tpcds.warehouse ON w_warehouse_sk = inv_warehouse_sk
        |JOIN tpcds.item ON i_item_sk = cs_item_sk
        |JOIN tpcds.customer_demographics ON cs_bill_cdemo_sk = cd_demo_sk
        |JOIN tpcds.household_demographics ON cs_bill_hdemo_sk = hd_demo_sk
        |JOIN tpcds.date_dim d1 ON cs_sold_date_sk = d1.d_date_sk
        |JOIN tpcds.date_dim d2 ON inv_date_sk = d2.d_date_sk
        |JOIN tpcds.date_dim d3 ON cs_ship_date_sk = d3.d_date_sk
        |LEFT JOIN tpcds.promotion ON cs_promo_sk = p_promo_sk
        |LEFT JOIN tpcds.catalog_returns
        |  ON cr_item_sk = cs_item_sk AND cr_order_number = cs_order_number
        |WHERE d1.d_week_seq = d2.d_week_seq
        |  AND inv_quantity_on_hand < cs_quantity
        |  AND d3.d_date > CAST(d1.d_date + INTERVAL '5' DAY AS DATE)
        |  AND hd_buy_potential = '>10000'
        |  AND d1.d_year BETWEEN 1995 AND 1996
        |  AND cd_marital_status = 'D'
        |GROUP BY i_item_desc, w_warehouse_name, d1.d_week_seq
        |ORDER BY total_cnt DESC, i_item_desc, w_warehouse_name,
        |  d1.d_week_seq
        |LIMIT 100""".stripMargin,
      Seq("i_item_desc", "w_warehouse_name", "d_week_seq", "no_promo",
        "promo", "total_cnt"),
      Seq("i_item_desc", "w_warehouse_name", "d_week_seq", big("no_promo"),
        big("promo"), big("total_cnt")),
      "total_cnt DESC, i_item_desc, w_warehouse_name, d_week_seq"),

    // q90: AM/PM order-count ratio for one dependent-count slice on
    // pages in one char-count band (the spec's ws_ship_hdemo_sk maps to
    // the synthesized bill hdemo).
    adapted("tpcds_q90",
      """SELECT CAST(amc AS DECIMAL(15,4)) / CAST(pmc AS DECIMAL(15,4))
        |  am_pm_ratio
        |FROM
        |  (SELECT count(*) amc
        |   FROM tpcds.web_sales, tpcds.household_demographics,
        |     tpcds.time_dim, tpcds.web_page
        |   WHERE ws_sold_time_sk = t_time_sk
        |     AND ws_bill_hdemo_sk = hd_demo_sk
        |     AND ws_web_page_sk = wp_web_page_sk
        |     AND t_hour BETWEEN 8 AND 9
        |     AND hd_dep_count = 6
        |     AND wp_char_count BETWEEN 5000 AND 5200) at_,
        |  (SELECT count(*) pmc
        |   FROM tpcds.web_sales, tpcds.household_demographics,
        |     tpcds.time_dim, tpcds.web_page
        |   WHERE ws_sold_time_sk = t_time_sk
        |     AND ws_bill_hdemo_sk = hd_demo_sk
        |     AND ws_web_page_sk = wp_web_page_sk
        |     AND t_hour BETWEEN 19 AND 20
        |     AND hd_dep_count = 6
        |     AND wp_char_count BETWEEN 5000 AND 5200) pt
        |LIMIT 100""".stripMargin,
      Seq("am_pm_ratio"), Seq(r6("am_pm_ratio")), ""),

    // q91: call-center catalog-return losses for one demographic ×
    // buy-potential × gmt slice. The slice is a 0.3%-selective
    // conjunction; one month of the synthesized returns leaves it
    // empty, so the window widens to the year (same shape, real rows).
    adapted("tpcds_q91",
      """SELECT cc_call_center_id call_center, cc_name, cc_manager manager,
        |  sum(cr_net_loss) returns_loss
        |FROM tpcds.call_center, tpcds.catalog_returns, tpcds.date_dim,
        |  tpcds.customer, tpcds.customer_address,
        |  tpcds.customer_demographics, tpcds.household_demographics
        |WHERE cr_call_center_sk = cc_call_center_sk
        |  AND cr_returned_date_sk = d_date_sk
        |  AND cr_returning_customer_sk = c_customer_sk
        |  AND cd_demo_sk = c_current_cdemo_sk
        |  AND hd_demo_sk = c_current_hdemo_sk
        |  AND ca_address_sk = c_current_addr_sk
        |  AND d_year = 2000
        |  AND ((cd_marital_status = 'M' AND cd_education_status = 'Unknown')
        |    OR (cd_marital_status = 'W' AND cd_education_status = 'Advanced Degree'))
        |  AND hd_buy_potential LIKE 'Unknown%'
        |  AND ca_gmt_offset = -6
        |GROUP BY cc_call_center_id, cc_name, cc_manager
        |ORDER BY returns_loss DESC, cc_call_center_id, cc_name
        |LIMIT 100""".stripMargin,
      Seq("call_center", "cc_name", "manager", "returns_loss"),
      Seq("call_center", "cc_name", "manager", r2("returns_loss")),
      "call_center, cc_name, manager"),

    // q05: the channel profit-and-loss ROLLUP — per channel, sales rows
    // and return rows UNION ALLed with zero-filled opposite measures,
    // aggregated per store / catalog page / web site, then rolled up
    // across channels (returns reach the web site through the
    // wr→ws LEFT JOIN exactly as in the spec).
    adapted("tpcds_q05",
      """WITH ssr AS (
        |  SELECT s_store_id,
        |    sum(sales_price) sales, sum(profit) profit,
        |    sum(return_amt) returns_, sum(net_loss) profit_loss
        |  FROM (
        |    SELECT ss_store_sk store_sk, ss_ext_sales_price sales_price,
        |      ss_net_profit profit, CAST(0 AS DECIMAL(18,2)) return_amt,
        |      CAST(0 AS DECIMAL(18,2)) net_loss
        |    FROM tpcds.store_sales, tpcds.date_dim
        |    WHERE ss_sold_date_sk = d_date_sk
        |      AND d_date BETWEEN DATE '2000-08-23' AND DATE '2000-09-06'
        |    UNION ALL
        |    SELECT sr_store_sk store_sk, CAST(0 AS DECIMAL(18,2)) sales_price,
        |      CAST(0 AS DECIMAL(18,2)) profit, sr_return_amt return_amt,
        |      sr_net_loss net_loss
        |    FROM tpcds.store_returns, tpcds.date_dim
        |    WHERE sr_returned_date_sk = d_date_sk
        |      AND d_date BETWEEN DATE '2000-08-23' AND DATE '2000-09-06'
        |  ) salesreturns, tpcds.store
        |  WHERE store_sk = s_store_sk
        |  GROUP BY s_store_id
        |),
        |csr AS (
        |  SELECT cp_catalog_page_id,
        |    sum(sales_price) sales, sum(profit) profit,
        |    sum(return_amt) returns_, sum(net_loss) profit_loss
        |  FROM (
        |    SELECT cs_catalog_page_sk page_sk,
        |      cs_ext_sales_price sales_price, cs_net_profit profit,
        |      CAST(0 AS DECIMAL(18,2)) return_amt,
        |      CAST(0 AS DECIMAL(18,2)) net_loss
        |    FROM tpcds.catalog_sales, tpcds.date_dim
        |    WHERE cs_sold_date_sk = d_date_sk
        |      AND d_date BETWEEN DATE '2000-08-23' AND DATE '2000-09-06'
        |    UNION ALL
        |    SELECT cr_catalog_page_sk page_sk,
        |      CAST(0 AS DECIMAL(18,2)) sales_price,
        |      CAST(0 AS DECIMAL(18,2)) profit, cr_return_amount return_amt,
        |      cr_net_loss net_loss
        |    FROM tpcds.catalog_returns, tpcds.date_dim
        |    WHERE cr_returned_date_sk = d_date_sk
        |      AND d_date BETWEEN DATE '2000-08-23' AND DATE '2000-09-06'
        |  ) salesreturns, tpcds.catalog_page
        |  WHERE page_sk = cp_catalog_page_sk
        |  GROUP BY cp_catalog_page_id
        |),
        |wsr AS (
        |  SELECT web_site_id,
        |    sum(sales_price) sales, sum(profit) profit,
        |    sum(return_amt) returns_, sum(net_loss) profit_loss
        |  FROM (
        |    SELECT ws_web_site_sk site_sk, ws_ext_sales_price sales_price,
        |      ws_net_profit profit, CAST(0 AS DECIMAL(18,2)) return_amt,
        |      CAST(0 AS DECIMAL(18,2)) net_loss
        |    FROM tpcds.web_sales, tpcds.date_dim
        |    WHERE ws_sold_date_sk = d_date_sk
        |      AND d_date BETWEEN DATE '2000-08-23' AND DATE '2000-09-06'
        |    UNION ALL
        |    SELECT ws_web_site_sk site_sk,
        |      CAST(0 AS DECIMAL(18,2)) sales_price,
        |      CAST(0 AS DECIMAL(18,2)) profit, wr_return_amt return_amt,
        |      wr_net_loss net_loss
        |    FROM tpcds.web_returns
        |    LEFT JOIN tpcds.web_sales
        |      ON wr_item_sk = ws_item_sk AND wr_order_number = ws_order_number,
        |      tpcds.date_dim
        |    WHERE wr_returned_date_sk = d_date_sk
        |      AND d_date BETWEEN DATE '2000-08-23' AND DATE '2000-09-06'
        |  ) salesreturns, tpcds.web_site
        |  WHERE site_sk = web_site_sk
        |  GROUP BY web_site_id
        |)
        |SELECT channel, id, sum(sales) sales, sum(returns_) returns_,
        |  sum(profit) profit
        |FROM (
        |  SELECT 'store channel' channel, concat('store', s_store_id) id,
        |    sales, returns_, profit - profit_loss profit
        |  FROM ssr
        |  UNION ALL
        |  SELECT 'catalog channel' channel,
        |    concat('catalog_page', cp_catalog_page_id) id,
        |    sales, returns_, profit - profit_loss profit
        |  FROM csr
        |  UNION ALL
        |  SELECT 'web channel' channel, concat('web_site', web_site_id) id,
        |    sales, returns_, profit - profit_loss profit
        |  FROM wsr
        |) x
        |GROUP BY ROLLUP (channel, id)
        |ORDER BY channel NULLS FIRST, id NULLS FIRST
        |LIMIT 100""".stripMargin,
      Seq("channel", "id", "sales", "returns_", "profit"),
      Seq("channel", "id", r2("sales"), r2("returns_"), r2("profit")),
      "channel NULLS FIRST, id NULLS FIRST"),

    // q97: store/catalog customer-item overlap via FULL OUTER JOIN over
    // per-channel DISTINCT baskets — the channel-overlap census.
    adapted("tpcds_q97",
      """WITH ssci AS (
        |  SELECT ss_customer_sk customer_sk, ss_item_sk item_sk
        |  FROM tpcds.store_sales, tpcds.date_dim
        |  WHERE ss_sold_date_sk = d_date_sk
        |    AND d_month_seq BETWEEN 1260 AND 1271
        |  GROUP BY ss_customer_sk, ss_item_sk
        |),
        |csci AS (
        |  SELECT cs_bill_customer_sk customer_sk, cs_item_sk item_sk
        |  FROM tpcds.catalog_sales, tpcds.date_dim
        |  WHERE cs_sold_date_sk = d_date_sk
        |    AND d_month_seq BETWEEN 1260 AND 1271
        |  GROUP BY cs_bill_customer_sk, cs_item_sk
        |)
        |SELECT sum(CASE WHEN ssci.customer_sk IS NOT NULL
        |    AND csci.customer_sk IS NULL THEN 1 ELSE 0 END) store_only,
        |  sum(CASE WHEN ssci.customer_sk IS NULL
        |    AND csci.customer_sk IS NOT NULL THEN 1 ELSE 0 END) catalog_only,
        |  sum(CASE WHEN ssci.customer_sk IS NOT NULL
        |    AND csci.customer_sk IS NOT NULL THEN 1 ELSE 0 END) store_and_catalog
        |FROM ssci FULL OUTER JOIN csci
        |  ON (ssci.customer_sk = csci.customer_sk
        |      AND ssci.item_sk = csci.item_sk)
        |LIMIT 100""".stripMargin,
      Seq("store_only", "catalog_only", "store_and_catalog"),
      Seq(big("store_only"), big("catalog_only"), big("store_and_catalog")),
      ""),

    // ── round-6 completion: the last ten reference families ──────────

    // q56: three-channel totals for items in a color set, one gmt band —
    // the color-driven sibling of q33 (manufact) / q60 (category).
    adapted("tpcds_q56",
      """WITH ss AS (
        |  SELECT i_item_id, sum(ss_ext_sales_price) total_sales
        |  FROM tpcds.store_sales, tpcds.date_dim, tpcds.customer_address,
        |    tpcds.item
        |  WHERE i_item_id IN (SELECT i_item_id FROM tpcds.item
        |                      WHERE i_color IN ('slate', 'blanched', 'burnished'))
        |    AND ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
        |    AND d_year = 2001 AND d_moy = 2
        |    AND ss_addr_sk = ca_address_sk AND ca_gmt_offset = -5
        |  GROUP BY i_item_id
        |),
        |cs AS (
        |  SELECT i_item_id, sum(cs_ext_sales_price) total_sales
        |  FROM tpcds.catalog_sales, tpcds.date_dim, tpcds.customer_address,
        |    tpcds.item
        |  WHERE i_item_id IN (SELECT i_item_id FROM tpcds.item
        |                      WHERE i_color IN ('slate', 'blanched', 'burnished'))
        |    AND cs_item_sk = i_item_sk AND cs_sold_date_sk = d_date_sk
        |    AND d_year = 2001 AND d_moy = 2
        |    AND cs_bill_addr_sk = ca_address_sk AND ca_gmt_offset = -5
        |  GROUP BY i_item_id
        |),
        |ws AS (
        |  SELECT i_item_id, sum(ws_ext_sales_price) total_sales
        |  FROM tpcds.web_sales, tpcds.date_dim, tpcds.customer_address,
        |    tpcds.item
        |  WHERE i_item_id IN (SELECT i_item_id FROM tpcds.item
        |                      WHERE i_color IN ('slate', 'blanched', 'burnished'))
        |    AND ws_item_sk = i_item_sk AND ws_sold_date_sk = d_date_sk
        |    AND d_year = 2001 AND d_moy = 2
        |    AND ws_bill_addr_sk = ca_address_sk AND ca_gmt_offset = -5
        |  GROUP BY i_item_id
        |)
        |SELECT i_item_id, sum(total_sales) total_sales
        |FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs
        |      UNION ALL SELECT * FROM ws) tmp1
        |GROUP BY i_item_id
        |ORDER BY total_sales, i_item_id
        |LIMIT 100""".stripMargin,
      Seq("i_item_id", "total_sales"),
      Seq("i_item_id", r2("total_sales")),
      "i_item_id"),

    // q57: q47's call-center twin — rank-indexed lag/lead self-join
    // around the catalog monthly average, per item × call center.
    adapted("tpcds_q57",
      """WITH v1 AS (
        |  SELECT i_category, i_brand, cc_name, d_year, d_moy,
        |    sum(cs_sales_price) sum_sales,
        |    avg(sum(cs_sales_price)) OVER
        |      (PARTITION BY i_category, i_brand, cc_name, d_year) avg_monthly_sales,
        |    rank() OVER
        |      (PARTITION BY i_category, i_brand, cc_name
        |       ORDER BY d_year, d_moy) rn
        |  FROM tpcds.item, tpcds.catalog_sales, tpcds.date_dim,
        |    tpcds.call_center
        |  WHERE cs_item_sk = i_item_sk AND cs_sold_date_sk = d_date_sk
        |    AND cc_call_center_sk = cs_call_center_sk
        |    AND (d_year = 2000 OR (d_year = 1999 AND d_moy = 12)
        |         OR (d_year = 2001 AND d_moy = 1))
        |  GROUP BY i_category, i_brand, cc_name, d_year, d_moy
        |),
        |v2 AS (
        |  SELECT v1.i_category, v1.i_brand, v1.cc_name, v1.d_year, v1.d_moy,
        |    v1.avg_monthly_sales, v1.sum_sales,
        |    v1_lag.sum_sales psum, v1_lead.sum_sales nsum
        |  FROM v1, v1 v1_lag, v1 v1_lead
        |  WHERE v1.i_category = v1_lag.i_category
        |    AND v1.i_category = v1_lead.i_category
        |    AND v1.i_brand = v1_lag.i_brand AND v1.i_brand = v1_lead.i_brand
        |    AND v1.cc_name = v1_lag.cc_name AND v1.cc_name = v1_lead.cc_name
        |    AND v1.rn = v1_lag.rn + 1 AND v1.rn = v1_lead.rn - 1
        |)
        |SELECT i_category, i_brand, cc_name, d_year, d_moy,
        |  avg_monthly_sales, sum_sales, psum, nsum
        |FROM v2
        |WHERE d_year = 2000 AND avg_monthly_sales > 0
        |  AND CASE WHEN avg_monthly_sales > 0
        |      THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
        |      ELSE NULL END > 0.1
        |ORDER BY sum_sales - avg_monthly_sales, i_category, i_brand,
        |  cc_name, d_moy
        |LIMIT 100""".stripMargin,
      Seq("i_category", "i_brand", "cc_name", "d_year", "d_moy",
        "avg_monthly_sales", "sum_sales", "psum", "nsum"),
      Seq("i_category", "i_brand", "cc_name", "d_year", "d_moy",
        r2("avg_monthly_sales"), r2("sum_sales"), r2("psum"), r2("nsum")),
      "i_category, i_brand, cc_name, d_year, d_moy"),

    // q76: the NULL-key channel census — counts sales rows whose channel
    // key is unknown (the ~2% synthesized null-skew slice) per channel ×
    // year × quarter × category.
    adapted("tpcds_q76",
      """SELECT channel, col_name, d_year, d_qoy, i_category,
        |  count(*) sales_cnt, sum(ext_sales_price) sales_amt
        |FROM (
        |  SELECT 'store' channel, 'ss_store_sk' col_name, d_year, d_qoy,
        |    i_category, ss_ext_sales_price ext_sales_price
        |  FROM tpcds.store_sales, tpcds.item, tpcds.date_dim
        |  WHERE ss_store_sk IS NULL
        |    AND ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
        |  UNION ALL
        |  SELECT 'web' channel, 'ws_ship_customer_sk' col_name, d_year,
        |    d_qoy, i_category, ws_ext_sales_price ext_sales_price
        |  FROM tpcds.web_sales, tpcds.item, tpcds.date_dim
        |  WHERE ws_ship_customer_sk IS NULL
        |    AND ws_sold_date_sk = d_date_sk AND ws_item_sk = i_item_sk
        |  UNION ALL
        |  SELECT 'catalog' channel, 'cs_ship_addr_sk' col_name, d_year,
        |    d_qoy, i_category, cs_ext_sales_price ext_sales_price
        |  FROM tpcds.catalog_sales, tpcds.item, tpcds.date_dim
        |  WHERE cs_ship_addr_sk IS NULL
        |    AND cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
        |) foo
        |GROUP BY channel, col_name, d_year, d_qoy, i_category
        |ORDER BY channel, col_name, d_year, d_qoy, i_category
        |LIMIT 100""".stripMargin,
      Seq("channel", "col_name", "d_year", "d_qoy", "i_category",
        "sales_cnt", "sales_amt"),
      Seq("channel", "col_name", "d_year", "d_qoy", "i_category",
        big("sales_cnt"), r2("sales_amt")),
      "channel, col_name, d_year, d_qoy, i_category"),

    // q81: customers whose catalog-return total beats 1.2× their state's
    // average — q30's web twin over the full address projection
    // (street/suite/location columns land this round). ca_state 'CA'
    // from the synthesized state domain.
    adapted("tpcds_q81",
      """WITH customer_total_return AS (
        |  SELECT cr_returning_customer_sk ctr_customer_sk,
        |    ca_state ctr_state,
        |    sum(cr_return_amt_inc_tax) ctr_total_return
        |  FROM tpcds.catalog_returns, tpcds.date_dim, tpcds.customer_address
        |  WHERE cr_returned_date_sk = d_date_sk AND d_year = 2000
        |    AND cr_returning_addr_sk = ca_address_sk
        |  GROUP BY cr_returning_customer_sk, ca_state
        |)
        |SELECT c_customer_id, c_salutation, c_first_name, c_last_name,
        |  ca_street_number, ca_street_name, ca_street_type, ca_suite_number,
        |  ca_city, ca_county, ca_state, ca_zip, ca_country, ca_gmt_offset,
        |  ca_location_type, ctr_total_return
        |FROM customer_total_return ctr1, tpcds.customer_address,
        |  tpcds.customer
        |WHERE ctr1.ctr_total_return > (
        |    SELECT avg(ctr_total_return) * 1.2
        |    FROM customer_total_return ctr2
        |    WHERE ctr1.ctr_state = ctr2.ctr_state)
        |  AND ca_address_sk = c_current_addr_sk AND ca_state = 'CA'
        |  AND ctr1.ctr_customer_sk = c_customer_sk
        |ORDER BY c_customer_id, c_salutation, c_first_name, c_last_name,
        |  ca_street_number, ca_street_name, ca_street_type, ca_suite_number,
        |  ca_city, ca_county, ca_state, ca_zip, ca_country, ca_gmt_offset,
        |  ca_location_type, ctr_total_return
        |LIMIT 100""".stripMargin,
      Seq("c_customer_id", "c_salutation", "c_first_name", "c_last_name",
        "ca_street_number", "ca_street_name", "ca_street_type",
        "ca_suite_number", "ca_city", "ca_county", "ca_state", "ca_zip",
        "ca_country", "ca_gmt_offset", "ca_location_type",
        "ctr_total_return"),
      Seq("c_customer_id", "c_salutation", "c_first_name", "c_last_name",
        "ca_street_number", "ca_street_name", "ca_street_type",
        "ca_suite_number", "ca_city", "ca_county", "ca_state", "ca_zip",
        "ca_country", "ca_gmt_offset", "ca_location_type",
        r2("ctr_total_return")),
      "c_customer_id, ctr_total_return"),

    // q83: item return quantities across all three channels with the
    // nested date-IN-subquery gate. Adapted at quarter granularity
    // (d_year, d_qoy of the three anchor dates) instead of the spec's
    // three single weeks: the synthesized returns spread uniformly, so
    // week-sized slices make the 3-channel item intersection empty at
    // the gate SFs — quarters keep the IN-of-IN shape with real rows.
    adapted("tpcds_q83",
      """WITH sr_items AS (
        |  SELECT i_item_id item_id, sum(sr_return_quantity) sr_item_qty
        |  FROM tpcds.store_returns, tpcds.item, tpcds.date_dim
        |  WHERE sr_item_sk = i_item_sk
        |    AND d_date IN (SELECT dq.d_date
        |      FROM tpcds.date_dim dq, tpcds.date_dim anchor
        |      WHERE anchor.d_date IN (DATE '2000-06-30', DATE '2000-09-27',
        |                              DATE '2000-11-17')
        |        AND dq.d_year = anchor.d_year AND dq.d_qoy = anchor.d_qoy)
        |    AND sr_returned_date_sk = d_date_sk
        |  GROUP BY i_item_id
        |),
        |cr_items AS (
        |  SELECT i_item_id item_id, sum(cr_return_quantity) cr_item_qty
        |  FROM tpcds.catalog_returns, tpcds.item, tpcds.date_dim
        |  WHERE cr_item_sk = i_item_sk
        |    AND d_date IN (SELECT dq.d_date
        |      FROM tpcds.date_dim dq, tpcds.date_dim anchor
        |      WHERE anchor.d_date IN (DATE '2000-06-30', DATE '2000-09-27',
        |                              DATE '2000-11-17')
        |        AND dq.d_year = anchor.d_year AND dq.d_qoy = anchor.d_qoy)
        |    AND cr_returned_date_sk = d_date_sk
        |  GROUP BY i_item_id
        |),
        |wr_items AS (
        |  SELECT i_item_id item_id, sum(wr_return_quantity) wr_item_qty
        |  FROM tpcds.web_returns, tpcds.item, tpcds.date_dim
        |  WHERE wr_item_sk = i_item_sk
        |    AND d_date IN (SELECT dq.d_date
        |      FROM tpcds.date_dim dq, tpcds.date_dim anchor
        |      WHERE anchor.d_date IN (DATE '2000-06-30', DATE '2000-09-27',
        |                              DATE '2000-11-17')
        |        AND dq.d_year = anchor.d_year AND dq.d_qoy = anchor.d_qoy)
        |    AND wr_returned_date_sk = d_date_sk
        |  GROUP BY i_item_id
        |)
        |SELECT sr_items.item_id, sr_item_qty,
        |  CAST(sr_item_qty AS DOUBLE)
        |    / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100 sr_dev,
        |  cr_item_qty,
        |  CAST(cr_item_qty AS DOUBLE)
        |    / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100 cr_dev,
        |  wr_item_qty,
        |  CAST(wr_item_qty AS DOUBLE)
        |    / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100 wr_dev,
        |  (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 average
        |FROM sr_items, cr_items, wr_items
        |WHERE sr_items.item_id = cr_items.item_id
        |  AND sr_items.item_id = wr_items.item_id
        |ORDER BY sr_items.item_id, sr_item_qty
        |LIMIT 100""".stripMargin,
      Seq("item_id", "sr_item_qty", "sr_dev", "cr_item_qty", "cr_dev",
        "wr_item_qty", "wr_dev", "average"),
      Seq("item_id", big("sr_item_qty"), r4("sr_dev"), big("cr_item_qty"),
        r4("cr_dev"), big("wr_item_qty"), r4("wr_dev"), r4("average")),
      "item_id"),

    // q24: net paid for returned pale items at one market segment's
    // stores, where the buyer's birth country matches the address found
    // at the store's own zip (the spec's zip/country cross-match joins:
    // the address table enters ONLY through s_zip = ca_zip and
    // c_birth_country = upper(ca_country), no customer-address key).
    adapted("tpcds_q24",
      """WITH ssales AS (
        |  SELECT c_last_name, c_first_name, s_store_name, ca_state,
        |    s_state, i_color, i_current_price, i_manager_id, i_units,
        |    i_size, sum(ss_net_paid) netpaid
        |  FROM tpcds.store_sales, tpcds.store_returns, tpcds.store,
        |    tpcds.item, tpcds.customer, tpcds.customer_address
        |  WHERE ss_ticket_number = sr_ticket_number
        |    AND ss_item_sk = sr_item_sk
        |    AND ss_customer_sk = c_customer_sk AND ss_item_sk = i_item_sk
        |    AND ss_store_sk = s_store_sk
        |    AND c_birth_country = upper(ca_country) AND s_zip = ca_zip
        |    AND s_market_id = 8
        |  GROUP BY c_last_name, c_first_name, s_store_name, ca_state,
        |    s_state, i_color, i_current_price, i_manager_id, i_units,
        |    i_size
        |)
        |SELECT c_last_name, c_first_name, s_store_name,
        |  sum(netpaid) paid
        |FROM ssales
        |WHERE i_color = 'pale'
        |GROUP BY c_last_name, c_first_name, s_store_name
        |HAVING sum(netpaid) > (SELECT 0.05 * avg(netpaid) FROM ssales)""".stripMargin,
      Seq("c_last_name", "c_first_name", "s_store_name", "paid"),
      Seq("c_last_name", "c_first_name", "s_store_name", r2("paid")),
      "c_last_name, c_first_name, s_store_name"),

    // q77: per-channel 30-day P&L rollup keyed on the operational dims
    // (store / call center / web page) — q05's sibling with LEFT-JOINed
    // return legs and the spec's deliberate cs × cr cross join.
    adapted("tpcds_q77",
      """WITH ss AS (
        |  SELECT s_store_sk, sum(ss_ext_sales_price) sales,
        |    sum(ss_net_profit) profit
        |  FROM tpcds.store_sales, tpcds.date_dim, tpcds.store
        |  WHERE ss_sold_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '2000-08-23'
        |      AND CAST(DATE '2000-08-23' + INTERVAL '30' DAY AS DATE)
        |    AND ss_store_sk = s_store_sk
        |  GROUP BY s_store_sk
        |),
        |sr AS (
        |  SELECT s_store_sk, sum(sr_return_amt) returns_,
        |    sum(sr_net_loss) profit_loss
        |  FROM tpcds.store_returns, tpcds.date_dim, tpcds.store
        |  WHERE sr_returned_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '2000-08-23'
        |      AND CAST(DATE '2000-08-23' + INTERVAL '30' DAY AS DATE)
        |    AND sr_store_sk = s_store_sk
        |  GROUP BY s_store_sk
        |),
        |cs AS (
        |  SELECT cs_call_center_sk, sum(cs_ext_sales_price) sales,
        |    sum(cs_net_profit) profit
        |  FROM tpcds.catalog_sales, tpcds.date_dim
        |  WHERE cs_sold_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '2000-08-23'
        |      AND CAST(DATE '2000-08-23' + INTERVAL '30' DAY AS DATE)
        |  GROUP BY cs_call_center_sk
        |),
        |cr AS (
        |  SELECT cr_call_center_sk, sum(cr_return_amount) returns_,
        |    sum(cr_net_loss) profit_loss
        |  FROM tpcds.catalog_returns, tpcds.date_dim
        |  WHERE cr_returned_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '2000-08-23'
        |      AND CAST(DATE '2000-08-23' + INTERVAL '30' DAY AS DATE)
        |  GROUP BY cr_call_center_sk
        |),
        |ws AS (
        |  SELECT wp_web_page_sk, sum(ws_ext_sales_price) sales,
        |    sum(ws_net_profit) profit
        |  FROM tpcds.web_sales, tpcds.date_dim, tpcds.web_page
        |  WHERE ws_sold_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '2000-08-23'
        |      AND CAST(DATE '2000-08-23' + INTERVAL '30' DAY AS DATE)
        |    AND ws_web_page_sk = wp_web_page_sk
        |  GROUP BY wp_web_page_sk
        |),
        |wr AS (
        |  SELECT wp_web_page_sk, sum(wr_return_amt) returns_,
        |    sum(wr_net_loss) profit_loss
        |  FROM tpcds.web_returns, tpcds.date_dim, tpcds.web_page
        |  WHERE wr_returned_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '2000-08-23'
        |      AND CAST(DATE '2000-08-23' + INTERVAL '30' DAY AS DATE)
        |    AND wr_web_page_sk = wp_web_page_sk
        |  GROUP BY wp_web_page_sk
        |)
        |SELECT channel, id, sum(sales) sales, sum(returns_) returns_,
        |  sum(profit) profit
        |FROM (
        |  SELECT 'store channel' channel, ss.s_store_sk id, sales,
        |    COALESCE(returns_, 0) returns_,
        |    profit - COALESCE(profit_loss, 0) profit
        |  FROM ss LEFT JOIN sr ON ss.s_store_sk = sr.s_store_sk
        |  UNION ALL
        |  SELECT 'catalog channel' channel, cs_call_center_sk id, sales,
        |    returns_, profit - profit_loss profit
        |  FROM cs, cr
        |  UNION ALL
        |  SELECT 'web channel' channel, ws.wp_web_page_sk id, sales,
        |    COALESCE(returns_, 0) returns_,
        |    profit - COALESCE(profit_loss, 0) profit
        |  FROM ws LEFT JOIN wr ON ws.wp_web_page_sk = wr.wp_web_page_sk
        |) x
        |GROUP BY ROLLUP (channel, id)
        |ORDER BY channel NULLS FIRST, id NULLS FIRST, sales
        |LIMIT 100""".stripMargin,
      Seq("channel", "id", "sales", "returns_", "profit"),
      Seq("channel", big("id"), r2("sales"), r2("returns_"), r2("profit")),
      "channel NULLS FIRST, id NULLS FIRST, sales"),

    // q80: three-channel 30-day sales-and-returns rollup over promoted
    // expensive items (i_current_price > 950 selects the fixture's upper
    // half; p_channel_tv = 'N' is the spec's own promo gate).
    adapted("tpcds_q80",
      """WITH ssr AS (
        |  SELECT s_store_id store_id, sum(ss_ext_sales_price) sales,
        |    sum(COALESCE(sr_return_amt, 0)) returns_,
        |    sum(ss_net_profit - COALESCE(sr_net_loss, 0)) profit
        |  FROM tpcds.store_sales
        |  LEFT JOIN tpcds.store_returns ON ss_item_sk = sr_item_sk
        |    AND ss_ticket_number = sr_ticket_number,
        |    tpcds.date_dim, tpcds.store, tpcds.item, tpcds.promotion
        |  WHERE ss_sold_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '2000-08-23'
        |      AND CAST(DATE '2000-08-23' + INTERVAL '30' DAY AS DATE)
        |    AND ss_store_sk = s_store_sk AND ss_item_sk = i_item_sk
        |    AND i_current_price > 950
        |    AND ss_promo_sk = p_promo_sk AND p_channel_tv = 'N'
        |  GROUP BY s_store_id
        |),
        |csr AS (
        |  SELECT cp_catalog_page_id catalog_page_id,
        |    sum(cs_ext_sales_price) sales,
        |    sum(COALESCE(cr_return_amount, 0)) returns_,
        |    sum(cs_net_profit - COALESCE(cr_net_loss, 0)) profit
        |  FROM tpcds.catalog_sales
        |  LEFT JOIN tpcds.catalog_returns ON cs_item_sk = cr_item_sk
        |    AND cs_order_number = cr_order_number,
        |    tpcds.date_dim, tpcds.catalog_page, tpcds.item, tpcds.promotion
        |  WHERE cs_sold_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '2000-08-23'
        |      AND CAST(DATE '2000-08-23' + INTERVAL '30' DAY AS DATE)
        |    AND cs_catalog_page_sk = cp_catalog_page_sk
        |    AND cs_item_sk = i_item_sk AND i_current_price > 950
        |    AND cs_promo_sk = p_promo_sk AND p_channel_tv = 'N'
        |  GROUP BY cp_catalog_page_id
        |),
        |wsr AS (
        |  SELECT web_site_id, sum(ws_ext_sales_price) sales,
        |    sum(COALESCE(wr_return_amt, 0)) returns_,
        |    sum(ws_net_profit - COALESCE(wr_net_loss, 0)) profit
        |  FROM tpcds.web_sales
        |  LEFT JOIN tpcds.web_returns ON ws_item_sk = wr_item_sk
        |    AND ws_order_number = wr_order_number,
        |    tpcds.date_dim, tpcds.web_site, tpcds.item, tpcds.promotion
        |  WHERE ws_sold_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '2000-08-23'
        |      AND CAST(DATE '2000-08-23' + INTERVAL '30' DAY AS DATE)
        |    AND ws_web_site_sk = web_site_sk AND ws_item_sk = i_item_sk
        |    AND i_current_price > 950
        |    AND ws_promo_sk = p_promo_sk AND p_channel_tv = 'N'
        |  GROUP BY web_site_id
        |)
        |SELECT channel, id, sum(sales) sales, sum(returns_) returns_,
        |  sum(profit) profit
        |FROM (
        |  SELECT 'store channel' channel, concat('store', store_id) id,
        |    sales, returns_, profit
        |  FROM ssr
        |  UNION ALL
        |  SELECT 'catalog channel' channel,
        |    concat('catalog_page', catalog_page_id) id,
        |    sales, returns_, profit
        |  FROM csr
        |  UNION ALL
        |  SELECT 'web channel' channel, concat('web_site', web_site_id) id,
        |    sales, returns_, profit
        |  FROM wsr
        |) x
        |GROUP BY ROLLUP (channel, id)
        |ORDER BY channel NULLS FIRST, id NULLS FIRST
        |LIMIT 100""".stripMargin,
      Seq("channel", "id", "sales", "returns_", "profit"),
      Seq("channel", "id", r2("sales"), r2("returns_"), r2("profit")),
      "channel NULLS FIRST, id NULLS FIRST"),

    // q85: web-return reasons for matched refund/return demographic
    // pairs in price/profit/state bands. The spec's OR-of-triples keeps
    // its shape; bands and states are tuned to the synthesized domains
    // (sales price thirds of the 0.50-900.50 spread, profit bands inside
    // the derived net-profit range, states from the 10-state domain).
    adapted("tpcds_q85",
      """SELECT substr(r_reason_desc, 1, 20) r_reason, avg(ws_quantity) avg_qty,
        |  avg(wr_refunded_cash) avg_refunded, avg(wr_fee) avg_fee
        |FROM tpcds.web_sales, tpcds.web_returns, tpcds.web_page,
        |  tpcds.customer_demographics cd1, tpcds.customer_demographics cd2,
        |  tpcds.customer_address, tpcds.date_dim, tpcds.reason
        |WHERE ws_web_page_sk = wp_web_page_sk AND ws_item_sk = wr_item_sk
        |  AND ws_order_number = wr_order_number
        |  AND ws_sold_date_sk = d_date_sk AND d_year = 2000
        |  AND cd1.cd_demo_sk = wr_refunded_cdemo_sk
        |  AND cd2.cd_demo_sk = wr_returning_cdemo_sk
        |  AND ca_address_sk = wr_refunded_addr_sk
        |  AND r_reason_sk = wr_reason_sk
        |  AND ((cd1.cd_marital_status = 'M'
        |        AND cd1.cd_marital_status = cd2.cd_marital_status
        |        AND cd1.cd_education_status = 'Advanced Degree'
        |        AND cd1.cd_education_status = cd2.cd_education_status
        |        AND ws_sales_price BETWEEN 0.50 AND 300.00)
        |    OR (cd1.cd_marital_status = 'S'
        |        AND cd1.cd_marital_status = cd2.cd_marital_status
        |        AND cd1.cd_education_status = 'College'
        |        AND cd1.cd_education_status = cd2.cd_education_status
        |        AND ws_sales_price BETWEEN 300.00 AND 600.00)
        |    OR (cd1.cd_marital_status = 'W'
        |        AND cd1.cd_marital_status = cd2.cd_marital_status
        |        AND cd1.cd_education_status = '2 yr Degree'
        |        AND cd1.cd_education_status = cd2.cd_education_status
        |        AND ws_sales_price BETWEEN 600.00 AND 901.00))
        |  AND ((ca_country = 'United States'
        |        AND ca_state IN ('IN', 'OK', 'ND')
        |        AND ws_net_profit BETWEEN -25000 AND 0)
        |    OR (ca_country = 'United States'
        |        AND ca_state IN ('VA', 'TN', 'TX')
        |        AND ws_net_profit BETWEEN 0 AND 25000)
        |    OR (ca_country = 'United States'
        |        AND ca_state IN ('CA', 'NY', 'MS')
        |        AND ws_net_profit BETWEEN -25000 AND 25000))
        |GROUP BY r_reason_desc
        |ORDER BY substr(r_reason_desc, 1, 20), avg(ws_quantity),
        |  avg(wr_refunded_cash), avg(wr_fee)
        |LIMIT 100""".stripMargin,
      Seq("r_reason", "avg_qty", "avg_refunded", "avg_fee"),
      Seq("r_reason", r4("avg_qty"), r4("avg_refunded"), r4("avg_fee")),
      "r_reason"),

    // q64: the 17-table year-over-year repeat-purchase monster — returned
    // store sales of catalog items whose list revenue beats twice their
    // refund, joined through buyer + current demographics, both income
    // bands, both addresses, promotion and three date_dim roles, then
    // self-joined on (item, store, zip) across consecutive years. The
    // spec's i_current_price band is re-centered in the fixture's
    // 900-2100 retail-price spread (the spec's 64-74 selects nothing
    // here); duplicate output names (syear, cnt) get 1/2 suffixes so the
    // positional alias wrapper stays total. The twice-referenced
    // cross_sales CTE (cs1/cs2) is shared by graft.plans.SharedCte: it
    // plans, compiles and runs once, and the outer query self-joins it.
    adapted("tpcds_q64",
      """WITH cs_ui AS (
        |SELECT cs_item_sk,
        |    sum(cs_ext_list_price) sale,
        |    sum(cr_refunded_cash + cr_reversed_charge + cr_store_credit) refund
        |  FROM tpcds.catalog_sales, tpcds.catalog_returns
        |  WHERE cs_item_sk = cr_item_sk AND cs_order_number = cr_order_number
        |  GROUP BY cs_item_sk
        |  HAVING sum(cs_ext_list_price) >
        |    2 * sum(cr_refunded_cash + cr_reversed_charge + cr_store_credit)
        |),
        |cross_sales AS (
        |SELECT i_product_name product_name, i_item_sk item_sk,
        |    s_store_name store_name, s_zip store_zip,
        |    ad1.ca_street_number b_street_number,
        |    ad1.ca_street_name b_street_name, ad1.ca_city b_city,
        |    ad1.ca_zip b_zip,
        |    ad2.ca_street_number c_street_number,
        |    ad2.ca_street_name c_street_name, ad2.ca_city c_city,
        |    ad2.ca_zip c_zip,
        |    d1.d_year syear, d2.d_year fsyear, d3.d_year s2year,
        |    count(*) cnt, sum(ss_wholesale_cost) s1,
        |    sum(ss_list_price) s2, sum(ss_coupon_amt) s3
        |  FROM tpcds.store_sales, tpcds.store_returns, cs_ui,
        |    tpcds.date_dim d1, tpcds.date_dim d2, tpcds.date_dim d3,
        |    tpcds.store, tpcds.customer,
        |    tpcds.customer_demographics cd1, tpcds.customer_demographics cd2,
        |    tpcds.promotion,
        |    tpcds.household_demographics hd1,
        |    tpcds.household_demographics hd2,
        |    tpcds.customer_address ad1, tpcds.customer_address ad2,
        |    tpcds.income_band ib1, tpcds.income_band ib2, tpcds.item
        |  WHERE ss_store_sk = s_store_sk AND ss_sold_date_sk = d1.d_date_sk
        |    AND ss_customer_sk = c_customer_sk
        |    AND ss_cdemo_sk = cd1.cd_demo_sk AND ss_hdemo_sk = hd1.hd_demo_sk
        |    AND ss_addr_sk = ad1.ca_address_sk AND ss_item_sk = i_item_sk
        |    AND ss_item_sk = sr_item_sk AND ss_ticket_number = sr_ticket_number
        |    AND ss_item_sk = cs_ui.cs_item_sk
        |    AND c_current_cdemo_sk = cd2.cd_demo_sk
        |    AND c_current_hdemo_sk = hd2.hd_demo_sk
        |    AND c_current_addr_sk = ad2.ca_address_sk
        |    AND c_first_sales_date_sk = d2.d_date_sk
        |    AND c_first_shipto_date_sk = d3.d_date_sk
        |    AND ss_promo_sk = p_promo_sk
        |    AND hd1.hd_income_band_sk = ib1.ib_income_band_sk
        |    AND hd2.hd_income_band_sk = ib2.ib_income_band_sk
        |    AND cd1.cd_marital_status <> cd2.cd_marital_status
        |    AND i_color IN ('purple', 'burlywood', 'indian', 'spring',
        |                    'floral', 'medium')
        |    AND i_current_price BETWEEN 900 AND (900 + 600)
        |    AND i_current_price BETWEEN (900 + 1) AND (900 + 900)
        |  GROUP BY i_product_name, i_item_sk, s_store_name, s_zip,
        |    ad1.ca_street_number, ad1.ca_street_name, ad1.ca_city,
        |    ad1.ca_zip, ad2.ca_street_number, ad2.ca_street_name,
        |    ad2.ca_city, ad2.ca_zip, d1.d_year, d2.d_year, d3.d_year
        |)
        |SELECT cs1.product_name, cs1.store_name, cs1.store_zip,
        |  cs1.b_street_number, cs1.b_street_name, cs1.b_city, cs1.b_zip,
        |  cs1.c_street_number, cs1.c_street_name, cs1.c_city, cs1.c_zip,
        |  cs1.syear syear1, cs1.cnt cnt1,
        |  cs1.s1 s11, cs1.s2 s21, cs1.s3 s31,
        |  cs2.s1 s12, cs2.s2 s22, cs2.s3 s32,
        |  cs2.syear syear2, cs2.cnt cnt2
        |FROM cross_sales cs1, cross_sales cs2
        |WHERE cs1.item_sk = cs2.item_sk AND cs1.syear = 1999
        |  AND cs2.syear = 1999 + 1 AND cs2.cnt <= cs1.cnt
        |  AND cs1.store_name = cs2.store_name
        |  AND cs1.store_zip = cs2.store_zip
        |ORDER BY cs1.product_name, cs1.store_name, cs2.cnt""".stripMargin,
      Seq("product_name", "store_name", "store_zip", "b_street_number",
        "b_street_name", "b_city", "b_zip", "c_street_number",
        "c_street_name", "c_city", "c_zip", "syear1", "cnt1",
        "s11", "s21", "s31", "s12", "s22", "s32", "syear2", "cnt2"),
      Seq("product_name", "store_name", "store_zip", "b_street_number",
        "b_street_name", "b_city", "b_zip", "c_street_number",
        "c_street_name", "c_city", "c_zip", "syear1", big("cnt1"),
        r2("s11"), r2("s21"), r2("s31"), r2("s12"), r2("s22"), r2("s32"),
        "syear2", big("cnt2")),
      "product_name, store_name, b_street_number, c_street_number, " +
        "cnt1, cnt2, s11, s12"),

    // round-6 verbatim texts: the shipping-dim/color/market surface added
    // this round puts these four reference constants inside the
    // synthesized domains, so the byte-identical texts select real rows.
    // (q62/q99 stay adapted-only: their `ship_date_sk - sold_date_sk`
    // integer arithmetic assumes the spec's julian INT keys — ours are
    // DATE-typed, the documented TpcdsSynth deviation.)
    verbatim("tpcds_q24_verbatim", BenchtoTpcdsTexts.q24_1,
      Seq("c_last_name", "c_first_name", "s_store_name", "paid"),
      Seq("c_last_name", "c_first_name", "s_store_name", r2("paid")),
      "c_last_name, c_first_name, s_store_name"),
    verbatim("tpcds_q56_verbatim", BenchtoTpcdsTexts.q56,
      Seq("i_item_id", "total_sales"),
      Seq("i_item_id", r2("total_sales")),
      "i_item_id"),
    verbatim("tpcds_q57_verbatim", BenchtoTpcdsTexts.q57,
      Seq("i_category", "i_brand", "cc_name", "d_year", "d_moy",
        "avg_monthly_sales", "sum_sales", "psum", "nsum"),
      Seq("i_category", "i_brand", "cc_name", "d_year", "d_moy",
        r2("avg_monthly_sales"), r2("sum_sales"), r2("psum"), r2("nsum")),
      "i_category, i_brand, cc_name, d_year, d_moy"),
    verbatim("tpcds_q90_verbatim", BenchtoTpcdsTexts.q90,
      Seq("am_pm_ratio"), Seq(r6("am_pm_ratio")), ""),
    verbatim("tpcds_q02_verbatim", BenchtoTpcdsTexts.q02,
      Seq("d_week_seq1", "c2", "c3", "c4", "c5", "c6", "c7", "c8"),
      Seq(big("d_week_seq1"), r2("c2"), r2("c3"), r2("c4"), r2("c5"),
        r2("c6"), r2("c7"), r2("c8")),
      "d_week_seq1 NULLS FIRST, c2 NULLS FIRST, c3 NULLS FIRST, c4 NULLS FIRST, c5 NULLS FIRST, c6 NULLS FIRST, c7 NULLS FIRST, c8 NULLS FIRST"),
    verbatim("tpcds_q05_verbatim", BenchtoTpcdsTexts.q05,
      Seq("channel", "id", "sales", "c4", "profit"),
      Seq("channel", "id", r2("sales"), r2("c4"), r2("profit")),
      "channel NULLS FIRST, id NULLS FIRST, sales NULLS FIRST, c4 NULLS FIRST, profit NULLS FIRST"),
    verbatim("tpcds_q06_verbatim", BenchtoTpcdsTexts.q06,
      Seq("state", "cnt"),
      Seq("state", big("cnt")),
      "state NULLS FIRST, cnt NULLS FIRST"),
    verbatim("tpcds_q08_verbatim", BenchtoTpcdsTexts.q08,
      Seq("s_store_name", "c2"),
      Seq("s_store_name", r2("c2")),
      "s_store_name NULLS FIRST, c2 NULLS FIRST"),
    verbatim("tpcds_q09_verbatim", BenchtoTpcdsTexts.q09,
      Seq("bucket1", "bucket2", "bucket3", "bucket4", "bucket5"),
      Seq(r4("bucket1"), r4("bucket2"), r4("bucket3"), r4("bucket4"),
        r4("bucket5")),
      "bucket1 NULLS FIRST, bucket2 NULLS FIRST, bucket3 NULLS FIRST, bucket4 NULLS FIRST, bucket5 NULLS FIRST"),
    verbatim("tpcds_q10_verbatim", BenchtoTpcdsTexts.q10,
      Seq("cd_gender", "cd_marital_status", "cd_education_status", "cnt1",
        "cd_purchase_estimate", "cnt2", "cd_credit_rating", "cnt3",
        "cd_dep_count", "cnt4", "cd_dep_employed_count", "cnt5",
        "cd_dep_college_count", "cnt6"),
      Seq("cd_gender", "cd_marital_status", "cd_education_status",
        big("cnt1"), big("cd_purchase_estimate"), big("cnt2"),
        "cd_credit_rating", big("cnt3"), big("cd_dep_count"), big("cnt4"),
        big("cd_dep_employed_count"), big("cnt5"),
        big("cd_dep_college_count"), big("cnt6")),
      "cd_gender NULLS FIRST, cd_marital_status NULLS FIRST, cd_education_status NULLS FIRST, cnt1 NULLS FIRST, cd_purchase_estimate NULLS FIRST, cnt2 NULLS FIRST, cd_credit_rating NULLS FIRST, cnt3 NULLS FIRST, cd_dep_count NULLS FIRST, cnt4 NULLS FIRST, cd_dep_employed_count NULLS FIRST, cnt5 NULLS FIRST, cd_dep_college_count NULLS FIRST, cnt6 NULLS FIRST"),
    verbatim("tpcds_q11_verbatim", BenchtoTpcdsTexts.q11,
      Seq("customer_id", "customer_first_name", "customer_last_name",
        "customer_preferred_cust_flag", "customer_birth_country",
        "customer_login"),
      Seq("customer_id", "customer_first_name", "customer_last_name",
        "customer_preferred_cust_flag", "customer_birth_country",
        "customer_login"),
      "customer_id NULLS FIRST, customer_first_name NULLS FIRST, customer_last_name NULLS FIRST, customer_preferred_cust_flag NULLS FIRST, customer_birth_country NULLS FIRST, customer_login NULLS FIRST"),
    verbatim("tpcds_q12_verbatim", BenchtoTpcdsTexts.q12,
      Seq("i_item_id", "i_item_desc", "i_category", "i_class",
        "i_current_price", "c6", "revenueratio"),
      Seq("i_item_id", "i_item_desc", "i_category", "i_class",
        r4("i_current_price"), r2("c6"), r4("revenueratio")),
      "i_item_id NULLS FIRST, i_item_desc NULLS FIRST, i_category NULLS FIRST, i_class NULLS FIRST, i_current_price NULLS FIRST, c6 NULLS FIRST, revenueratio NULLS FIRST"),
    verbatim("tpcds_q13_verbatim", BenchtoTpcdsTexts.q13,
      Seq("c1", "c2", "c3", "c4"),
      Seq(r4("c1"), r4("c2"), r4("c3"), r2("c4")),
      "c1 NULLS FIRST, c2 NULLS FIRST, c3 NULLS FIRST, c4 NULLS FIRST"),
    verbatim("tpcds_q14_2_verbatim", BenchtoTpcdsTexts.q14_2,
      Seq("channel", "i_brand_id", "i_class_id", "i_category_id", "sales",
        "number_sales", "c7", "c8", "c9", "c10", "c11", "c12"),
      Seq("channel", big("i_brand_id"), big("i_class_id"),
        big("i_category_id"), r2("sales"), big("number_sales"), "c7",
        big("c8"), big("c9"), big("c10"), r2("c11"), big("c12")),
      "channel NULLS FIRST, i_brand_id NULLS FIRST, i_class_id NULLS FIRST, i_category_id NULLS FIRST, sales NULLS FIRST, number_sales NULLS FIRST, c7 NULLS FIRST, c8 NULLS FIRST, c9 NULLS FIRST, c10 NULLS FIRST, c11 NULLS FIRST, c12 NULLS FIRST"),
    // q14_1 verbatim (round 8): long excluded for PLANNING cost — its
    // shared CTEs re-analyze per reference in the raw text — but the
    // gate runs each query once, and the measured end-to-end time at
    // sf0.01 is ~8 s. Registering it completes 103/103 reference texts
    // verbatim; the CTE-materialized derived twin (tpcds_q14) remains
    // the BENCH representative of this shape.
    verbatim("tpcds_q14_1_verbatim", BenchtoTpcdsTexts.q14_1,
      Seq("channel", "i_brand_id", "i_class_id", "i_category_id", "sales",
        "number_sales"),
      Seq("channel", big("i_brand_id"), big("i_class_id"),
        big("i_category_id"), r2("sales"), big("number_sales")),
      "channel NULLS FIRST, i_brand_id NULLS FIRST, i_class_id NULLS FIRST, i_category_id NULLS FIRST, sales NULLS FIRST, number_sales NULLS FIRST"),
    verbatim("tpcds_q15_verbatim", BenchtoTpcdsTexts.q15,
      Seq("ca_zip", "c2"),
      Seq("ca_zip", r2("c2")),
      "ca_zip NULLS FIRST, c2 NULLS FIRST"),
    verbatim("tpcds_q16_verbatim", BenchtoTpcdsTexts.q16,
      Seq("c1", "c2", "c3"),
      Seq(big("c1"), r2("c2"), r2("c3")),
      "c1 NULLS FIRST, c2 NULLS FIRST, c3 NULLS FIRST"),
    verbatim("tpcds_q17_verbatim", BenchtoTpcdsTexts.q17,
      Seq("i_item_id", "i_item_desc", "s_state", "store_sales_quantitycount",
        "store_sales_quantityave", "store_sales_quantitystdev",
        "store_sales_quantitycov", "store_returns_quantitycount",
        "store_returns_quantityave", "store_returns_quantitystdev",
        "store_returns_quantitycov", "catalog_sales_quantitycount",
        "catalog_sales_quantityave", "catalog_sales_quantitystdev",
        "catalog_sales_quantitycov"),
      Seq("i_item_id", "i_item_desc", "s_state",
        big("store_sales_quantitycount"), r4("store_sales_quantityave"),
        r4("store_sales_quantitystdev"), r4("store_sales_quantitycov"),
        big("store_returns_quantitycount"),
        r4("store_returns_quantityave"), r4("store_returns_quantitystdev"),
        r4("store_returns_quantitycov"),
        big("catalog_sales_quantitycount"),
        r4("catalog_sales_quantityave"), r4("catalog_sales_quantitystdev"),
        r4("catalog_sales_quantitycov")),
      "i_item_id NULLS FIRST, i_item_desc NULLS FIRST, s_state NULLS FIRST, store_sales_quantitycount NULLS FIRST, store_sales_quantityave NULLS FIRST, store_sales_quantitystdev NULLS FIRST, store_sales_quantitycov NULLS FIRST, store_returns_quantitycount NULLS FIRST, store_returns_quantityave NULLS FIRST, store_returns_quantitystdev NULLS FIRST, store_returns_quantitycov NULLS FIRST, catalog_sales_quantitycount NULLS FIRST, catalog_sales_quantityave NULLS FIRST, catalog_sales_quantitystdev NULLS FIRST, catalog_sales_quantitycov NULLS FIRST"),
    verbatim("tpcds_q18_verbatim", BenchtoTpcdsTexts.q18,
      Seq("i_item_id", "ca_country", "ca_state", "ca_county", "agg1", "agg2",
        "agg3", "agg4", "agg5", "agg6", "agg7"),
      Seq("i_item_id", "ca_country", "ca_state", "ca_county", r4("agg1"),
        r4("agg2"), r4("agg3"), r4("agg4"), r4("agg5"), r4("agg6"),
        r4("agg7")),
      "i_item_id NULLS FIRST, ca_country NULLS FIRST, ca_state NULLS FIRST, ca_county NULLS FIRST, agg1 NULLS FIRST, agg2 NULLS FIRST, agg3 NULLS FIRST, agg4 NULLS FIRST, agg5 NULLS FIRST, agg6 NULLS FIRST, agg7 NULLS FIRST"),
    verbatim("tpcds_q19_verbatim", BenchtoTpcdsTexts.q19,
      Seq("brand_id", "brand", "i_manufact_id", "i_manufact", "ext_price"),
      Seq(big("brand_id"), "brand", big("i_manufact_id"), "i_manufact",
        r2("ext_price")),
      "brand_id NULLS FIRST, brand NULLS FIRST, i_manufact_id NULLS FIRST, i_manufact NULLS FIRST, ext_price NULLS FIRST"),
    verbatim("tpcds_q20_verbatim", BenchtoTpcdsTexts.q20,
      Seq("i_item_id", "i_item_desc", "i_category", "i_class",
        "i_current_price", "c6", "revenueratio"),
      Seq("i_item_id", "i_item_desc", "i_category", "i_class",
        r4("i_current_price"), r2("c6"), r4("revenueratio")),
      "i_item_id NULLS FIRST, i_item_desc NULLS FIRST, i_category NULLS FIRST, i_class NULLS FIRST, i_current_price NULLS FIRST, c6 NULLS FIRST, revenueratio NULLS FIRST"),
    verbatim("tpcds_q21_verbatim", BenchtoTpcdsTexts.q21,
      Seq("w_warehouse_name", "i_item_id", "inv_before", "inv_after"),
      Seq("w_warehouse_name", "i_item_id", big("inv_before"),
        big("inv_after")),
      "w_warehouse_name NULLS FIRST, i_item_id NULLS FIRST, inv_before NULLS FIRST, inv_after NULLS FIRST"),
    verbatim("tpcds_q22_verbatim", BenchtoTpcdsTexts.q22,
      Seq("i_product_name", "i_brand", "i_class", "i_category", "qoh"),
      Seq("i_product_name", "i_brand", "i_class", "i_category", r4("qoh")),
      "i_product_name NULLS FIRST, i_brand NULLS FIRST, i_class NULLS FIRST, i_category NULLS FIRST, qoh NULLS FIRST"),
    verbatim("tpcds_q23_2_verbatim", BenchtoTpcdsTexts.q23_2,
      Seq("c_last_name", "c_first_name", "sales"),
      Seq("c_last_name", "c_first_name", r2("sales")),
      "c_last_name NULLS FIRST, c_first_name NULLS FIRST, sales NULLS FIRST"),
    verbatim("tpcds_q24_2_verbatim", BenchtoTpcdsTexts.q24_2,
      Seq("c_last_name", "c_first_name", "s_store_name", "paid"),
      Seq("c_last_name", "c_first_name", "s_store_name", r2("paid")),
      "c_last_name NULLS FIRST, c_first_name NULLS FIRST, s_store_name NULLS FIRST, paid NULLS FIRST"),
    verbatim("tpcds_q25_verbatim", BenchtoTpcdsTexts.q25,
      Seq("i_item_id", "i_item_desc", "s_store_id", "s_store_name",
        "store_sales_profit", "store_returns_loss", "catalog_sales_profit"),
      Seq("i_item_id", "i_item_desc", "s_store_id", "s_store_name",
        r2("store_sales_profit"), r2("store_returns_loss"),
        r2("catalog_sales_profit")),
      "i_item_id NULLS FIRST, i_item_desc NULLS FIRST, s_store_id NULLS FIRST, s_store_name NULLS FIRST, store_sales_profit NULLS FIRST, store_returns_loss NULLS FIRST, catalog_sales_profit NULLS FIRST"),
    // q27 verbatim: its d_year = 2002 sits outside the fixture epoch
    // (1995-2001), so the ROLLUP aggregates an EMPTY input. Through
    // round 7 this was the one pinned engine divergence (Spark emits
    // zero rows where the standard/reference/DuckDB emit the
    // empty-grouping-set row); EmptyGroupingSetsRule now restores the
    // standard grand-total row, so the verbatim text re-enters the gate —
    // its expected result IS that one row (NULL groups, g_state=1, NULL
    // averages). The fixture-tuned adapted twin (tpcds_q27) covers the
    // same shape with real rows.
    verbatim("tpcds_q27_verbatim", BenchtoTpcdsTexts.q27,
      Seq("i_item_id", "s_state", "g_state", "agg1", "agg2", "agg3", "agg4"),
      Seq("i_item_id", "s_state", big("g_state"), r4("agg1"), r4("agg2"),
        r4("agg3"), r4("agg4")),
      "i_item_id NULLS FIRST, s_state NULLS FIRST, g_state"),
    verbatim("tpcds_q29_verbatim", BenchtoTpcdsTexts.q29,
      Seq("i_item_id", "i_item_desc", "s_store_id", "s_store_name",
        "store_sales_quantity", "store_returns_quantity",
        "catalog_sales_quantity"),
      Seq("i_item_id", "i_item_desc", "s_store_id", "s_store_name",
        big("store_sales_quantity"), big("store_returns_quantity"),
        big("catalog_sales_quantity")),
      "i_item_id NULLS FIRST, i_item_desc NULLS FIRST, s_store_id NULLS FIRST, s_store_name NULLS FIRST, store_sales_quantity NULLS FIRST, store_returns_quantity NULLS FIRST, catalog_sales_quantity NULLS FIRST"),
    verbatim("tpcds_q30_verbatim", BenchtoTpcdsTexts.q30,
      Seq("c_customer_id", "c_salutation", "c_first_name", "c_last_name",
        "c_preferred_cust_flag", "c_birth_day", "c_birth_month",
        "c_birth_year", "c_birth_country", "c_login", "c_email_address",
        "c_last_review_date_sk", "ctr_total_return"),
      Seq("c_customer_id", "c_salutation", "c_first_name", "c_last_name",
        "c_preferred_cust_flag", big("c_birth_day"), big("c_birth_month"),
        big("c_birth_year"), "c_birth_country", "c_login",
        "c_email_address", "c_last_review_date_sk", r2("ctr_total_return")),
      "c_customer_id NULLS FIRST, c_salutation NULLS FIRST, c_first_name NULLS FIRST, c_last_name NULLS FIRST, c_preferred_cust_flag NULLS FIRST, c_birth_day NULLS FIRST, c_birth_month NULLS FIRST, c_birth_year NULLS FIRST, c_birth_country NULLS FIRST, c_login NULLS FIRST, c_email_address NULLS FIRST, c_last_review_date_sk NULLS FIRST, ctr_total_return NULLS FIRST"),
    verbatim("tpcds_q31_verbatim", BenchtoTpcdsTexts.q31,
      Seq("ca_county", "d_year", "web_q1_q2_increase",
        "store_q1_q2_increase", "web_q2_q3_increase",
        "store_q2_q3_increase"),
      Seq("ca_county", big("d_year"), r4("web_q1_q2_increase"),
        r4("store_q1_q2_increase"), r4("web_q2_q3_increase"),
        r4("store_q2_q3_increase")),
      "ca_county NULLS FIRST, d_year NULLS FIRST, web_q1_q2_increase NULLS FIRST, store_q1_q2_increase NULLS FIRST, web_q2_q3_increase NULLS FIRST, store_q2_q3_increase NULLS FIRST"),
    verbatim("tpcds_q34_verbatim", BenchtoTpcdsTexts.q34,
      Seq("c_last_name", "c_first_name", "c_salutation",
        "c_preferred_cust_flag", "ss_ticket_number", "cnt"),
      Seq("c_last_name", "c_first_name", "c_salutation",
        "c_preferred_cust_flag", big("ss_ticket_number"), big("cnt")),
      "c_last_name NULLS FIRST, c_first_name NULLS FIRST, c_salutation NULLS FIRST, c_preferred_cust_flag NULLS FIRST, ss_ticket_number NULLS FIRST, cnt NULLS FIRST"),
    verbatim("tpcds_q35_verbatim", BenchtoTpcdsTexts.q35,
      Seq("ca_state", "cd_gender", "cd_marital_status", "cd_dep_count",
        "cnt1", "c6", "c7", "c8", "cd_dep_employed_count", "cnt2", "c11",
        "c12", "c13", "cd_dep_college_count", "cnt3", "c16", "c17", "c18"),
      Seq("ca_state", "cd_gender", "cd_marital_status", big("cd_dep_count"),
        big("cnt1"), big("c6"), big("c7"), r4("c8"),
        big("cd_dep_employed_count"), big("cnt2"), big("c11"), big("c12"),
        r4("c13"), big("cd_dep_college_count"), big("cnt3"), big("c16"),
        big("c17"), r4("c18")),
      "ca_state NULLS FIRST, cd_gender NULLS FIRST, cd_marital_status NULLS FIRST, cd_dep_count NULLS FIRST, cnt1 NULLS FIRST, c6 NULLS FIRST, c7 NULLS FIRST, c8 NULLS FIRST, cd_dep_employed_count NULLS FIRST, cnt2 NULLS FIRST, c11 NULLS FIRST, c12 NULLS FIRST, c13 NULLS FIRST, cd_dep_college_count NULLS FIRST, cnt3 NULLS FIRST, c16 NULLS FIRST, c17 NULLS FIRST, c18 NULLS FIRST"),
    verbatim("tpcds_q36_verbatim", BenchtoTpcdsTexts.q36,
      Seq("gross_margin", "i_category", "i_class", "lochierarchy",
        "rank_within_parent"),
      Seq(r4("gross_margin"), "i_category", "i_class", big("lochierarchy"),
        big("rank_within_parent")),
      "gross_margin NULLS FIRST, i_category NULLS FIRST, i_class NULLS FIRST, lochierarchy NULLS FIRST, rank_within_parent NULLS FIRST"),
    verbatim("tpcds_q39_1_verbatim", BenchtoTpcdsTexts.q39_1,
      Seq("w_warehouse_sk", "i_item_sk", "d_moy", "mean", "cov", "c6", "c7",
        "c8", "c9", "c10"),
      Seq(big("w_warehouse_sk"), big("i_item_sk"), big("d_moy"), r4("mean"),
        r4("cov"), big("c6"), big("c7"), big("c8"), r4("c9"), r4("c10")),
      "w_warehouse_sk NULLS FIRST, i_item_sk NULLS FIRST, d_moy NULLS FIRST, mean NULLS FIRST, cov NULLS FIRST, c6 NULLS FIRST, c7 NULLS FIRST, c8 NULLS FIRST, c9 NULLS FIRST, c10 NULLS FIRST"),
    verbatim("tpcds_q39_2_verbatim", BenchtoTpcdsTexts.q39_2,
      Seq("w_warehouse_sk", "i_item_sk", "d_moy", "mean", "cov", "c6", "c7",
        "c8", "c9", "c10"),
      Seq(big("w_warehouse_sk"), big("i_item_sk"), big("d_moy"), r4("mean"),
        r4("cov"), big("c6"), big("c7"), big("c8"), r4("c9"), r4("c10")),
      "w_warehouse_sk NULLS FIRST, i_item_sk NULLS FIRST, d_moy NULLS FIRST, mean NULLS FIRST, cov NULLS FIRST, c6 NULLS FIRST, c7 NULLS FIRST, c8 NULLS FIRST, c9 NULLS FIRST, c10 NULLS FIRST"),
    verbatim("tpcds_q40_verbatim", BenchtoTpcdsTexts.q40,
      Seq("w_state", "i_item_id", "sales_before", "sales_after"),
      Seq("w_state", "i_item_id", r2("sales_before"), r2("sales_after")),
      "w_state NULLS FIRST, i_item_id NULLS FIRST, sales_before NULLS FIRST, sales_after NULLS FIRST"),
    verbatim("tpcds_q41_verbatim", BenchtoTpcdsTexts.q41,
      Seq("i_product_name"),
      Seq("i_product_name"),
      "i_product_name NULLS FIRST"),
    verbatim("tpcds_q45_verbatim", BenchtoTpcdsTexts.q45,
      Seq("ca_zip", "ca_city", "c3"),
      Seq("ca_zip", "ca_city", r2("c3")),
      "ca_zip NULLS FIRST, ca_city NULLS FIRST, c3 NULLS FIRST"),
    verbatim("tpcds_q46_verbatim", BenchtoTpcdsTexts.q46,
      Seq("c_last_name", "c_first_name", "ca_city", "bought_city",
        "ss_ticket_number", "amt", "profit"),
      Seq("c_last_name", "c_first_name", "ca_city", "bought_city",
        big("ss_ticket_number"), r2("amt"), r2("profit")),
      "c_last_name NULLS FIRST, c_first_name NULLS FIRST, ca_city NULLS FIRST, bought_city NULLS FIRST, ss_ticket_number NULLS FIRST, amt NULLS FIRST, profit NULLS FIRST"),
    verbatim("tpcds_q48_verbatim", BenchtoTpcdsTexts.q48,
      Seq("c1"),
      Seq(big("c1")),
      "c1 NULLS FIRST"),
    verbatim("tpcds_q49_verbatim", BenchtoTpcdsTexts.q49,
      Seq("channel", "item", "return_ratio", "return_rank", "currency_rank"),
      Seq("channel", big("item"), r4("return_ratio"), big("return_rank"),
        big("currency_rank")),
      "channel NULLS FIRST, item NULLS FIRST, return_ratio NULLS FIRST, return_rank NULLS FIRST, currency_rank NULLS FIRST"),
    verbatim("tpcds_q51_verbatim", BenchtoTpcdsTexts.q51,
      Seq("item_sk", "d_date", "web_sales", "store_sales", "web_cumulative",
        "store_cumulative"),
      Seq(big("item_sk"), "d_date", r2("web_sales"), r2("store_sales"),
        r2("web_cumulative"), r2("store_cumulative")),
      "item_sk NULLS FIRST, d_date NULLS FIRST, web_sales NULLS FIRST, store_sales NULLS FIRST, web_cumulative NULLS FIRST, store_cumulative NULLS FIRST"),
    verbatim("tpcds_q53_verbatim", BenchtoTpcdsTexts.q53,
      Seq("i_manufact_id", "sum_sales", "avg_quarterly_sales"),
      Seq(big("i_manufact_id"), r2("sum_sales"), r4("avg_quarterly_sales")),
      "i_manufact_id NULLS FIRST, sum_sales NULLS FIRST, avg_quarterly_sales NULLS FIRST"),
    verbatim("tpcds_q54_verbatim", BenchtoTpcdsTexts.q54,
      Seq("segment", "num_customers", "segment_base"),
      Seq(big("segment"), big("num_customers"), big("segment_base")),
      "segment NULLS FIRST, num_customers NULLS FIRST, segment_base NULLS FIRST"),
    verbatim("tpcds_q58_verbatim", BenchtoTpcdsTexts.q58,
      Seq("item_id", "ss_item_rev", "ss_dev", "cs_item_rev", "cs_dev",
        "ws_item_rev", "ws_dev", "average"),
      Seq("item_id", r2("ss_item_rev"), r2("ss_dev"), r2("cs_item_rev"),
        r2("cs_dev"), r2("ws_item_rev"), r2("ws_dev"), r4("average")),
      "item_id NULLS FIRST, ss_item_rev NULLS FIRST, ss_dev NULLS FIRST, cs_item_rev NULLS FIRST, cs_dev NULLS FIRST, ws_item_rev NULLS FIRST, ws_dev NULLS FIRST, average NULLS FIRST"),
    verbatim("tpcds_q63_verbatim", BenchtoTpcdsTexts.q63,
      Seq("i_manager_id", "sum_sales", "avg_monthly_sales"),
      Seq(big("i_manager_id"), r2("sum_sales"), r4("avg_monthly_sales")),
      "i_manager_id NULLS FIRST, sum_sales NULLS FIRST, avg_monthly_sales NULLS FIRST"),
    verbatim("tpcds_q64_verbatim", BenchtoTpcdsTexts.q64,
      Seq("product_name", "store_name", "store_zip", "b_street_number",
        "b_street_name", "b_city", "b_zip", "c_street_number",
        "c_street_name", "c_city", "c_zip", "syear", "cnt", "s11", "s21",
        "s31", "s12", "s22", "s32", "c20", "c21"),
      Seq("product_name", "store_name", "store_zip", "b_street_number",
        "b_street_name", "b_city", "b_zip", "c_street_number",
        "c_street_name", "c_city", "c_zip", big("syear"), big("cnt"),
        r2("s11"), r2("s21"), r2("s31"), r2("s12"), r2("s22"), r2("s32"),
        big("c20"), big("c21")),
      "product_name NULLS FIRST, store_name NULLS FIRST, store_zip NULLS FIRST, b_street_number NULLS FIRST, b_street_name NULLS FIRST, b_city NULLS FIRST, b_zip NULLS FIRST, c_street_number NULLS FIRST, c_street_name NULLS FIRST, c_city NULLS FIRST, c_zip NULLS FIRST, syear NULLS FIRST, cnt NULLS FIRST, s11 NULLS FIRST, s21 NULLS FIRST, s31 NULLS FIRST, s12 NULLS FIRST, s22 NULLS FIRST, s32 NULLS FIRST, c20 NULLS FIRST, c21 NULLS FIRST"),
    verbatim("tpcds_q65_verbatim", BenchtoTpcdsTexts.q65,
      Seq("s_store_name", "i_item_desc", "revenue", "i_current_price",
        "i_wholesale_cost", "i_brand"),
      Seq("s_store_name", "i_item_desc", r2("revenue"),
        r4("i_current_price"), r2("i_wholesale_cost"), "i_brand"),
      "s_store_name NULLS FIRST, i_item_desc NULLS FIRST, revenue NULLS FIRST, i_current_price NULLS FIRST, i_wholesale_cost NULLS FIRST, i_brand NULLS FIRST"),
    verbatim("tpcds_q66_verbatim", BenchtoTpcdsTexts.q66,
      Seq("w_warehouse_name", "w_warehouse_sq_ft", "w_city", "w_county",
        "w_state", "w_country", "ship_carriers", "c8", "jan_sales",
        "feb_sales", "mar_sales", "apr_sales", "may_sales", "jun_sales",
        "jul_sales", "aug_sales", "sep_sales", "oct_sales", "nov_sales",
        "dec_sales", "jan_sales_per_sq_foot", "feb_sales_per_sq_foot",
        "mar_sales_per_sq_foot", "apr_sales_per_sq_foot",
        "may_sales_per_sq_foot", "jun_sales_per_sq_foot",
        "jul_sales_per_sq_foot", "aug_sales_per_sq_foot",
        "sep_sales_per_sq_foot", "oct_sales_per_sq_foot",
        "nov_sales_per_sq_foot", "dec_sales_per_sq_foot", "jan_net",
        "feb_net", "mar_net", "apr_net", "may_net", "jun_net", "jul_net",
        "aug_net", "sep_net", "oct_net", "nov_net", "dec_net"),
      Seq("w_warehouse_name", big("w_warehouse_sq_ft"), "w_city", "w_county",
        "w_state", "w_country", "ship_carriers", big("c8"),
        r2("jan_sales"), r2("feb_sales"), r2("mar_sales"), r2("apr_sales"),
        r2("may_sales"), r2("jun_sales"), r2("jul_sales"), r2("aug_sales"),
        r2("sep_sales"), r2("oct_sales"), r2("nov_sales"), r2("dec_sales"),
        r4("jan_sales_per_sq_foot"), r4("feb_sales_per_sq_foot"),
        r4("mar_sales_per_sq_foot"), r4("apr_sales_per_sq_foot"),
        r4("may_sales_per_sq_foot"), r4("jun_sales_per_sq_foot"),
        r4("jul_sales_per_sq_foot"), r4("aug_sales_per_sq_foot"),
        r4("sep_sales_per_sq_foot"), r4("oct_sales_per_sq_foot"),
        r4("nov_sales_per_sq_foot"), r4("dec_sales_per_sq_foot"),
        r2("jan_net"), r2("feb_net"), r2("mar_net"), r2("apr_net"),
        r2("may_net"), r2("jun_net"), r2("jul_net"), r2("aug_net"),
        r2("sep_net"), r2("oct_net"), r2("nov_net"), r2("dec_net")),
      "w_warehouse_name NULLS FIRST, w_warehouse_sq_ft NULLS FIRST, w_city NULLS FIRST, w_county NULLS FIRST, w_state NULLS FIRST, w_country NULLS FIRST, ship_carriers NULLS FIRST, c8 NULLS FIRST, jan_sales NULLS FIRST, feb_sales NULLS FIRST, mar_sales NULLS FIRST, apr_sales NULLS FIRST, may_sales NULLS FIRST, jun_sales NULLS FIRST, jul_sales NULLS FIRST, aug_sales NULLS FIRST, sep_sales NULLS FIRST, oct_sales NULLS FIRST, nov_sales NULLS FIRST, dec_sales NULLS FIRST, jan_sales_per_sq_foot NULLS FIRST, feb_sales_per_sq_foot NULLS FIRST, mar_sales_per_sq_foot NULLS FIRST, apr_sales_per_sq_foot NULLS FIRST, may_sales_per_sq_foot NULLS FIRST, jun_sales_per_sq_foot NULLS FIRST, jul_sales_per_sq_foot NULLS FIRST, aug_sales_per_sq_foot NULLS FIRST, sep_sales_per_sq_foot NULLS FIRST, oct_sales_per_sq_foot NULLS FIRST, nov_sales_per_sq_foot NULLS FIRST, dec_sales_per_sq_foot NULLS FIRST, jan_net NULLS FIRST, feb_net NULLS FIRST, mar_net NULLS FIRST, apr_net NULLS FIRST, may_net NULLS FIRST, jun_net NULLS FIRST, jul_net NULLS FIRST, aug_net NULLS FIRST, sep_net NULLS FIRST, oct_net NULLS FIRST, nov_net NULLS FIRST, dec_net NULLS FIRST"),
    verbatim("tpcds_q67_verbatim", BenchtoTpcdsTexts.q67,
      Seq("i_category", "i_class", "i_brand", "i_product_name", "d_year",
        "d_qoy", "d_moy", "s_store_id", "sumsales", "rk"),
      Seq("i_category", "i_class", "i_brand", "i_product_name",
        big("d_year"), big("d_qoy"), big("d_moy"), "s_store_id",
        r2("sumsales"), big("rk")),
      "i_category NULLS FIRST, i_class NULLS FIRST, i_brand NULLS FIRST, i_product_name NULLS FIRST, d_year NULLS FIRST, d_qoy NULLS FIRST, d_moy NULLS FIRST, s_store_id NULLS FIRST, sumsales NULLS FIRST, rk NULLS FIRST"),
    verbatim("tpcds_q68_verbatim", BenchtoTpcdsTexts.q68,
      Seq("c_last_name", "c_first_name", "ca_city", "bought_city",
        "ss_ticket_number", "extended_price", "extended_tax", "list_price"),
      Seq("c_last_name", "c_first_name", "ca_city", "bought_city",
        big("ss_ticket_number"), r2("extended_price"), r2("extended_tax"),
        r2("list_price")),
      "c_last_name NULLS FIRST, c_first_name NULLS FIRST, ca_city NULLS FIRST, bought_city NULLS FIRST, ss_ticket_number NULLS FIRST, extended_price NULLS FIRST, extended_tax NULLS FIRST, list_price NULLS FIRST"),
    verbatim("tpcds_q71_verbatim", BenchtoTpcdsTexts.q71,
      Seq("brand_id", "brand", "t_hour", "t_minute", "ext_price"),
      Seq(big("brand_id"), "brand", big("t_hour"), big("t_minute"),
        r2("ext_price")),
      "brand_id NULLS FIRST, brand NULLS FIRST, t_hour NULLS FIRST, t_minute NULLS FIRST, ext_price NULLS FIRST"),
    verbatim("tpcds_q72_verbatim", BenchtoTpcdsTexts.q72,
      Seq("i_item_desc", "w_warehouse_name", "d_week_seq", "no_promo",
        "promo", "total_cnt"),
      Seq("i_item_desc", "w_warehouse_name", big("d_week_seq"),
        big("no_promo"), big("promo"), big("total_cnt")),
      "i_item_desc NULLS FIRST, w_warehouse_name NULLS FIRST, d_week_seq NULLS FIRST, no_promo NULLS FIRST, promo NULLS FIRST, total_cnt NULLS FIRST"),
    verbatim("tpcds_q73_verbatim", BenchtoTpcdsTexts.q73,
      Seq("c_last_name", "c_first_name", "c_salutation",
        "c_preferred_cust_flag", "ss_ticket_number", "cnt"),
      Seq("c_last_name", "c_first_name", "c_salutation",
        "c_preferred_cust_flag", big("ss_ticket_number"), big("cnt")),
      "c_last_name NULLS FIRST, c_first_name NULLS FIRST, c_salutation NULLS FIRST, c_preferred_cust_flag NULLS FIRST, ss_ticket_number NULLS FIRST, cnt NULLS FIRST"),
    verbatim("tpcds_q74_verbatim", BenchtoTpcdsTexts.q74,
      Seq("customer_id", "customer_first_name", "customer_last_name"),
      Seq("customer_id", "customer_first_name", "customer_last_name"),
      "customer_id NULLS FIRST, customer_first_name NULLS FIRST, customer_last_name NULLS FIRST"),
    verbatim("tpcds_q75_verbatim", BenchtoTpcdsTexts.q75,
      Seq("prev_year", "c2", "i_brand_id", "i_class_id", "i_category_id",
        "i_manufact_id", "prev_yr_cnt", "curr_yr_cnt", "sales_cnt_diff",
        "sales_amt_diff"),
      Seq(big("prev_year"), big("c2"), big("i_brand_id"), big("i_class_id"),
        big("i_category_id"), big("i_manufact_id"), big("prev_yr_cnt"),
        big("curr_yr_cnt"), big("sales_cnt_diff"), r2("sales_amt_diff")),
      "prev_year NULLS FIRST, c2 NULLS FIRST, i_brand_id NULLS FIRST, i_class_id NULLS FIRST, i_category_id NULLS FIRST, i_manufact_id NULLS FIRST, prev_yr_cnt NULLS FIRST, curr_yr_cnt NULLS FIRST, sales_cnt_diff NULLS FIRST, sales_amt_diff NULLS FIRST"),
    verbatim("tpcds_q76_verbatim", BenchtoTpcdsTexts.q76,
      Seq("channel", "col_name", "d_year", "d_qoy", "i_category",
        "sales_cnt", "sales_amt"),
      Seq("channel", "col_name", big("d_year"), big("d_qoy"), "i_category",
        big("sales_cnt"), r2("sales_amt")),
      "channel NULLS FIRST, col_name NULLS FIRST, d_year NULLS FIRST, d_qoy NULLS FIRST, i_category NULLS FIRST, sales_cnt NULLS FIRST, sales_amt NULLS FIRST"),
    verbatim("tpcds_q77_verbatim", BenchtoTpcdsTexts.q77,
      Seq("channel", "id", "sales", "c4", "profit"),
      Seq("channel", big("id"), r2("sales"), r2("c4"), r2("profit")),
      "channel NULLS FIRST, id NULLS FIRST, sales NULLS FIRST, c4 NULLS FIRST, profit NULLS FIRST"),
    verbatim("tpcds_q78_verbatim", BenchtoTpcdsTexts.q78,
      Seq("ss_sold_year", "ss_item_sk", "ss_customer_sk", "ratio",
        "store_qty", "store_wholesale_cost", "store_sales_price",
        "other_chan_qty", "other_chan_wholesale_cost",
        "other_chan_sales_price"),
      Seq(big("ss_sold_year"), big("ss_item_sk"), big("ss_customer_sk"),
        r2("ratio"), big("store_qty"), r2("store_wholesale_cost"),
        r2("store_sales_price"), big("other_chan_qty"),
        r2("other_chan_wholesale_cost"), r2("other_chan_sales_price")),
      "ss_sold_year NULLS FIRST, ss_item_sk NULLS FIRST, ss_customer_sk NULLS FIRST, ratio NULLS FIRST, store_qty NULLS FIRST, store_wholesale_cost NULLS FIRST, store_sales_price NULLS FIRST, other_chan_qty NULLS FIRST, other_chan_wholesale_cost NULLS FIRST, other_chan_sales_price NULLS FIRST"),
    verbatim("tpcds_q80_verbatim", BenchtoTpcdsTexts.q80,
      Seq("channel", "id", "sales", "c4", "profit"),
      Seq("channel", "id", r2("sales"), r2("c4"), r2("profit")),
      "channel NULLS FIRST, id NULLS FIRST, sales NULLS FIRST, c4 NULLS FIRST, profit NULLS FIRST"),
    verbatim("tpcds_q81_verbatim", BenchtoTpcdsTexts.q81,
      Seq("c_customer_id", "c_salutation", "c_first_name", "c_last_name",
        "ca_street_number", "ca_street_name", "ca_street_type",
        "ca_suite_number", "ca_city", "ca_county", "ca_state", "ca_zip",
        "ca_country", "ca_gmt_offset", "ca_location_type",
        "ctr_total_return"),
      Seq("c_customer_id", "c_salutation", "c_first_name", "c_last_name",
        "ca_street_number", "ca_street_name", "ca_street_type",
        "ca_suite_number", "ca_city", "ca_county", "ca_state", "ca_zip",
        "ca_country", big("ca_gmt_offset"), "ca_location_type",
        r2("ctr_total_return")),
      "c_customer_id NULLS FIRST, c_salutation NULLS FIRST, c_first_name NULLS FIRST, c_last_name NULLS FIRST, ca_street_number NULLS FIRST, ca_street_name NULLS FIRST, ca_street_type NULLS FIRST, ca_suite_number NULLS FIRST, ca_city NULLS FIRST, ca_county NULLS FIRST, ca_state NULLS FIRST, ca_zip NULLS FIRST, ca_country NULLS FIRST, ca_gmt_offset NULLS FIRST, ca_location_type NULLS FIRST, ctr_total_return NULLS FIRST"),
    verbatim("tpcds_q82_verbatim", BenchtoTpcdsTexts.q82,
      Seq("i_item_id", "i_item_desc", "i_current_price"),
      Seq("i_item_id", "i_item_desc", r4("i_current_price")),
      "i_item_id NULLS FIRST, i_item_desc NULLS FIRST, i_current_price NULLS FIRST"),
    verbatim("tpcds_q83_verbatim", BenchtoTpcdsTexts.q83,
      Seq("item_id", "sr_item_qty", "sr_dev", "cr_item_qty", "cr_dev",
        "wr_item_qty", "wr_dev", "average"),
      Seq("item_id", big("sr_item_qty"), r2("sr_dev"), big("cr_item_qty"),
        r2("cr_dev"), big("wr_item_qty"), r2("wr_dev"), r4("average")),
      "item_id NULLS FIRST, sr_item_qty NULLS FIRST, sr_dev NULLS FIRST, cr_item_qty NULLS FIRST, cr_dev NULLS FIRST, wr_item_qty NULLS FIRST, wr_dev NULLS FIRST, average NULLS FIRST"),
    verbatim("tpcds_q84_verbatim", BenchtoTpcdsTexts.q84,
      Seq("customer_id", "c2"),
      Seq("customer_id", "c2"),
      "customer_id NULLS FIRST, c2 NULLS FIRST"),
    verbatim("tpcds_q85_verbatim", BenchtoTpcdsTexts.q85,
      Seq("c1", "c2", "c3", "c4"),
      Seq("c1", r4("c2"), r4("c3"), r4("c4")),
      "c1 NULLS FIRST, c2 NULLS FIRST, c3 NULLS FIRST, c4 NULLS FIRST"),
    verbatim("tpcds_q86_verbatim", BenchtoTpcdsTexts.q86,
      Seq("total_sum", "i_category", "i_class", "lochierarchy",
        "rank_within_parent"),
      Seq(r2("total_sum"), "i_category", "i_class", big("lochierarchy"),
        big("rank_within_parent")),
      "total_sum NULLS FIRST, i_category NULLS FIRST, i_class NULLS FIRST, lochierarchy NULLS FIRST, rank_within_parent NULLS FIRST"),
    verbatim("tpcds_q91_verbatim", BenchtoTpcdsTexts.q91,
      Seq("call_center", "call_center_name", "manager", "returns_loss"),
      Seq("call_center", "call_center_name", "manager", r2("returns_loss")),
      "call_center NULLS FIRST, call_center_name NULLS FIRST, manager NULLS FIRST, returns_loss NULLS FIRST"),
    verbatim("tpcds_q92_verbatim", BenchtoTpcdsTexts.q92,
      Seq("c1"),
      Seq(r2("c1")),
      "c1 NULLS FIRST"),
    verbatim("tpcds_q94_verbatim", BenchtoTpcdsTexts.q94,
      Seq("c1", "c2", "c3"),
      Seq(big("c1"), r2("c2"), r2("c3")),
      "c1 NULLS FIRST, c2 NULLS FIRST, c3 NULLS FIRST"),
    verbatim("tpcds_q95_verbatim", BenchtoTpcdsTexts.q95,
      Seq("c1", "c2", "c3"),
      Seq(big("c1"), r2("c2"), r2("c3")),
      "c1 NULLS FIRST, c2 NULLS FIRST, c3 NULLS FIRST"),
    // q50/q62/q99 bucket shipping/return lag as `date_sk - date_sk <= N`:
    // against the synthesized DATE-typed *_date_sk views that subtraction
    // is integer days via ResolveDateSubToDays (plans/DateDayArithmetic),
    // matching both the BIGINT surrogate-key schema and DuckDB's
    // DATE - DATE = INTEGER — the texts run unmodified on both engines
    verbatim("tpcds_q50_verbatim", BenchtoTpcdsTexts.q50,
      Seq("s_store_name", "s_company_id", "s_street_number", "s_street_name",
        "s_street_type", "s_suite_number", "s_city", "s_county", "s_state",
        "s_zip", "c11", "c12", "c13", "c14", "c15"),
      Seq("s_store_name", big("s_company_id"), "s_street_number",
        "s_street_name", "s_street_type", "s_suite_number", "s_city",
        "s_county", "s_state", "s_zip", big("c11"), big("c12"), big("c13"),
        big("c14"), big("c15")),
      "s_store_name NULLS FIRST, s_company_id NULLS FIRST, s_street_number NULLS FIRST, s_street_name NULLS FIRST, s_street_type NULLS FIRST, s_suite_number NULLS FIRST, s_city NULLS FIRST, s_county NULLS FIRST, s_state NULLS FIRST, s_zip NULLS FIRST, c11 NULLS FIRST, c12 NULLS FIRST, c13 NULLS FIRST, c14 NULLS FIRST, c15 NULLS FIRST"),
    verbatim("tpcds_q62_verbatim", BenchtoTpcdsTexts.q62,
      Seq("c1", "sm_type", "web_name", "c4", "c5", "c6", "c7", "c8"),
      Seq("c1", "sm_type", "web_name", big("c4"), big("c5"), big("c6"),
        big("c7"), big("c8")),
      "c1 NULLS FIRST, sm_type NULLS FIRST, web_name NULLS FIRST, c4 NULLS FIRST, c5 NULLS FIRST, c6 NULLS FIRST, c7 NULLS FIRST, c8 NULLS FIRST"),
    verbatim("tpcds_q99_verbatim", BenchtoTpcdsTexts.q99,
      Seq("c1", "sm_type", "cc_name", "c4", "c5", "c6", "c7", "c8"),
      Seq("c1", "sm_type", "cc_name", big("c4"), big("c5"), big("c6"),
        big("c7"), big("c8")),
      "c1 NULLS FIRST, sm_type NULLS FIRST, cc_name NULLS FIRST, c4 NULLS FIRST, c5 NULLS FIRST, c6 NULLS FIRST, c7 NULLS FIRST, c8 NULLS FIRST"),
    // q04 verbatim: the spec's 2001/2002 year pair has its second year
    // outside the fixture epoch (1995-2001), so the growth-ratio joins
    // are honest-empty on both engines; tpcds_q04 is the real-rows twin
    // with the pair retuned to 1999/2000
    verbatim("tpcds_q04_verbatim", BenchtoTpcdsTexts.q04,
      Seq("customer_id", "customer_first_name", "customer_last_name",
        "customer_preferred_cust_flag"),
      Seq("customer_id", "customer_first_name", "customer_last_name",
        "customer_preferred_cust_flag"),
      "customer_id NULLS FIRST, customer_first_name NULLS FIRST, customer_last_name NULLS FIRST, customer_preferred_cust_flag NULLS FIRST"),
  )
}
