package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the PHYSICAL PLAN SHAPE of representative queries — the
  * properties that decide whether a plan survives a 100× scale-up:
  * filters reaching the parquet scan, column pruning, broadcast joins on
  * dims, rank-limit pushdown, no stray cartesian products. A regression
  * here can keep results correct while silently destroying scalability,
  * which correctness gates never catch.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSession.sf)
      .queryExecution.executedPlan.toString

  test("codegen-fallback gate counts CodeGenerator ERROR events") {
    // plumbing proof for the standing gate: an ERROR logged under the
    // codegen logger name must increment the counter (a real janino
    // failure logs exactly this way); INFO/WARN and other loggers must
    // not. Without this, a log4j config change could silently disconnect
    // the appender and the gate would report 0 forever.
    CodegenFallbackGate.install()
    val before = CodegenFallbackGate.fallbacks
    val lg = org.apache.logging.log4j.LogManager.getLogger(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
    lg.error("synthetic compile-failure event (gate plumbing test)")
    lg.warn("warn must not count")
    org.apache.logging.log4j.LogManager.getLogger("graft.SomethingElse")
      .error("other logger must not count")
    assert(CodegenFallbackGate.fallbacks == before + 1)
  }

  test("q06: predicates pushed to the parquet scan, columns pruned") {
    val p = plan("q06_revenue_forecast")
    assert(p.contains("PushedFilters: ["), s"no pushed filters:\n$p")
    assert(p.contains("l_shipdate") && p.contains("GreaterThanOrEqual"),
      "shipdate range must reach the scan")
    // projection needs only 4 columns; the 16-column row must not be read
    assert(p.contains("ReadSchema") && !p.contains("l_comment"),
      "column pruning failed — scan reads unused columns")
  }

  test("tpch views: synthesized columns neither block pushdown nor widen the scan") {
    // the verbatim corpus resolves through TpchSynth views that ADD
    // derived columns (shipmode, commitdate, …); a query not touching
    // them must still push its filters into the parquet scan and read
    // only the base columns it needs — otherwise every verbatim query
    // pays the full synthetic projection at 100 TB
    val p = plan("dialect_q06_shifted")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      p.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate filter must reach the scan through the view:\n$p")
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty)
    readSchemas.foreach { rs =>
      assert(!rs.contains("l_orderkey") && !rs.contains("l_linenumber"),
        s"scan reads columns only the synthetic derivations need: $rs\n$p")
      assert(rs.split(",").length <= 4, s"scan not pruned: $rs")
    }
  }

  test("q05: dimension joins broadcast, fact tables never broadcast") {
    val p = plan("q05_local_supplier")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!p.contains("CartesianProduct"), "no cartesian product in q05")
  }

  test("win_topn_per_group: rank filter pushes into WindowGroupLimit") {
    val p = plan("win_topn_per_group")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k should use WindowGroupLimit (TopNRowNumber analog):\n$p")
  }

  test("join_asof: union+window plan — one key shuffle, no pairwise join") {
    val p = plan("join_asof")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not expand pairwise:\n$p")
    assert(p.contains("Window"), "as-of carries state via an ordered window")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"exactly one shuffle, on the join key:\n$p")
  }

  test("join_asof matches the brute-force range-join spelling") {
    // the quadratic spelling Spark CAN express: range join then keep the
    // greatest right ts per left row — same semantics, unusable at
    // scale; sf0.001 referee for the union+window plan
    val asof = SparkEntry.queries("join_asof")(spark, TestSession.sf) // registers tables
    val ev = spark.table("events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("eu"), col("event_id").as("err_id"),
        col("ts").as("ets"), col("value").as("ev"))
    val brute = c.join(e, col("user_id") === col("eu") && col("ets") <= col("ts"), "left")
      .groupBy("user_id", "click_id", "ts")
      .agg(max_by(struct(col("err_id"), col("ets"), col("ev")), col("ets")).as("m"))
      .select(col("user_id"), col("click_id"), col("m.err_id").as("err_id"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("m.ets"))).as("err_gap_s"),
        round(col("m.ev"), 2).as("err_value"))
    assert(asof.count() === c.count(), "left rows all preserved")
    assert(asof.exceptAll(brute).isEmpty && brute.exceptAll(asof).isEmpty,
      "union+window as-of must equal the brute-force range join")
  }

  test("sim_bm25_topk: broadcast stats, top-k without global sort") {
    val p = plan("sim_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"BM25 top-k must not globally sort:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "df/stats sides must broadcast — never shuffle the tf table against 3 rows")
    assert(!p.contains("CartesianProduct"), "stats join must broadcast, not cartesian")
  }

  test("sort_topn: orderBy+limit becomes TakeOrderedAndProject") {
    val p = plan("sort_topn")
    assert(p.contains("TakeOrderedAndProject"),
      "TopN must not globally sort")
  }

  test("minhash: whole pipeline has no cartesian product and prunes text column early") {
    val p = plan("dd_minhash_lsh")
    assert(!p.contains("CartesianProduct"), "LSH must never go all-pairs")
    assert(p.contains("HashAggregate"), "signature min-agg must be hash aggregation")
  }

  test("spatial polygon join is a grid equi-join, not a cartesian product") {
    val p = plan("spatial_polygon_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"polygon join must go through grid cells, not all-pairs:\n$p")
  }

  test("q18: IN-subquery becomes a semi join, not a full join") {
    val p = plan("q18_large_orders")
    assert(p.contains("LeftSemi"), s"IN subquery should plan as semi join:\n$p")
  }

  test("bucketed co-located join plans without a shuffle exchange") {
    Tables.register(spark, TestSession.sf)
    graft.operators.WriteOps.bucketedTables(spark)
    val p = spark.sql(
      """SELECT o_orderpriority, count(*) FROM graft_orders_bkt
        |JOIN graft_lineitem_bkt ON o_orderkey = l_orderkey GROUP BY 1""".stripMargin)
      .queryExecution.executedPlan.toString
    val joinPart = p.substring(p.indexOf("Join"))
    assert(!joinPart.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle either side:\n$p")
  }

  test("whole-stage codegen covers the TPC-H aggregation path") {
    // AQE prints no codegen spans before execution — ask explain directly
    val p = SparkEntry.queries("q01_pricing_summary")(spark, TestSession.sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(p.contains("WholeStageCodegen"), "agg path must be codegen'd")
  }

  test("spatial distance join is a grid equi-join, not a cartesian product") {
    val p = plan("spatial_distance_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"distance join must bucket to an equi-join (reference ExtractSpatialJoins analog):\n$p")
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // The 100 TB skew story has two layers: salting for aggregation
    // (agg_salted_twophase, oracle-checked) and AQE's OptimizeSkewedJoin
    // for joins — this pins the latter actually firing: one hot key
    // carrying ~90% of the probe side must be split after execution.
    // AQE judges skew by shuffled bytes, so the hot rows carry their
    // distinct ids: a bare repeated key compresses to less than twice
    // the median partition once there are only a few partitions.
    import org.apache.spark.sql.functions.{col, sum, when}
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val left = spark.range(200000)
        .select(when(col("id") < 180000, 0L).otherwise(col("id")).as("k"), col("id").as("v"))
      val right = spark.range(2000).select(col("id").as("k"))
      val joined = left.join(right, "k").agg(sum("v"))
      joined.collect() // execute THIS QueryExecution so AQE finalizes it
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE must mark the hot-key join as skew-handled:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("CBO: ANALYZE feeds rowCount stats and join reorder uses them") {
    // The session claims spark.sql.cbo.* — this pins that the claim is
    // real for CATALOG tables (temp views carry no stats, documented):
    // after ANALYZE, relations expose rowCount, and CostBasedJoinReorder
    // moves a filtered-to-tiny dimension ahead of the syntactically-first
    // one. Mirrors the reference's stats-driven planning
    // (presto-main/.../cost/CostBasedOptimizer surface).
    Tables.register(spark, TestSession.sf)
    import org.apache.spark.sql.catalyst.plans.logical.Join
    try {
      spark.sql("DROP TABLE IF EXISTS cbo_fact")
      spark.sql("DROP TABLE IF EXISTS cbo_dim_big")
      spark.sql("DROP TABLE IF EXISTS cbo_dim_small")
      spark.sql("CREATE TABLE cbo_fact USING parquet AS SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem")
      spark.sql("CREATE TABLE cbo_dim_big USING parquet AS SELECT o_orderkey, o_orderpriority FROM orders")
      spark.sql("CREATE TABLE cbo_dim_small USING parquet AS SELECT s_suppkey, s_name FROM supplier")
      Seq("cbo_fact", "cbo_dim_big", "cbo_dim_small").foreach { t =>
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
        val stats = spark.table(t).queryExecution.optimizedPlan.stats
        assert(stats.rowCount.isDefined, s"$t must expose rowCount after ANALYZE")
      }
      // syntactic order joins the BIG dim first; the small dim is further
      // filtered to ~1 row — a cost-based reorder must pull it forward
      val q = spark.sql(
        """SELECT count(*) FROM cbo_fact f
          |JOIN cbo_dim_big b ON f.l_orderkey = b.o_orderkey
          |JOIN cbo_dim_small s ON f.l_suppkey = s.s_suppkey
          |WHERE s.s_suppkey = 1""".stripMargin)
      val joins = q.queryExecution.optimizedPlan.collect { case j: Join => j }
      assert(joins.nonEmpty)
      val innermost = joins.last // deepest join in the reordered tree
      val leaves = innermost.collectLeaves().map(_.toString).mkString("\n")
      assert(leaves.contains("cbo_dim_small") && !leaves.contains("cbo_dim_big"),
        s"stats-informed reorder should join the filtered tiny dim first:\n${q.queryExecution.optimizedPlan}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS cbo_fact")
      spark.sql("DROP TABLE IF EXISTS cbo_dim_big")
      spark.sql("DROP TABLE IF EXISTS cbo_dim_small")
    }
  }
}
