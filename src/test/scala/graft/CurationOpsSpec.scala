package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior + plan-shape pins for the corpus-curation operators. The
  * value correctness of each query is oracle-checked by the driver gate;
  * these tests pin what the oracle can't see — planted-contamination
  * recall through the real pipeline and the physical-plan properties the
  * 100 TB design depends on (broadcast eval side, rank-limit pushdown).
  */
class CurationOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def run(name: String) =
    SparkEntry.queries(name)(spark, TestSession.sf)

  test("dd_decontaminate: planted copy of an eval doc is flagged, clean doc is not") {
    val docs = Tables.load(spark, TestSession.sf, "documents")
      .select(col("doc_id"), col("text"))
    // doc_id 20 is in the eval slice (20 % 20 = 0); plant a training doc
    // (id % 20 != 0) with the same text, and a clean doc whose 5-grams
    // exist nowhere (fresh vocabulary)
    val evalText = docs.filter(col("doc_id") === 20)
      .select("text").collect()(0).getString(0)
    val planted = spark.createDataFrame(Seq(
      (900001L, evalText),
      (900002L, "zq qx jv vw wk kp pz zb bq qd"),
    )).toDF("doc_id", "text")
    val hits = operators.CurationOps.decontaminate(docs.union(planted))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.contains(900001L), "exact copy of an eval doc must be flagged")
    // every distinct 5-gram of the copy is (at least) in eval doc 20
    assert(hits(900001L) >= 1)
    assert(!hits.contains(900002L), "doc with fresh vocabulary must not be flagged")
  }

  test("dd_decontaminate: eval n-gram side broadcasts (100 TB corpus never shuffles on gram)") {
    val p = run("dd_decontaminate").queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"eval-gram probe must be a broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join on the gram key would shuffle the full corpus")
  }

  test("sf0.01: no regex runs below the spread exchange (size guards sit in the generators)") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    val sf001 = new java.io.File(TestSession.sf).getParent + "/sf0.01"
    // Spread's repartition lets filters through, so a row filter on the
    // token count would tokenize every document once more in the
    // single-task scan stage below the exchange
    Seq("dd_decontaminate", "tx_perplexity", "tx_repetition").foreach { name =>
      val s = spark.newSession()
      // tx_perplexity tokenizes inside an eager localCheckpoint job, so
      // the plans of the executions run while building count too
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      s.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe.sparkPlan)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
      plans.add(SparkEntry.queries(name)(s, sf001).queryExecution.sparkPlan)
      org.apache.spark.sql.graft.BusDrain(s.sparkContext)
      val spreads = plans.toArray(Array.empty[SparkPlan]).toSeq.flatMap(_.collect {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
      })
      assert(spreads.nonEmpty, s"$name: no spread exchange at sf0.01")
      spreads.foreach { e =>
        val below = e.child.collect { case p => p.expressions }.flatten
        assert(!below.exists(_.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.RegExpExtractBase])),
          s"$name: regex below the spread exchange:\n$e")
      }
    }
  }

  test("sample_stratified: rank filter pushes into WindowGroupLimit") {
    val p = run("sample_stratified").queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"per-stratum top-k must keep <=k rows per map task before the shuffle:\n$p")
  }

  test("sample_stratified: exactly k rows per non-small stratum, deterministic") {
    val rows = run("sample_stratified").collect()
    val perStratum = rows.groupBy(r => (r.getString(0), r.getString(1)))
    val strata = Tables.load(spark, TestSession.sf, "documents")
      .groupBy("lang", "source").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    perStratum.foreach { case (k, rs) =>
      assert(rs.length == math.min(3L, strata(k)),
        s"stratum $k: got ${rs.length} rows for population ${strata(k)}")
    }
    // repeat run picks byte-identical doc_ids (hash order is content-free)
    val again = run("sample_stratified").collect().map(_.getLong(2)).toSeq
    assert(again == rows.map(_.getLong(2)).toSeq)
  }

  test("pipe_pack_sequences: bins are contiguous per source and conserve tokens") {
    val bins = run("pipe_pack_sequences").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val pat = raw"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n]+"
    val docs = Tables.load(spark, TestSession.sf, "documents")
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as("n_bpe"))
    val totals = docs.groupBy("source").agg(sum("n_bpe").as("t"), max("n_bpe").as("m"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    bins.groupBy(_._1).foreach { case (src, bs) =>
      val (total, maxDoc) = totals(src)
      assert(bs.map(_._4).sum == total, s"$src: packed tokens != corpus tokens")
      // no doc exceeds the window, so start offsets are dense and the
      // bin ids must be 0..max without gaps
      if (maxDoc <= operators.CurationOps.PackLen) {
        val ids = bs.map(_._2).sorted.toList
        assert(ids.headOption.contains(0L) && ids == (0L until ids.length).toList,
          s"$src: bin ids not contiguous: ${ids.mkString(",")}")
      }
    }
  }

  test("tx_redact_pii: planted email and phone both scrubbed, counts per rule") {
    // name carries a planted email; the phone is key-derived by the op
    val docs = spark.createDataFrame(Seq(
      (9012L, "jane.doe+spam@example.co.uk", 2, "BUILDING"),
    )).toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    docs.createOrReplaceTempView("customer")
    try {
      val r = SparkEntry.queries("tx_redact_pii")(spark, TestSession.sf).collect()(0)
      assert(r.getAs[Long]("n_phones") == 1L && r.getAs[Long]("n_emails") == 1L)
      val red = r.getAs[String]("redacted")
      assert(red.contains("[PHONE]") && red.contains("[EMAIL]"))
      assert(!red.contains("@") && !red.contains("-555-"), s"PII leaked: $red")
    } finally {
      Tables.load(spark, TestSession.sf, "customer")
        .createOrReplaceTempView("customer")
    }
  }

  test("tx_repetition: a pathologically repetitive doc scores ~1, a diverse doc scores low") {
    val docs = spark.createDataFrame(Seq(
      (1L, "spam ham " * 50),                       // one 2-gram dominates
      (2L, (1 to 100).map(i => s"w$i").mkString(" ")),  // all distinct
    )).toDF("doc_id", "text")
    docs.createOrReplaceTempView("documents")
    try {
      val r = SparkEntry.queries("tx_repetition")(spark, TestSession.sf)
        .collect().map(r => r.getLong(0) ->
          (r.getDouble(3), r.getDouble(4))).toMap
      val (top1, dup1) = r(1L)
      assert(top1 > 0.45 && dup1 > 0.97, s"repetitive doc under-scored: $top1, $dup1")
      val (top2, dup2) = r(2L)
      assert(top2 < 0.02 && dup2 == 0.0, s"diverse doc over-scored: $top2, $dup2")
    } finally {
      // restore the real table for subsequent suites sharing the session
      Tables.load(spark, TestSession.sf, "documents")
        .createOrReplaceTempView("documents")
    }
  }

  test("dd_url_canonical: every variance class collapses onto one canonical URL") {
    val out = SparkEntry.queries("dd_url_canonical")(spark, TestSession.sf).collect()
    // canonical form: no scheme/host uppercase, no www., no default port,
    // no trailing slash before ?, no utm_ params, no fragment
    assert(out.nonEmpty)
    for (r <- out) {
      val u = r.getString(0)
      assert(u.startsWith("https://") && !u.contains("WWW.") && !u.contains("www."),
        s"host not canonical: $u")
      assert(!u.contains(":443") && !u.contains("#") && !u.contains("utm_"),
        s"port/fragment/tracking survived: $u")
      assert(u == u.toLowerCase, s"case survived: $u")
      assert(!u.contains("/?") && !u.matches(".*/$"), s"trailing slash survived: $u")
    }
    // the synthesis maps every doc to (source, doc_id % 13): with
    // 20 sources × 13 pages the fixture's docs MUST collapse — total
    // canonicals is bounded and copies exceed 1 somewhere
    assert(out.length <= 20 * 13, s"${out.length} canonicals — variants did not collapse")
    assert(out.map(_.getLong(2)).max > 1, "no URL variant group collapsed")
    // conservation: group sizes sum to the corpus size
    val n = Tables.load(spark, TestSession.sf, "documents").count()
    assert(out.map(_.getLong(2)).sum == n)
  }

  test("tx_perplexity: repetitive text scores lower perplexity than diverse text") {
    val docs = spark.createDataFrame(Seq(
      (1L, "abc " * 200),                                // one trigram pattern
      (2L, (1 to 200).map(i => s"z${i}q${i * 7}").mkString(" ")),  // high entropy
    )).toDF("doc_id", "text")
    docs.createOrReplaceTempView("documents")
    try {
      val r = SparkEntry.queries("tx_perplexity")(spark, TestSession.sf)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(r(1L) < r(2L),
        s"repetitive doc ppl ${r(1L)} should be below diverse doc ppl ${r(2L)}")
      assert(r(1L) >= 1.0, "perplexity is bounded below by 1")
    } finally {
      Tables.load(spark, TestSession.sf, "documents")
        .createOrReplaceTempView("documents")
    }
  }

  test("tx_perplexity: the model side is bounded and broadcast (100 TB scale shape)") {
    val plan = SparkEntry.queries("tx_perplexity")(spark, TestSession.sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"gram-model join must broadcast the bounded (≤37³ rows) model side:\n$plan")
  }

  test("pipe_chunk_overlap: windows tile every document with stride 90") {
    import org.apache.spark.sql.functions._
    val chunks = SparkEntry.queries("pipe_chunk_overlap")(spark, TestSession.sf)
    val lens = Tables.load(spark, TestSession.sf, "documents")
      .select(col("doc_id"), length(col("text")).cast("bigint").as("len"))
    val agg = chunks.groupBy("doc_id").agg(
      min("start").as("first_start"),
      max(col("start") + col("chunk_chars") - 1).as("last_end"),
      count(lit(1)).as("n"),
      max("start").as("max_start"))
      .join(lens, "doc_id")
      .collect()
    assert(agg.nonEmpty)
    agg.foreach { r =>
      assert(r.getAs[Long]("first_start") == 1L, "first window starts at char 1")
      assert(r.getAs[Long]("last_end") == r.getAs[Long]("len"),
        s"doc ${r.get(0)}: windows must reach the last char")
      // start of window i is 1 + 90*i, so n windows ⇔ max_start = 1+90(n−1)
      assert(r.getAs[Long]("max_start") == 1L + 90L * (r.getAs[Long]("n") - 1),
        "starts advance by exactly the stride")
    }
    // map-side shape: no exchange before the final presentation sort
    val plan = chunks.queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 <= 1,
      s"chunking itself must be shuffle-free (one presentation sort allowed):\n$plan")
  }

  test("pipe_chunk_tokens: windows tile the token stream, never splitting a token") {
    import org.apache.spark.sql.functions._
    val chunks = SparkEntry.queries("pipe_chunk_tokens")(spark, TestSession.sf)
    val agg = chunks.groupBy("doc_id").agg(
      min("tok_start").as("first_start"),
      max(col("tok_start") + col("n_tokens") - 1).as("last_tok"),
      count(lit(1)).as("n_chunks"),
      max("tok_start").as("max_start"))
      .collect()
    assert(agg.nonEmpty)
    agg.foreach { r =>
      assert(r.getAs[Long]("first_start") == 1L)
      assert(r.getAs[Long]("max_start") ==
        1L + 48L * (r.getAs[Long]("n_chunks") - 1),
        "token starts advance by exactly the 48-token stride")
    }
    // last window ends at the document's token count: re-derive n from
    // the same tokenizer and compare per doc
    val n = Tables.load(spark, TestSession.sf, "documents").select(
      col("doc_id"),
      size(regexp_extract_all(col("text"),
        lit(raw"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n]+"),
        lit(0))).cast("bigint").as("n_toks"))
    val bad = chunks.groupBy("doc_id")
      .agg(max(col("tok_start") + col("n_tokens") - 1).as("last_tok"))
      .join(n, "doc_id")
      .filter(col("last_tok") =!= col("n_toks"))
      .count()
    assert(bad == 0L, "every document's final window must reach its last token")
  }

  test("pipe_leakage_safe_split: cluster-keyed split never leaks, naive split does") {
    val rows = SparkEntry.queries("pipe_leakage_safe_split")(spark, TestSession.sf)
      .collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("test", "train"))
    rows.foreach { r =>
      assert(r.getAs[Long]("leak_clusters") == 0L,
        "a cluster-keyed split cannot place one cluster on both sides")
      assert(r.getAs[Long]("naive_leak_clusters") > 0L,
        "the doc_id-hash strawman must demonstrably leak on this fixture")
    }
  }
}
