package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Validates the non-oracle dedup paths against exact ground truth
  * computed with the same engine's oracle-checked primitives.
  */
class TextOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def run(name: String) =
    SparkEntry.queries(name)(spark, TestSession.sf)

  test("portable banding: gate-scale buckets stay under the 256 cap (determinism contract)") {
    // The portable-oracle twins (dd_incremental_minhash_portable,
    // dd_minhash_clusters_portable) are deterministic only while no
    // band bucket exceeds MinhashMaxBucket: past the cap the batch
    // path's bounded_collect_list keeps an ARBITRARY 256-subset while
    // the DuckDB replay (and the incremental census) drops the bucket
    // whole. This pins the contract at test SF; the sf0.01 gate run is
    // the empirical check at gate scale.
    Tables.register(spark, TestSession.sf)
    val m = graft.operators.TextOps.portableBandedDocKeys(spark.table("documents"))
      .groupBy("band_key").count()
      .agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0)
    assert(m <= 256, s"portable band bucket of $m members breaks the twin determinism contract")
  }

  test("exact-substring spans: planted passages merge to maximal spans") {
    import spark.implicits._
    // a 40-char passage shared by docs 1 and 2, plus unique filler; with
    // k=10 the 31 duplicated gram starts must merge into ONE span of 40
    val passage = "the quick brown fox jumps over a lazy dog" // 41 chars
    // prefixes/suffixes share NO 10-char substring with each other
    val docs = Seq(
      (1L, s"abcdefghij klmnop $passage qrstu vwxyz"),
      (2L, s"zyxwvutsrq ponmlk $passage 01234 56789"),
      (3L, "no repeats here at all 99999")
    ).toDF("doc_id", "text")
    val out = operators.TextOps.duplicatedSpans(docs, k = 10)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("dup_chars"))).toMap
    assert(!out.contains(3L), "doc without duplicated grams is absent")
    for (id <- Seq(1L, 2L)) {
      val (n, chars) = out(id)
      assert(n == 1L, s"doc $id: adjacent duplicated grams merge into one span, got $n")
      // the maximal duplicated region is the passage plus the shared
      // single spaces around it captured by straddling grams
      assert(chars >= passage.length && chars <= passage.length + 2 * 10,
        s"doc $id span chars $chars vs passage ${passage.length}")
    }
    // a repeat INSIDE one document also counts: one doc, passage twice
    val self = Seq((7L, s"$passage filler filler $passage")).toDF("doc_id", "text")
    val selfOut = operators.TextOps.duplicatedSpans(self, k = 10).collect()
    assert(selfOut.length == 1 && selfOut.head.getAs[Long]("n_spans") == 2L,
      "within-document repetition yields two spans")
  }

  test("exact-substring salted/wide-hash variants match the default plan") {
    // the skew variants (round 12: salted two-level window, 128-bit
    // gram key) must emit the IDENTICAL result set — pinned on
    // the gate corpus, which is rich in cross-doc duplicate grams
    Tables.register(spark, TestSession.sf)
    val docs = spark.table("documents").select(col("doc_id"), col("text"))
    val base = operators.TextOps.duplicatedSpans(docs)
      .orderBy("doc_id").collect().toSeq
    assert(base.nonEmpty, "gate corpus must contain duplicated spans")
    def spans(salt: Option[Int], threshold: Long = operators.TextOps.CensusThreshold) =
      operators.TextOps.duplicatedSpans(docs, 20, salt, threshold)
        .orderBy("doc_id").collect().toSeq
    for ((salt, wide) <- Seq((5, "false"), (0, "true"), (3, "true"))) {
      spark.conf.set("spark.graft.exactSubstring.wideHash", wide)
      try assert(spans(Some(salt)) == base, s"variant salt=$salt wideHash=$wide diverges")
      finally spark.conf.unset("spark.graft.exactSubstring.wideHash")
    }
    // the SELF-TRIGGERING census probe (round 13): no forced salt, a
    // tiny threshold forces the salted pick, the default keeps the
    // window — both adaptive results equal the base, and the recorded
    // decision, read from a traced run's record, names the chosen plan
    for ((threshold, expectPlan) <-
        Seq((1L, "salted-32"), (operators.TextOps.CensusThreshold, "window"))) {
      assert(spans(None, threshold) == base, s"adaptive (threshold=$threshold) diverges")
      val plan = QueryTrace(spark)(operators.TextOps.duplicatedSpans(docs, 20, None, threshold))
        .decisions.map(_.choice)
      assert(plan.size == 1 && plan.head.startsWith(expectPlan),
        s"adaptive threshold=$threshold picked $plan, expected $expectPlan")
    }
    // a forced salt of 0 is the unconditional single-window plan (no probe)
    assert(spans(Some(0)) == base)
  }

  test("minhash LSH pairs are genuinely similar (precision)") {
    val pairs = run("dd_minhash_lsh").collect()
    // every emitted pair passed the exact-jaccard >= 0.5 verification
    assert(pairs.forall(_.getAs[Double]("jaccard") >= 0.5))
  }

  test("minhash LSH finds planted near-duplicates (recall)") {
    // plant near-duplicates into the corpus and run the REAL pipeline:
    // a doc and its copy-with-one-extra-token have jaccard ≈ 1 on word
    // 3-gram shingles, so identical signatures must collide in every band
    val docs = Tables.load(spark, TestSession.sf, "documents")
      .select(col("doc_id"), col("text"))
    val t0 = docs.filter(col("doc_id") === 0).select(col("text")).collect()(0).getString(0)
    val planted = spark.createDataFrame(Seq(
      (100001L, t0), (100002L, t0 + " extra"),
    )).toDF("doc_id", "text")
    val pairs = graft.operators.TextOps.minhashPairs(docs.union(planted))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100001L, 100002L)), s"planted pair missing from ${pairs.size} pairs")
    // the planted docs also duplicate doc 0 itself
    assert(pairs.contains((0L, 100001L)), "copy of doc 0 not recalled")
  }

  test("connected components: transitive chains collapse, planted dups cluster") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.operators.TextOps
    // transitivity on a synthetic graph: a~b, b~c (no a~c edge) is ONE
    // component; disconnected pairs stay apart
    val schema = StructType(Seq(StructField("doc_a", LongType), StructField("doc_b", LongType)))
    val pairs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, 2L), Row(2L, 3L), Row(10L, 11L))), schema)
    val cc = TextOps.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // planted near-dup triple through the REAL minhash pipeline: doc 0,
    // a copy, and a copy-of-the-copy all land in one min-labeled cluster
    val docs = Tables.load(spark, TestSession.sf, "documents")
      .select(col("doc_id"), col("text"))
    val t0 = docs.filter(col("doc_id") === 0).select(col("text")).collect()(0).getString(0)
    val planted = spark.createDataFrame(Seq(
      (100001L, t0), (100002L, t0 + " extra"),
    )).toDF("doc_id", "text")
    val lsh = TextOps.connectedComponents(
      TextOps.minhashPairs(docs.union(planted)).select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lsh(100001L) == 0L && lsh(100002L) == 0L && lsh(0L) == 0L,
      s"planted copies must collapse onto doc 0: ${lsh.view.filterKeys(_ >= 100000L).toMap}")
    // the oracle-checked exact clusters keep the structural invariants:
    // label is the component minimum and every member has a partner
    run("dd_jaccard_clusters").collect().foreach { r =>
      assert(r.getLong(1) <= r.getLong(0), "label must be the min doc_id")
      assert(r.getLong(2) >= 2, "every clustered doc has at least one partner")
    }
    // a graph that cannot stabilize inside the round cap fails LOUDLY
    // instead of returning partial (wrong) labels: a 10-node chain is not
    // a star, so one contraction round changes its edges and cannot also
    // confirm stability. (The cap belongs to the DISTRIBUTED path — force
    // it by setting the driver-path ceiling to 0; the driver union-find
    // needs no rounds.)
    val chain = spark.createDataFrame(
      spark.sparkContext.parallelize((1L until 10L).map(i => Row(i, i + 1))), schema)
    val e = intercept[IllegalStateException](
      TextOps.connectedComponents(chain, maxIters = 1, driverMaxEdges = 0))
    assert(e.getMessage.contains("did not converge"))
  }

  test("connected components: driver union-find ≡ distributed loop") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.operators.TextOps
    val schema = StructType(Seq(StructField("doc_a", LongType), StructField("doc_b", LongType)))
    // mixed graph: a chain, a triangle-with-tail, an isolated pair, and
    // edges in both id orientations
    val edges = Seq(Row(5L, 4L), Row(4L, 3L), Row(7L, 9L), Row(9L, 8L),
      Row(8L, 7L), Row(9L, 12L), Row(20L, 21L), Row(2L, 3L))
    val pairs = spark.createDataFrame(spark.sparkContext.parallelize(edges), schema)
    val fast = TextOps.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = TextOps.connectedComponents(pairs, driverMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == loop, s"driver fast path diverged: $fast vs $loop")
    assert(fast(5L) == 2L && fast(12L) == 7L && fast(21L) == 20L)
  }

  test("large-star/small-star components: deep chains converge in O(log n) rounds") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.operators.TextOps
    val schema = StructType(Seq(StructField("doc_a", LongType), StructField("doc_b", LongType)))
    // a 60-node path has diameter 59, far past any per-hop round cap; the
    // distributed path's star contraction collapses it inside its default
    // cap — the adversarial case the contraction exists for
    val chain = spark.createDataFrame(
      spark.sparkContext.parallelize((1L until 60L).map(i => Row(i, i + 1))), schema)
    val cc = TextOps.connectedComponents(chain, driverMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 60 && cc.values.forall(_ == 1L),
      s"chain must collapse to one component rooted at 1: ${cc.values.toSet}")
    // parity of the driver union-find and the distributed path on the real
    // LSH pair graph
    val docs = Tables.load(spark, TestSession.sf, "documents")
      .select(col("doc_id"), col("text"))
    val pairs = TextOps.minhashPairs(docs).select("doc_a", "doc_b")
      .localCheckpoint(true)
    val a = TextOps.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = TextOps.connectedComponents(pairs, driverMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, s"label maps diverge: ${a.size} vs ${b.size}")
    assert(a.nonEmpty)
  }

  test("incremental minhash equals the batch pairs that touch a new doc; reuse skips the index build") {
    import graft.operators.TextOps
    val docs = Tables.load(spark, TestSession.sf, "documents")
      .select(col("doc_id"), col("text"))
    // ground truth: the full batch pipeline, restricted to pairs with at
    // least one "new" (odd doc_id) member — old↔old pairs are day-N-1
    // work the incremental path must NOT redo
    val full = TextOps.minhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a % 2 == 1 || b % 2 == 1 }.toSet
    val key = s"${TestSession.sf}-spec"
    val inc1 = TextOps.incrementalMinhashPairs(spark, docs, key).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc1 == full,
      s"incremental must find exactly the new-touching pairs: missing=${full -- inc1}, extra=${inc1 -- full}")
    // reuse: the persisted band index replaces re-signaturing the corpus
    val builds = TextOps.lshIndexBuilds.get
    val inc2 = TextOps.incrementalMinhashPairs(spark, docs, key).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc2 == inc1)
    assert(TextOps.lshIndexBuilds.get == builds,
      "second ingestion must reuse the persisted index, not rebuild it")
  }

  test("changing LSH params produces a fresh index, never reuses a stale one") {
    import graft.operators.TextOps
    val docs = Tables.load(spark, TestSession.sf, "documents")
      .select(col("doc_id"), col("text"))
    val key = s"${TestSession.sf}-paramspec"
    TextOps.incrementalMinhashPairs(spark, docs, key).collect()
    val builds = TextOps.lshIndexBuilds.get
    // same key, same params → reuse
    TextOps.incrementalMinhashPairs(spark, docs, key).collect()
    assert(TextOps.lshIndexBuilds.get == builds, "unchanged params must reuse")
    // same key, different banding → the params fingerprint in the dir
    // name forces a rebuild (a stale 16-band index would silently serve
    // wrong candidates for an 8-band pipeline)
    TextOps.incrementalMinhashPairs(spark, docs, key, bands = 8).collect()
    assert(TextOps.lshIndexBuilds.get == builds + 1,
      "changed band count must build a fresh index")
  }

  test("minhash survives a duplicate-saturated bucket (cap bounds the blowup)") {
    // 600 identical docs put one value in every band bucket — far over
    // the 256-member cap. Uncapped this is 600²/2 ≈ 180k candidate pairs
    // per band; capped, expansion is bounded by cap²/2 and the pipeline
    // must still link every doc into the duplicate cluster.
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val saturated = (0L until 600L).map(id => (id, base)).toDF("doc_id", "text")
    val pairs = graft.operators.TextOps.minhashPairs(saturated)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "saturated corpus must still produce duplicate pairs")
    assert(pairs.length <= 256 * 256 / 2,
      s"bucket cap must bound candidate expansion, got ${pairs.length} pairs")
    // every doc surviving in some pair ⇒ a dedup consumer can cluster;
    // with one shared signature the capped bucket members all pair up
    val members = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(members.size >= 2 && members.size <= 600)
  }

  test("simhash survives a duplicate-saturated bucket (cap bounds the blowup)") {
    // 600 identical docs share one simhash, so all four 16-bit band
    // buckets saturate far past the 256-member cap. Capped, candidate
    // expansion is bounded by bands × cap²/2; the cluster must still link.
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val saturated = (0L until 600L).map(id => (id, base)).toDF("doc_id", "text")
    val pairs = graft.operators.TextOps.simhashPairs(saturated)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "saturated corpus must still produce duplicate pairs")
    assert(pairs.length <= 4 * 256 * 256 / 2,
      s"bucket cap must bound candidate expansion, got ${pairs.length} pairs")
  }

  test("simhash finds planted near-identical docs; emitted hammings are exact") {
    val docs = Tables.load(spark, TestSession.sf, "documents")
      .select(col("doc_id"), col("text"))
    val t0 = docs.filter(col("doc_id") === 0).select(col("text")).collect()(0).getString(0)
    val planted = spark.createDataFrame(Seq((100001L, t0))).toDF("doc_id", "text")
    val df = graft.operators.TextOps.simhashPairs(docs.union(planted))
    assert(df.columns.toSeq == Seq("doc_a", "doc_b", "hamming"))
    val rows = df.collect()
    assert(rows.forall(_.getAs[Int]("hamming") <= 3))
    // identical token set → identical simhash → hamming 0
    val plantRow = rows.find(r => r.getLong(0) == 0L && r.getLong(1) == 100001L)
    assert(plantRow.exists(_.getAs[Int]("hamming") == 0), s"planted pair missing")
  }

  test("fingerprint equality implies token-set equality") {
    val fp = run("tx_fingerprint")
    assert(fp.select("doc_id").distinct().count() == fp.count())
  }

  test("langid predictions are deterministic and cover known labels") {
    val out = run("tx_langid").collect()
    assert(out.nonEmpty)
    val langs = Set("en", "es", "de", "fr")
    assert(out.forall(r => langs.contains(r.getAs[String]("predicted"))))
  }

  test("dd_survivors_quality: longest doc (tiebreak min id) survives each cluster") {
    val docs = Tables.load(spark, TestSession.sf, "documents")
    val chars = docs.select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val membership = run("dd_jaccard_clusters").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster")))
    val expected = membership.groupBy(_._2).map { case (c, ms) =>
      c -> ms.map(_._1).minBy(id => (-chars(id), id))
    }
    val got = run("dd_survivors_quality").collect()
      .map(r => r.getAs[Long]("cluster") -> r.getAs[Long]("survivor")).toMap
    assert(got.nonEmpty && got == expected)
  }

  test("dd_survivors_quality: rank-1 filter pushes into WindowGroupLimit") {
    val plan = run("dd_survivors_quality").queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"survivor selection must keep one row per cluster pre-shuffle:\n$plan")
  }

  test("bloom prefilter dedup equals the plain exact join (no false negatives)") {
    val docs = Tables.load(spark, TestSession.sf, "documents")
    val got = operators.TextOps.bloomPrefilterDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = operators.TextOps.dayNBatch(docs)
      .join(docs.select(col("doc_id").as("corpus_id"), col("text")), "text")
      .groupBy("doc_id")
      .agg(min("corpus_id").as("dup_of"), count(lit(1)).as("n_copies"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty, "the re-crawl half of the batch is all duplicates")
    assert(got.sameElements(expect),
      "bloom has no false negatives and verify removes false positives, " +
        "so the prefiltered result must be bit-identical to the exact join")
  }

  test("incremental bloom dedup equals the one-shot pipeline; reuse skips the rebuild") {
    val docs = Tables.load(spark, TestSession.sf, "documents")
    val key = s"${TestSession.sf}-bloomspec"
    val oneShot = operators.TextOps.bloomPrefilterDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inc1 = operators.TextOps.incrementalBloomDedup(spark, docs, key).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc1 == oneShot,
      "the md5-digest index join must reproduce the text-equality result")
    val builds = operators.TextOps.bloomIndexBuilds.get
    val inc2 = operators.TextOps.incrementalBloomDedup(spark, docs, key).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc2 == inc1)
    assert(operators.TextOps.bloomIndexBuilds.get == builds,
      "second ingestion must reuse the persisted bloom+digest index")
  }

  test("bloom prefilter actually prunes: fresh docs never reach the verify join") {
    val docs = Tables.load(spark, TestSession.sf, "documents")
    val corpus = docs.select("text")
    val batch = operators.TextOps.dayNBatch(docs)
    val bloom = corpus.agg(expr("bloom_filter_agg(text, 1000000L)")).scalar()
    val nRecrawl = batch.filter(col("doc_id") < 2000000L).count()
    val nFresh = batch.filter(col("doc_id") >= 2000000L).count()
    val nSuspect = batch
      .filter(call_function("bloom_might_contain", bloom, col("text"))).count()
    // every re-crawled duplicate must pass the bloom (no false negatives)…
    assert(nSuspect >= nRecrawl)
    // …and the fresh docs are pruned up to the configured fpp (1M items
    // on default bits ≈ 2–3%; generous slack for tiny fixtures)
    assert(nSuspect <= nRecrawl + math.max(5L, (nFresh * 0.1).toLong),
      s"suspects $nSuspect vs $nRecrawl re-crawled of ${nRecrawl + nFresh} " +
        "batch rows — the prefilter is not pruning")
  }
}
