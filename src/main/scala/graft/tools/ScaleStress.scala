package graft.tools

import graft.{GraftSession, SparkEntry, Tables}
import graft.operators.{SimilarityOps, TextOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-stress harness for the dedup/ANN operator set (round-8 VERDICT
  * item 5): synthesizes a corpus `mult`× the sf0.1 fixture with an
  * ADVERSARIAL mix — near-dup clusters, exact-dup groups, and a
  * low-entropy slice (one repeated word, hundreds of docs per word →
  * identical shingle sets → one hot LSH band bucket per word) sized so
  * the 256-doc minhash/simhash bucket caps MUST bind — then times the
  * dd_ and sim_ headline queries and reports pre-cap bucket-size maxima
  * so "the caps actually bind" is measured, not argued from plans.
  *
  * Usage: runMain graft.tools.ScaleStress [mult]   (default 10 ≙ sf1)
  * Run at mult=1 and mult=10 and compare: wall-clock should scale
  * roughly linearly in corpus size; the saturated-bucket counters must
  * be > 0 at mult=10 (the adversarial slices exist at every mult).
  * Prints one JSON line, mirroring Bench's protocol.
  */
object ScaleStress {
  private val Vocab =
    Seq("spark", "table", "query", "scan", "column", "line", "part", "fast",
      "value", "sort", "agg", "join", "hash", "batch", "order", "small",
      "vector", "row", "page", "cache", "disk", "merge", "shuffle", "group")

  /** Deterministic synthetic corpus: 55% unique word-salad, 25% near-dup
    * clusters (~6 docs/cluster, one mutated word), 15% exact dups over
    * 500 bases, 5% low-entropy single-word docs over only 4 words
    * (mult=10 → ~625 docs per word, far past the 256 bucket cap).
    */
  def synth(spark: SparkSession, dir: String, mult: Int): Unit = {
    if (new java.io.File(s"$dir/documents.parquet/_SUCCESS").exists) return
    val vocabSql = Vocab.map("'" + _ + "'").mkString("array(", ", ", ")")
    def word(seed: String) =
      s"element_at($vocabSql, int(pmod(xxhash64($seed), ${Vocab.size})) + 1)"
    val nDocs = 5000L * mult
    val nClusters = math.max(nDocs / 25, 1)
    spark.range(nDocs).selectExpr(
      "id AS doc_id",
      s"""CASE
         |  WHEN id % 100 < 55 THEN
         |    concat_ws(' ', transform(sequence(1, 15 + int(pmod(xxhash64(id, 1), 76))),
         |      i -> ${word("id, i, 7")}))
         |  WHEN id % 100 < 80 THEN
         |    concat_ws(' ', transform(sequence(1, 15 + int(pmod(xxhash64(pmod(xxhash64(id, 2), $nClusters), 11), 76))),
         |      i -> CASE WHEN i = 1 + int(pmod(xxhash64(id, 3), 15))
         |           THEN ${word("id, 13")}
         |           ELSE ${word(s"pmod(xxhash64(id, 2), $nClusters), i, 17")} END))
         |  WHEN id % 100 < 95 THEN
         |    concat_ws(' ', transform(sequence(1, 15 + int(pmod(xxhash64(pmod(id, 500), 1), 76))),
         |      i -> ${word("pmod(id, 500), i, 7")}))
         |  ELSE
         |    concat_ws(' ', transform(sequence(1, 40 + int(pmod(xxhash64(id, 5), 160))),
         |      i -> element_at($vocabSql, int(id % 4) + 1)))
         |END AS text""".stripMargin,
      """CASE WHEN pmod(xxhash64(id, 6), 10) < 7 THEN 'en'
        |     WHEN pmod(xxhash64(id, 6), 10) < 9 THEN 'zh'
        |     ELSE 'de' END AS lang""".stripMargin,
      "concat('src', pmod(xxhash64(id, 7), 20)) AS source")
      .withColumn("n_chars", length(col("text")))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // embeddings: 90% around 200 centroids (small per-vec noise), 10%
    // exact copies over 8 bases — a hot identical-vector clump per base
    spark.range(2000L * mult).selectExpr(
      "id AS vec_id",
      """CASE WHEN id % 100 < 90 THEN
        |  transform(sequence(0, 63), j -> float(
        |    sin(pmod(xxhash64(pmod(xxhash64(id, 21), 200), j), 1000) / 159.0)
        |    + 0.05 * sin(pmod(xxhash64(id, j, 23), 1000) / 159.0)))
        |ELSE
        |  transform(sequence(0, 63), j -> float(
        |    sin(pmod(xxhash64(pmod(id, 8), j, 29), 1000) / 159.0)))
        |END AS embedding""".stripMargin,
      "int(pmod(xxhash64(id, 31), 10)) AS label")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // the dd_/sim_ set never touches the TPC-H tables; link them from
    // sf0.1 so Tables.register can still load the full catalog
    for (t <- Tables.all if t != "documents" && t != "embeddings") {
      val link = java.nio.file.Paths.get(s"$dir/$t.parquet")
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(
          link, java.nio.file.Paths.get(s"/root/testdata/sf0.1/$t.parquet"))
    }
  }

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    // Fail fast on the documented mult>=30 heap requirement (round-8
    // BENCHLOG: the default 8g driver OOMs mid-suite at mult=30 — not
    // data blowup but 32 concurrent task slots × per-task working set;
    // 48g — the margin a real per-executor layout provides — runs
    // clean). Refusing up front with the remediation beats an OOM
    // twenty minutes into the suite.
    if (mult >= 30) {
      val slots = GraftSession.cores
      val needGiB = math.max(1.25 * slots, 40.0) // measured margin at m30
      val haveGiB = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
      require(haveGiB >= needGiB,
        f"ScaleStress mult=$mult needs ≥ $needGiB%.0f GiB driver heap for " +
          f"$slots task slots (have $haveGiB%.1f GiB). Re-run with " +
          "SPARK_DRIVER_MEM=48g (see BENCHLOG.md, round-8 scale stress) " +
          "or lower SPARK_GRAFT_CPUS.")
    }
    val dir = s"/tmp/graft-stress-m$mult"
    new java.io.File(dir).mkdirs()
    val spark = GraftSession("scale-stress")
    synth(spark, dir, mult)
    Tables.register(spark, dir)

    val queries = Seq("dd_exact", "dd_minhash_lsh", "dd_minhash_clusters",
      "dd_simhash", "dd_incremental_minhash", "dd_embedding_lsh",
      "sim_lsh_ann", "sim_ivf_ann", "sim_cosine_topk",
      // text / pipeline family (map-side ops + one-shuffle composites —
      // expect ~linear scaling)
      "tx_stats", "tx_quality_filter", "tx_langid", "tx_fingerprint",
      "tx_redact_pii", "tx_repetition", "dd_decontaminate",
      // gram census + islands merge: linear in total characters (the
      // low-entropy/exact-dup slices make nearly every gram duplicated —
      // worst case for the join-back volume)
      "dd_exact_substring",
      "pipe_corpus_curation", "pipe_pack_sequences", "pipe_seeded_shuffle",
      "pipe_domain_mixture",
      // round-8 late additions: bloom prefilter (duplicate-saturated
      // corpus = worst case for suspect volume), URL canonicalization
      // (pure map-side + one shuffle), trigram LM (bounded model — the
      // broadcast side must NOT grow with the corpus)
      "dd_bloom_prefilter", "dd_url_canonical", "tx_perplexity",
      // round-9: SemDeDup — the k-means fit is the full-corpus pass;
      // cells bound the pairwise join (duplicate-saturated corpus =
      // worst case for within-cell pair volume)
      "dd_semdedup",
      // round-9: BPE — training is ONE word-count shuffle whose output
      // is vocabulary-bounded (the duplicate-saturated corpus grows the
      // corpus 10×/30× while the vocabulary barely moves — training
      // cost should be ~flat past the count pass); tokenize is map-side
      // encode with the Zipf memo (expect ~linear)
      "pipe_bpe_train", "pipe_bpe_tokenize")
    def once(q: String): Double = {
      // time the real training pass, not a cache read: every bpe_train
      // measurement drops the per-(session, dir) merge cache first
      if (q == "pipe_bpe_train") graft.operators.BpeOps.invalidateTrained(spark, dir)
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val times = queries.map { q =>
      once(q) // prewarm (for the incremental paths: the index build)
      val t = Seq(once(q), once(q)).min
      System.err.println(f"[stress] $q%-24s $t%8.2f s")
      q -> t
    }

    // do the caps bind? PRE-cap bucket sizes straight from the shared
    // key paths (the queries themselves run with the caps applied)
    val docs = spark.table("documents")
    val mh = TextOps.bandedDocKeys(docs).groupBy("band_key").count()
      .agg(max("count").as("mx"),
        sum(when(col("count") > 256, 1L).otherwise(0L)).as("over")).collect()(0)
    val emb = spark.table("embeddings")
    val autoB = SimilarityOps.autoBits(emb.count())
    val eb = SimilarityOps.bucketKeys(emb, 16, autoB).groupBy("bucket").count()
      .agg(max("count").as("mx"),
        sum(when(col("count") > 1024, 1L).otherwise(0L)).as("over")).collect()(0)
    // the documented dedup-grade scale config (T=8, B=16): sparse
    // buckets even under the hot clump — time it next to the default
    val t0 = System.nanoTime()
    SimilarityOps.lshCosinePairs(emb, 0.9, tables = 8, bits = 16)
      .write.format("noop").mode("overwrite").save()
    val deepCfg = (System.nanoTime() - t0) / 1e9

    def fmt(v: Double) = f"$v%.2f"
    val qs = times.map { case (k, t) => "\"" + k + "\":" + fmt(t) }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"scale_stress","mult":$mult,"docs":${5000L * mult},"vecs":${2000L * mult},""" +
      s""""queries":$qs,"minhash_max_bucket":${mh.getLong(0)},"minhash_buckets_over_cap":${mh.getLong(1)},""" +
      s""""emb_auto_bits":$autoB,"emb_max_bucket":${eb.getLong(0)},"emb_buckets_over_cap":${eb.getLong(1)},""" +
      s""""emb_lsh_t8b16_sec":${fmt(deepCfg)}}""")
    spark.stop()
  }
}
