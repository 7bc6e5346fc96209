package graft.operators

import graft.QueryGroup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (ARRAY<FLOAT>, dim 64).
  * Two paths, per the training-pipeline brief:
  *  - brute-force cosine top-k — the exactness baseline (O(Q·N), fine
  *    when the query set is small and broadcast);
  *  - LSH-bucketed ANN (random hyperplanes) — the scale path: signatures
  *    are map-side, candidate generation shuffles only bucket keys, so it
  *    survives N = billions where brute force can't.
  *
  * All vector math runs through the codegen'd ArrayDot kernel
  * (functions.VectorExprs) in double precision — no UDFs, no interpreted
  * per-element lambdas in any pair-scoring hot path.
  */
object SimilarityOps extends QueryGroup {

  /** dot(a, b) in double precision — the codegen'd ArrayDot kernel (the
    * HOF aggregate/zip_with spelling interprets a lambda per element;
    * see functions.ArrayDot for the measured difference).
    */
  private def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.ArrayDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  private def norm(a: Column): Column = sqrt(dot(a, a))

  private def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Multi-table random-hyperplane LSH ANN.
    *
    * Scale design (the round-1 version recomputed an interpreted-HOF
    * signature on both sides of the bucket join AND was single-probe —
    * unusable recall at scale):
    *  - embedding dims are exploded ONCE; every (vec, dim) row computes
    *    T×B codegen'd ±1 contributions (hyperplane component for (table t,
    *    bit j, dim d) is a deterministic Rademacher sign from
    *    xxhash64(t, j, d) — reproducible on any executor, no driver state);
    *  - one grouped aggregation sums them into T×B projections (map-side
    *    partial agg → shuffle is one row per vector);
    *  - per table, B sign bits pack into a scalar LONG bucket key (table
    *    id in the high bits) — the join key is a single long;
    *  - candidates = bucket equi-join, dedup, then exact cosine re-score
    *    and top-k. Only candidates are ever scored.
    *
    * T/B tuning: collision prob per bit for angle θ is 1−θ/π. The fixture
    * embeddings' true top-5 neighbors are only weakly similar (cos
    * ≈0.26–0.49 → p≈0.6 vs 0.5 for random), so defaults favor many short
    * tables (T=16, B=4 → pair recall ≈0.9). For dedup-grade neighbors
    * (cos ≥ 0.8, p ≥ 0.8) fewer, longer tables (e.g. T=8, B=16) keep the
    * candidate set sparse at billions of vectors.
    */
  /** Random-hyperplane bucket keys: one (vec_id, bucket) row per table,
    * where bucket packs the B sign bits plus the table id in the high
    * bits into a single scalar LONG — shared by the ANN probe and the
    * near-dup pair generator. One explode + one grouped agg; hyperplane
    * components are deterministic Rademacher signs from xxhash64, so any
    * executor reproduces them with no driver state.
    */
  /** Auto-sized key length: 2^B buckets per table must grow with the
    * corpus or bucket membership (and so the candidate join) grows
    * linearly (quadratically) with N. Targets ~64 vectors per bucket;
    * clamped to [4, 24] (24 bits ≈ 16M buckets — past that, tables
    * dominate recall anyway).
    */
  private[graft] def autoBits(n: Long): Int =
    math.min(24, math.max(4,
      math.ceil(math.log(math.max(n, 1L) / 64.0) / math.log(2.0)).toInt))

  /** Corpus-size estimate for autoBits WITHOUT a full pass (round-8
    * verdict: the sizing `count()` was a full corpus job + scheduling
    * barrier before any real work started). Sources, in order:
    *
    *  1. catalog/CBO row count (ANALYZE TABLE, or propagated estimates);
    *  2. parquet footer metadata when the plan bottoms out in a bare
    *     (unfiltered) file scan — exact, driver-side, bounded: at most
    *     [[FooterSampleMax]] footers are opened and the sampled rows/byte
    *     is extrapolated over the remaining file bytes;
    *  3. only then a count() job.
    *
    * The estimate only feeds autoBits' log2, so even a 2× error moves B
    * by one bit (bucket target 64 → 32/128, both far under EmbMaxBucket);
    * a FILTERED scan falls through to count() because footer totals would
    * overestimate N and oversized keys cost recall.
    */
  private val FooterSampleMax = 64

  private[graft] def estimatedRows(df: DataFrame): Long = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = df.queryExecution.optimizedPlan
    plan.stats.rowCount.map(_.toLong).getOrElse {
      @annotation.tailrec
      def strip(p: LogicalPlan): LogicalPlan = p match {
        case Project(_, c) => strip(c)
        case SubqueryAlias(_, c) => strip(c)
        case other => other
      }
      strip(plan) match {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
            if fs.fileFormat.toString.toLowerCase.contains("parquet") =>
          footerRows(df.sparkSession, fs).getOrElse(df.count())
        case _ => df.count()
      }
    }
  }

  /** None (count() instead) only when a file vanished between listing
    * and stat, as in `Spread.sourceBytes`; any other failure surfaces.
    */
  private def footerRows(spark: SparkSession,
      fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation): Option[Long] =
    try {
      val files = fs.location.inputFiles
      if (files.isEmpty) Some(0L)
      else {
        val conf = spark.sessionState.newHadoopConf()
        def rowsOf(path: String): (Long, Long) = {
          val p = new org.apache.hadoop.fs.Path(path)
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try (reader.getRecordCount, in.getLength) finally reader.close()
        }
        val sample = files.take(FooterSampleMax).map(rowsOf)
        val (rows, bytes) = (sample.map(_._1).sum, sample.map(_._2).sum)
        if (files.length <= FooterSampleMax) Some(rows)
        else {
          // extrapolate the sampled rows/byte over the unsampled files
          val restBytes = files.drop(FooterSampleMax).map { f =>
            val p = new org.apache.hadoop.fs.Path(f)
            p.getFileSystem(conf).getFileStatus(p).getLen
          }.sum
          Some(rows + (if (bytes > 0) restBytes * rows / bytes else 0L))
        }
      }
    } catch { case _: java.io.FileNotFoundException => None }

  private[graft] def bucketKeys(emb: DataFrame, tables: Int, bits: Int): DataFrame = {
    // Rademacher signs: one xxhash64 per row gave one SIGN BIT in the
    // round-6 version — T×B hashes per (vec, dim) row made the hash the
    // dominant signature cost (144 hashes/row at T=16, B=9 ≈ 184M calls
    // at sf0.1; profiled round 10). Each hash has 64 iid-quality bits,
    // so derive T×B signs from ⌈T·B/64⌉ hashes per row by bit-slicing:
    // sign(t,j) = bit (t·bits+j) mod 64 of xxhash64((t·bits+j) div 64, d).
    // Statistically identical hyperplanes (independent fair sign flips),
    // ~48× less hashing; A/B in BENCHLOG round 10. Formula change ⇒
    // EmbLshFormulaVersion bumped so persisted indexes rebuild.
    // ROW-gated scan spread (round 17): at the 10× point the whole T×B
    // contribution pipeline (≈184M multiply-adds at 20k vectors) ran as
    // ONE task — the embeddings file is a single split — profiled at
    // ~6 s of dd_embedding_lsh's ~10 s; spread it runs ~1.6 s. At the
    // 2k-vector gate point the same exchange measured 8–16% AGAINST
    // (lockstep ×2, confirming the round-16 negative). The gate is on
    // ROWS, not bytes (Spread.bySize's currency), because replicated
    // float vectors compress so well that the 10× parquet is barely
    // bigger than the 1× one — parquet footer row counts are exact and
    // free. Work per task ≈ rows × dims × T×B multiply-adds; 1 024
    // rows/task ≈ 0.3 s at the measured per-row cost. Repartition is
    // physical only — signatures, persisted indexes and downstream pair
    // sets are value-identical.
    val nRows = estimatedRows(emb)
    val spreadEmb =
      if (nRows >= 8192) {
        val p = emb.sparkSession.sparkContext.defaultParallelism
        emb.repartition(math.min(p.toLong, nRows / 1024).toInt, col("vec_id"))
      } else emb
    val dims = spreadEmb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"), col("x").cast("double").as("x"))
    val nHashes = (tables * bits + 63) / 64
    val hashed = dims.select(col("vec_id") +: col("x") +:
      (0 until nHashes).map(k => xxhash64(lit(k), col("d")).as(s"h$k")): _*)
    // branch-free sign: bit 0 → +1.0, bit 1 → -1.0 as 1 - 2·bit. The
    // when() form compiled to a branch on an iid-random bit — a ~50%
    // misprediction per contribution by construction (T·B per dim row);
    // the arithmetic form is the same value with no branch (round 16).
    val contribCols = for (t <- 0 until tables; j <- 0 until bits) yield {
      val idx = t * bits + j
      (col("x") * (lit(1.0) - shiftright(col(s"h${idx / 64}"), idx % 64)
        .bitwiseAND(lit(1L)).cast("double") * lit(2.0))).as(s"c_${t}_$j")
    }
    val proj = hashed.select(col("vec_id") +: contribCols: _*)
      .groupBy("vec_id")
      .agg(sum("c_0_0").as("p_0_0"),
        (for (t <- 0 until tables; j <- 0 until bits if (t, j) != (0, 0))
          yield sum(s"c_${t}_$j").as(s"p_${t}_$j")): _*)
    val bucketCols = (0 until tables).map { t =>
      (0 until bits).map(j => when(col(s"p_${t}_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce((a, b) => a.bitwiseOR(b))
        .bitwiseOR(lit(t.toLong << 32))
    }
    proj.select(col("vec_id"), explode(array(bucketCols: _*)).as("bucket"))
  }

  def lshAnnTopK(emb: DataFrame, numQueries: Int = 10, k: Int = 5,
                 tables: Int = 16, bits: Int = 4,
                 bucketFn: Option[DataFrame => DataFrame] = None): DataFrame = {
    // bucketFn swaps the signature derivation (portable-oracle twin);
    // candidate join, re-score, and top-k below are the SAME code
    val sig = bucketFn.getOrElse(bucketKeys(_: DataFrame, tables, bits))(emb)
    val qs = sig.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("bucket"))
    val cand = qs.join(sig, "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"))
      .distinct()
    // norms ride the embedding sides — computed once per vector instead
    // of once per candidate pair (one ArrayDot per pair instead of three;
    // bit-identical: sqrt(dot(x,x)) is deterministic — the same round-16
    // treatment the pair queries got)
    val qEmb = emb.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_nrm"))
    val nEmb = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      norm(col("embedding")).as("n_nrm"))
    val scored = cand.join(broadcast(qEmb), "q_id").join(nEmb, "n_id")
      .select(col("q_id"), col("n_id"),
        (dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm"))).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("n_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("n_id"), round(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rk")
  }

  /** Embedding-cosine near-duplicate pairs, exact: every (a, b) pair with
    * cosine ≥ tau. Quadratic by design — the oracle twin that pins the
    * LSH path's recall, same role as TextOps' dd_jaccard_clusters.
    */
  def cosinePairsExact(emb: DataFrame, tau: Double): DataFrame = {
    // norms below the join: once per vector, not once per N²/2 pair
    // (bit-identical — sqrt(dot(x,x)) is deterministic)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      norm(col("embedding")).as("nrm_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      norm(col("embedding")).as("nrm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("emb_a"), col("emb_b")) /
          (col("nrm_a") * col("nrm_b"))).as("sim"))
      .filter(col("sim") >= tau)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
      .orderBy("id_a", "id_b")
  }

  /** Embedding-cosine near-dup detection, the scale path: candidate pairs
    * come from a bucket self-join over the random-hyperplane keys (only
    * vectors sharing a bucket in SOME table ever meet), then the exact
    * cosine re-score keeps pairs ≥ tau — precision is exact, recall is
    * the banding probability 1-(1-p^B)^T with p = 1-θ/π.
    *
    * Tuning: the fixture's near-dups are weak (cos ≈ 0.45-0.51 → p ≈
    * 0.65), so short keys trade pruning for recall. For dup-grade
    * corpora (cos ≥ 0.9, p ≥ 0.9) use longer keys — T=8×B=8 keeps
    * recall ≥ 0.99 while a random pair collides with probability
    * ~8·0.5^8 ≈ 3%; SimilaritySpec pins both regimes.
    *
    * Key-length scaling (round-8 stress finding): with FIXED bits the
    * per-table bucket count is constant, so bucket membership grows as
    * N/2^B and the within-bucket candidate join goes QUADRATIC — the
    * 10× stress corpus measured 21× wall-clock at B=4. `bits < 0`
    * (the default) auto-sizes B = log2(N/64) clamped to [4, 24]: bucket
    * membership stays ~64 regardless of corpus size, which keeps the
    * candidate join linear in N (measured ~5× at 10×). Pass bits
    * explicitly to pin a reproducible key length across corpora.
    */
  def lshCosinePairs(emb: DataFrame, tau: Double,
                     tables: Int = 16, bits: Int = -1): DataFrame = {
    val rbits = if (bits > 0) bits else autoBits(estimatedRows(emb))
    // The checkpoint predates round 16's bounded-collect rework, which
    // left `sig` with exactly ONE consumer — so the old "referenced
    // twice" justification is stale. It is KEPT on measurement, not by
    // that argument: a round-17 lockstep A/B of its removal read
    // 1.06–1.31 (≈ +10% consistently) — materializing the T×B signature
    // aggregation truncates the adaptive plan, so the collect/re-score
    // stages re-optimize against known sizes instead of estimates.
    // NOT spread (round-16 A/B ×2: ratio 1.07–1.12 vs control — the
    // 512 KB embeddings file's explode work is too small to amortize the
    // extra exchange at gate scale)
    val sig = bucketKeys(emb, tables, rbits).localCheckpoint(true)
    // same hot-bucket cap as the incremental path: a degenerate bucket
    // (hash collapse, adversarial vectors) drops loudly out of pair
    // generation instead of turning the join quadratic.
    // Round-16 shape: ONE bounded collect + in-bucket pair explosion
    // (the minhashPairs pattern) replaces the census + capped join +
    // self-join — the old plan computed the bucket census TWICE and ran
    // three sort-merge joins over the checkpoint (plan-verified,
    // plans/r16/dd_embedding_lsh_before2.txt). Drop semantics are
    // IDENTICAL: collecting at cap+1 bounds the buffer, and a bucket
    // that reaches cap+1 members fails the size ≤ cap filter — exactly
    // the buckets the census dropped — while every surviving bucket
    // holds its complete membership.
    val cand = sig.groupBy("bucket")
      .agg(sort_array(expr(
        s"bounded_collect_list(vec_id, ${EmbMaxBucket + 1})")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= EmbMaxBucket)
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("id_b"))
      .distinct()
    // alias-shared embedding sides (same pattern as minhashPairs' verify
    // join): one broadcast exchange of (vec_id, embedding), reused for
    // both ends of the pair re-score. Norms ride the broadcast: computed
    // ONCE per vector instead of once per pair instance (the re-score is
    // the dominant stage at the 10× point — 3 ArrayDots/pair → 1), and
    // sqrt(dot(x,x)) is deterministic so sim is bit-identical.
    val ea = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm")).as("ea")
    val eb = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm")).as("eb")
    cand.join(ea, col("id_a") === col("ea.vec_id"))
      .join(eb, col("id_b") === col("eb.vec_id"))
      .select(col("id_a"), col("id_b"),
        (dot(col("ea.embedding"), col("eb.embedding")) /
          (col("ea.nrm") * col("eb.nrm"))).as("sim"))
      .filter(col("sim") >= tau)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
      .orderBy("id_a", "id_b")
  }

  /** Bucket-formula version for the persisted embedding index — folded
    * into the index path with the tables/bits actually used, so a formula
    * or parameter change can never silently reuse an index built under
    * the old scheme (same discipline as TextOps.LshFormulaVersion).
    * tau is probe-time only and deliberately NOT in the fingerprint.
    */
  private val EmbLshFormulaVersion = 2 // v2: bit-sliced Rademacher signs

  /** Build counter — lets SimilaritySpec assert that index REUSE never
    * re-signatures the historical corpus.
    */
  private[graft] val embIndexBuilds = new java.util.concurrent.atomic.AtomicInteger

  /** Cap on bucket membership for the incremental path: a degenerate
    * bucket (hash collapse, adversarial vectors) would otherwise turn the
    * candidate join quadratic; capped buckets drop loudly out of pair
    * generation, and a capped vector still pairs through its other
    * tables (same argument as the minhash bucket cap).
    *
    * Memory bound (ADVICE r16): semDedupFrom's bounded collect carries
    * full embeddings in its per-cell buffer — at the fixture's 64-dim
    * float vectors that is ≤ (cap+1) × (64×4 B + struct overhead)
    * ≈ 0.4 MB per hot cell, and ≈ 6 MB/cell at a production 1024-dim
    * float32 embedding — one buffer per GROUP in flight per task, the
    * same order Spark's own broadcast relations and sort buffers hold.
    * The alternative (collect only (vec_id, nrm), join embeddings back
    * through the alias-shared broadcast) re-introduces the two joins the
    * round-16 rework removed; switch to it only if a profile ever shows
    * agg-buffer spill here.
    */
  private val EmbMaxBucket = 1024

  /** Incremental embedding near-dup ingestion — the day-N production
    * shape: the historical corpus' (bucket, vec_id) rows persist ONCE as
    * parquet; each new batch computes bucket keys only for ITSELF, joins
    * index ∪ batch, and the exact ArrayDot re-score keeps pairs ≥ tau
    * that involve at least one new vector. Recurring cost is O(batch):
    * the corpus is never re-signatured, and its embeddings are touched
    * only through the keyed candidate join. "Historical" vs "new batch"
    * is vec_id parity here (deterministic at every SF); production would
    * key on ingestion date.
    */
  def incrementalLshCosinePairs(spark: SparkSession, emb: DataFrame,
      indexKey: String, tau: Double,
      tables: Int = 16, bits: Int = -1,
      bucketFn: Option[DataFrame => DataFrame] = None,
      variant: String = "xx"): DataFrame = {
    // bucketFn swaps the signature derivation (the portable-oracle twin)
    // while the persistence/census/candidate/verify machinery below is
    // the SAME code; `variant` lands in the index fingerprint so the two
    // schemes can never share a persisted index.
    // bits < 0 auto-sizes like lshCosinePairs (the parity contract: both
    // paths must use the same formula on the same corpus). The resolved
    // value lands in the index fingerprint, so a corpus grown past the
    // next power-of-two boundary rebuilds rather than probing a
    // stale-keyed index.
    val rbits =
      if (bucketFn.isDefined) 8 // fixed by the portable formula
      else if (bits > 0) bits else autoBits(estimatedRows(emb))
    val bf = bucketFn.getOrElse(bucketKeys(_: DataFrame, tables, rbits))
    val indexDir = sys.props.getOrElse("graft.index.root",
      sys.props("java.io.tmpdir")) + "/graft-emb-lsh-index-" +
      s"v$EmbLshFormulaVersion-$variant-t$tables-b$rbits-" +
      indexKey.replaceAll("[^A-Za-z0-9.]", "_")
    if (!new java.io.File(s"$indexDir/_SUCCESS").exists) {
      embIndexBuilds.incrementAndGet()
      bf(emb.filter(col("vec_id") % 2 === 0))
        .write.mode("overwrite").parquet(indexDir)
    }
    val index = spark.read.parquet(indexDir)
    // single consumer now (the union below), so no checkpoint needed —
    // the batch signature pipeline runs exactly once
    val fresh = bf(emb.filter(col("vec_id") % 2 === 1))
    val all = index.unionByName(fresh)
    // Round-16 shape (same rework as lshCosinePairs): ONE bounded collect
    // + in-bucket pair explosion replaces the census + two joins + the
    // new×other join. Drop semantics identical (cap+1 collect fails the
    // size ≤ cap filter exactly where the census dropped); "at least one
    // side is new" is vec_id parity — the new batch IS the odd half, the
    // same contract the old id_other%2 filter keyed on. Sorted ids give
    // the canonical id_a < id_b orientation directly.
    val cands = all.groupBy("bucket")
      .agg(sort_array(expr(
        s"bounded_collect_list(vec_id, ${EmbMaxBucket + 1})")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= EmbMaxBucket)
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("id_b"))
      .filter(col("id_a") % 2 === 1 || col("id_b") % 2 === 1)
      .distinct()
    // alias-shared embedding sides — one broadcast exchange, reused;
    // norms precomputed per vector (see lshCosinePairs — bit-identical)
    val ea = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm")).as("ea")
    val eb = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm")).as("eb")
    cands.join(ea, col("id_a") === col("ea.vec_id"))
      .join(eb, col("id_b") === col("eb.vec_id"))
      .select(col("id_a"), col("id_b"),
        (dot(col("ea.embedding"), col("eb.embedding")) /
          (col("ea.nrm") * col("eb.nrm"))).as("sim"))
      .filter(col("sim") >= tau)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
      .orderBy("id_a", "id_b")
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer (Spark MLlib
    * k-means‖) partitions the corpus into `nlist` cells; a query probes
    * its `nprobe` nearest centroids and exact-scores only those cells.
    *
    * The scale path vs LSH: cells adapt to the data distribution, and
    * candidate volume is tunable as nprobe/nlist of the corpus
    * (~nprobe/nlist · N distance computations per query instead of N).
    * Centroids are tiny (nlist × dim) and ship in the probe-assignment
    * closure — the corpus itself never leaves its partitions. A real
    * deployment persists `assigned` as the index table, bucketed by
    * cell id, so probe queries prune to nprobe buckets.
    */
  def ivfAnnTopK(emb: DataFrame, numQueries: Int = 10, k: Int = 5,
                 nlist: Int = 16, nprobe: Int = 6): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.{Vector => MlVector, Vectors}
    val toVec = udf((a: Seq[Float]) => Vectors.dense(a.map(_.toDouble).toArray))
    val df = emb.select(col("vec_id"), col("embedding"))
      .withColumn("features", toVec(col("embedding")))
    val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(10).fit(df)
    val assigned = model.transform(df)
      .select(col("vec_id"), col("embedding"), col("prediction").as("cell"))
    val centroids = model.clusterCenters.map(_.toArray) // nlist × dim, driver-side
    val probe = udf((a: Seq[Float]) => {
      val x = a.map(_.toDouble).toArray
      centroids.zipWithIndex.map { case (c, i) =>
        var d = 0.0
        var j = 0
        while (j < x.length) { val t = c(j) - x(j); d += t * t; j += 1 }
        (i, d)
      }.sortBy(_._2).take(nprobe).map(_._1)
    })
    val qs = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"),
        explode(probe(col("embedding"))).as("cell"))
    // norms below the join: once per vector, not once per (q, n) match
    val scored = qs.join(
        assigned.withColumn("n_nrm", norm(col("embedding"))), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("n_nrm"))).as("sim"))
      .distinct()
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("n_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("n_id"), round(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rk")
  }

  /** Persisted-index IVF: the deployment shape of ivfAnnTopK. The
    * assignment table is written ONCE as parquet physically partitioned
    * by cell id; probes read it back and filter on the (driver-known,
    * ≤ queries×nprobe element) probed-cell set, so the scan PRUNES to
    * nprobe/nlist of the index partitions — the property that makes an
    * ANN probe touch GBs, not the whole 100 TB corpus. The cell list
    * collect is driver-side by design and tiny (same class as the
    * centroid array); SimilaritySpec pins both recall and the
    * PartitionFilters line in the scan.
    */
  /** Fit counter — lets SimilaritySpec assert that an index REUSE runs
    * no KMeans job (the fit is the expensive full-corpus pass at scale).
    */
  private[graft] val ivfFitCount = new java.util.concurrent.atomic.AtomicInteger

  /** Quantizer formula version — bump when the fit recipe (seed, iters,
    * vectorization) changes. Folded with nlist into the index path so a
    * parameter/formula change always builds a fresh index instead of
    * silently probing a stale one. nprobe is probe-time only (it selects
    * which persisted cells to read, it doesn't shape them), so it is
    * deliberately NOT in the fingerprint — re-tuning the probe must not
    * force a full-corpus refit.
    */
  private val IvfFormulaVersion = 1

  def ivfPersistedAnnTopK(spark: SparkSession, emb: DataFrame, sfDir: String,
      numQueries: Int = 10, k: Int = 5, nlist: Int = 16, nprobe: Int = 6): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.Vectors
    // root overridable (graft.index.root) so test JVMs get a fresh dir —
    // see TextOps.incrementalMinhashPairs
    val indexDir = sys.props.getOrElse("graft.index.root",
      sys.props("java.io.tmpdir")) + "/graft-ivf-index-" +
      s"v$IvfFormulaVersion-k$nlist-" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    // centroids persist BESIDE the index: on reuse both are read back and
    // the KMeans fit — the expensive full-corpus pass — is skipped
    // entirely, not just the index write
    val centroidsDir = s"$indexDir-centroids"
    def complete(d: String) = new java.io.File(s"$d/_SUCCESS").exists
    val centroids: Array[Array[Double]] =
      if (complete(indexDir) && complete(centroidsDir)) {
        spark.read.parquet(centroidsDir).orderBy("cell").collect()
          .map(_.getAs[Seq[Double]]("centroid").toArray)
      } else {
        ivfFitCount.incrementAndGet()
        val toVec = udf((a: Seq[Float]) => Vectors.dense(a.map(_.toDouble).toArray))
        val df = emb.select(col("vec_id"), col("embedding"))
          .withColumn("features", toVec(col("embedding")))
        val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(10).fit(df)
        model.transform(df)
          .select(col("vec_id"), col("embedding"), col("prediction").as("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(indexDir)
        val cs = model.clusterCenters.map(_.toArray)
        import spark.implicits._
        cs.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("cell", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(centroidsDir)
        cs
      }
    val index = spark.read.parquet(indexDir)
    val probe = udf((a: Seq[Float]) => {
      val x = a.map(_.toDouble).toArray
      centroids.zipWithIndex.map { case (c, i) =>
        var d = 0.0
        var j = 0
        while (j < x.length) { val t = c(j) - x(j); d += t * t; j += 1 }
        (i, d)
      }.sortBy(_._2).take(nprobe).map(_._1)
    })
    val qs = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"),
        explode(probe(col("embedding"))).as("cell"))
    val probedCells = qs.select("cell").distinct().collect().map(_.getInt(0))
    // norm below the join: once per pruned index row, not per (q, n)
    val pruned = index.filter(col("cell").isin(probedCells.map(Int.box): _*))
      .withColumn("n_nrm", norm(col("embedding")))
    val scored = broadcast(qs).join(pruned, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("n_nrm"))).as("sim"))
      .distinct()
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("n_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("n_id"), round(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rk")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", public method): k-means the embedding space, then
    * WITHIN each cluster connect members whose cosine exceeds tau and
    * keep ONE representative per duplicate group — per the paper, the
    * member with the LOWEST cosine to its cluster centroid (the "edge"
    * exemplar, preserving diversity); ties break on vec_id.
    *
    * Scale shape: the clusterer bounds the pairwise pass — candidate
    * pairs are generated per CELL (|cell| ≈ N/k, hard-capped at
    * [[EmbMaxBucket]] like every other bucketed path: a degenerate cell
    * drops loudly out of pair generation instead of going quadratic), so
    * the join volume is Σ|cell|² ≈ N·(N/k), tunable via nlist, never N².
    * Components reuse TextOps.connectedComponents (cluster-local edges ⇒
    * tiny diameters). Returns one row per vector:
    * (vec_id, cell, centroid_sim, group, keep).
    */
  def semDedup(emb: DataFrame, tau: Double, nlist: Int = -1): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.Vectors
    // nlist < 0 auto-sizes to ~512 vectors/cell (same scaling law as
    // autoBits: fixed cell count ⇒ membership grows with N ⇒ the capped
    // within-cell join starts DROPPING cells instead of deduping them);
    // clamped so tiny fixtures keep enough cells to be meaningful and
    // the centroid array stays driver/broadcast-tiny (4096×dim doubles)
    val k = if (nlist > 0) nlist
      else math.min(4096L, math.max(16L, estimatedRows(emb) / 512L)).toInt
    val toVec = udf((a: Seq[Float]) => Vectors.dense(a.map(_.toDouble).toArray))
    val df = emb.select(col("vec_id"), col("embedding"))
      .withColumn("features", toVec(col("embedding")))
    val model = new KMeans().setK(k).setSeed(42L).setMaxIter(10).fit(df)
    val centroids = model.clusterCenters.map(_.toArray) // k × dim, driver-side
    val centroidSim = udf((a: Seq[Float], cell: Int) => {
      val c = centroids(cell)
      var dot = 0.0; var na = 0.0; var nc = 0.0; var j = 0
      while (j < c.length) {
        val x = a(j).toDouble
        dot += x * c(j); na += x * x; nc += c(j) * c(j); j += 1
      }
      if (na == 0 || nc == 0) 0.0 else dot / math.sqrt(na * nc)
    })
    val assigned = model.transform(df)
      .select(col("vec_id"), col("embedding"), col("prediction").as("cell"))
      // rounded at birth: the survivor window orders on this value, and
      // ordering on more precision than the emitted column would make
      // float-noise ties (e.g. a scaled copy of the same direction)
      // pick survivors a reader can't reproduce from the output
      .withColumn("centroid_sim",
        round(centroidSim(col("embedding"), col("cell")), 4))
      .localCheckpoint(true) // the fit/assignment runs once, not per branch
    semDedupFrom(assigned, tau)
  }

  /** The cluster-then-prune machinery of [[semDedup]] downstream of cell
    * assignment: cell census + [[EmbMaxBucket]] cap, within-cell pair
    * generation at `tau`, connected components, and the edge-exemplar
    * survivor window. Split out so the portable-oracle twin
    * ([[semDedupPortableAssigned]]) runs the IDENTICAL code with only
    * the (engine-specific k-means) assignment swapped for arithmetic
    * DuckDB replays. `assigned` must carry
    * (vec_id, embedding, cell, centroid_sim) with centroid_sim already
    * rounded — the survivor window orders on the emitted value.
    */
  private[graft] def semDedupFrom(assigned: DataFrame, tau: Double): DataFrame = {
    // Round-16 shape (same rework as lshCosinePairs): one bounded
    // collect + in-cell pair explosion replaces the cell census + capped
    // join + self-join. Collecting struct(vec_id, embedding) at cap+1
    // bounds the buffer; a cell that reaches cap+1 members fails the
    // size ≤ cap filter — the census's drop set exactly — and sort_array
    // on the struct (vec_id leads) gives the a.vec_id < b.vec_id
    // orientation the old id_a < id_b filter produced.
    // norm rides the collected struct — computed once per vector, not
    // once per pair (bit-identical: sqrt(dot(x,x)) is deterministic);
    // vec_id leads the struct so sort_array's order is unchanged
    val pairs = assigned
      .withColumn("nrm", norm(col("embedding")))
      .groupBy("cell")
      .agg(sort_array(expr(
        s"bounded_collect_list(struct(vec_id, embedding, nrm), ${EmbMaxBucket + 1})")).as("ms"))
      .filter(size(col("ms")) > 1 && size(col("ms")) <= EmbMaxBucket)
      .select(posexplode(col("ms")).as(Seq("i", "a")), col("ms"))
      .select(col("a"),
        explode(slice(col("ms"), col("i") + 2, size(col("ms")))).as("b"))
      .filter(dot(col("a.embedding"), col("b.embedding")) /
        (col("a.nrm") * col("b.nrm")) >= tau)
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
    val groups = TextOps.connectedComponents(pairs)
      .select(col("id").as("vec_id"), col("label").as("group"))
    val labeled = assigned.join(groups, Seq("vec_id"), "left")
      .withColumn("group", coalesce(col("group"), col("vec_id")))
    // representative per group: lowest centroid-cosine, then lowest id
    val w = Window.partitionBy("group")
      .orderBy(col("centroid_sim"), col("vec_id"))
    labeled.withColumn("keep", row_number().over(w) === 1)
      .select(col("vec_id"), col("cell"), col("centroid_sim"),
        col("group"), col("keep"))
      .orderBy("vec_id")
  }

  /** Portable 8-bit sign-random-projection cell id over an
    * integer-quantized embedding column `q` (BIGINT array): hyperplane
    * components are ±1 from the same (projection, dim) LCG as
    * `dd_embedding_lsh_portable`, dot products run in exact BIGINT — so
    * any engine recomputes the identical cell for every vector. Shared
    * by the portable SemDeDup assignment and the portable incremental
    * bucket index.
    */
  private def portableCellExpr: Column = expr(
    """CAST(aggregate(transform(sequence(0, 7), p ->
      |  CASE WHEN aggregate(transform(sequence(1, 64), i ->
      |      element_at(q, i) *
      |      (((CAST(p AS BIGINT) * 64 + i) * 1103515245 + 12345) % 2 * 2 - 1)),
      |      CAST(0 AS BIGINT), (a, x) -> a + x) > 0
      |    THEN CAST(power(2, p) AS BIGINT) ELSE 0 END),
      |  CAST(0 AS BIGINT), (a, x) -> a + x) AS BIGINT)""".stripMargin)

  /** Portable SemDeDup assignment — the oracle twin of the k-means step:
    * cells from [[portableCellExpr]] over round(x·1000) quantized
    * components, centroid = per-cell per-dimension exact BIGINT sums,
    * centroid_sim = quantized-vs-sum cosine in double (exact-integer
    * inputs ⇒ bit-identical across engines), rounded at birth like the
    * production path. The returned `embedding` column carries the
    * QUANTIZED components (as float — integers ≤ ~2000, exactly
    * representable), so [[semDedupFrom]]'s pair cosine is also
    * engine-stable. Feeding this through semDedupFrom runs the REAL
    * census/cap/pairs/components/survivor machinery under a full SQL
    * oracle (`dd_semdedup_portable`).
    *
    * Exactness bound: cell sums stay exact in double while
    * Σ_cell |q_i| ≤ 2^26 per dimension (|q_i| ≤ ~2000 ⇒ cells of ~30k
    * members) — far past gate scale; the production k-means path is the
    * one that runs at corpus scale.
    */
  def semDedupPortableAssigned(emb: DataFrame): DataFrame = {
    val q = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))").as("q"))
    val withCell = q.withColumn("cell", portableCellExpr)
      .localCheckpoint(true) // cells feed the centroid agg AND the join back
    val cent = withCell
      .select(col("cell"), posexplode(col("q")).as(Seq("d", "x")))
      .groupBy("cell", "d").agg(sum("x").as("s"))
      .groupBy("cell")
      .agg(expr("transform(sort_array(collect_list(struct(d, s))), t -> t.s)").as("c"))
    withCell.join(cent, "cell")
      .withColumn("dotqc", expr(
        "aggregate(zip_with(q, c, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (a, x) -> a + x)"))
      .withColumn("nq", expr(
        "aggregate(q, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))
      .withColumn("nc", expr(
        "aggregate(c, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))
      .withColumn("centroid_sim", round(
        when(col("nq") === 0.0 || col("nc") === 0.0, 0.0)
          .otherwise(col("dotqc") / (sqrt(col("nq")) * sqrt(col("nc")))), 4))
      .select(col("vec_id"),
        expr("transform(q, x -> CAST(x AS FLOAT))").as("embedding"),
        col("cell"), col("centroid_sim"))
  }

  /** Portable (vec_id, bucket) index rows for the incremental twin: one
    * table of [[portableCellExpr]] cells over quantized components.
    */
  def portableBucketKeys(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))").as("q"))
      .select(col("vec_id"), portableCellExpr.as("bucket"))

  def defs = Seq(
    // ── IVF-bucketed ANN (k-means coarse quantizer; engine-specific
    // clustering → no SQL oracle; SimilaritySpec measures recall@5) ──
    qNoOracle("sim_ivf_ann") { (s, _) =>
      ivfAnnTopK(s.table("embeddings"))
    },
    // persisted-index variant: cell-partitioned parquet + pruned probe
    qNoOracle("sim_ivf_persisted") { (s, dir) =>
      ivfPersistedAnnTopK(s, s.table("embeddings"), dir)
    },
    // ── IVF exhaustive-probe ORACLE row: with nprobe = nlist every cell
    // is probed, so the IVF machinery (quantizer fit, cell routing,
    // probe explode, per-cell scoring, global top-k merge) must return
    // EXACTLY the brute-force top-k — which DuckDB computes — for any
    // clustering whatsoever. This oracles the plumbing end-to-end; the
    // pruned-probe recall lives in sim_ivf_recall and SimilaritySpec. ──
    q("sim_ivf_exhaustive",
      """WITH qs AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q_id, vec_id AS n_id,
        |    CAST(list_cosine_similarity(q_emb, embedding) AS DOUBLE) AS sim
        |  FROM qs CROSS JOIN embeddings
        |  WHERE vec_id <> q_id),
        |ranked AS (
        |  SELECT q_id, n_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rk
        |  FROM scored)
        |SELECT q_id, rk, n_id, round(sim, 4) AS sim
        |FROM ranked WHERE rk <= 5
        |ORDER BY q_id, rk""".stripMargin) { (s, _) =>
      ivfAnnTopK(s.table("embeddings"), nlist = 16, nprobe = 16)
    },
    // ── IVF pruned-probe recall gate row: recall@5 of the production
    // nprobe=6/nlist=16 probe against the engine's own brute-force
    // top-5, compared as a fixed-floor boolean (the hit set itself is
    // k-means-dependent and can't be oracled; the floor matches
    // SimilaritySpec's 0.5 contract for this weak-neighbor fixture). ──
    q("sim_ivf_recall",
      """SELECT CAST(10 AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
        |  0.5 AS floor, TRUE AS floor_met""".stripMargin) { (s, _) =>
      import s.implicits._
      val emb = s.table("embeddings")
      val ann = ivfAnnTopK(emb).select(col("q_id"), col("n_id"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val scored = broadcast(qs).crossJoin(emb)
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          cosine(col("q_emb"), col("embedding")).as("sim"))
      val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("n_id"))
      val exact = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5).select(col("q_id"), col("n_id"))
      val hits = exact.join(ann, Seq("q_id", "n_id")).count()
      val recall = hits / 50.0
      Seq((10L, 5L, 0.5, recall >= 0.5))
        .toDF("n_queries", "k", "floor", "floor_met")
    },
    // ── SemDeDup: cluster-then-prune semantic dedup (k-means cells →
    // capped within-cell pairs → components → edge-exemplar survivor;
    // engine-specific clustering → no SQL oracle; SimilaritySpec pins
    // the planted twins, the survivor policy, and cluster-locality) ──
    qNoOracle("dd_semdedup") { (s, _) =>
      semDedup(s.table("embeddings"), tau = 0.95)
    },
    // ── SemDeDup ORACLE twin: same cluster-then-prune machinery
    // (semDedupFrom — census + cap, within-cell pairs at tau,
    // components, edge-exemplar survivor), with the k-means assignment
    // swapped for the portable-arithmetic assignment DuckDB replays
    // bit-for-bit (quantized SRP cells, exact integer centroid sums). ──
    q("dd_semdedup_portable",
      """WITH RECURSIVE qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |cells AS (
        |  SELECT vec_id, q,
        |    CAST(list_sum(list_transform(range(0, 8), p ->
        |      CASE WHEN list_sum(list_transform(range(1, 65), i ->
        |          q[CAST(i AS INTEGER)] *
        |          (((p * 64 + i) * 1103515245 + 12345) % 2 * 2 - 1))) > 0
        |        THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT) AS cell
        |  FROM qv),
        |dims AS (
        |  SELECT cell, i AS d, sum(q[CAST(i AS INTEGER)]) AS s
        |  FROM cells CROSS JOIN range(1, 65) r(i)
        |  GROUP BY cell, i),
        |cent AS (SELECT cell, list(s ORDER BY d) AS c FROM dims GROUP BY cell),
        |asg AS (
        |  SELECT vec_id, q, cell,
        |    round(CASE WHEN nq = 0 OR nc = 0 THEN 0.0
        |               ELSE dotqc / (sqrt(nq) * sqrt(nc)) END, 4) AS centroid_sim
        |  FROM (
        |    SELECT vec_id, q, cells.cell,
        |      list_sum(list_transform(range(1, 65), i ->
        |        CAST(q[CAST(i AS INTEGER)] AS DOUBLE) * c[CAST(i AS INTEGER)])) AS dotqc,
        |      list_sum(list_transform(range(1, 65), i ->
        |        CAST(q[CAST(i AS INTEGER)] AS DOUBLE) * q[CAST(i AS INTEGER)])) AS nq,
        |      list_sum(list_transform(range(1, 65), i ->
        |        CAST(c[CAST(i AS INTEGER)] AS DOUBLE) * c[CAST(i AS INTEGER)])) AS nc
        |    FROM cells JOIN cent USING (cell))),
        |okc AS (SELECT cell FROM asg GROUP BY cell
        |        HAVING count(*) > 1 AND count(*) <= 1024),
        |mem AS (SELECT a.vec_id, a.q, a.cell FROM asg a JOIN okc USING (cell)),
        |pairs AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b
        |  FROM mem x JOIN mem y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |  WHERE list_sum(list_transform(range(1, 65), i ->
        |          CAST(x.q[CAST(i AS INTEGER)] AS DOUBLE) * y.q[CAST(i AS INTEGER)]))
        |        / (sqrt(list_sum(list_transform(range(1, 65), i ->
        |             CAST(x.q[CAST(i AS INTEGER)] AS DOUBLE) * x.q[CAST(i AS INTEGER)])))
        |         * sqrt(list_sum(list_transform(range(1, 65), i ->
        |             CAST(y.q[CAST(i AS INTEGER)] AS DOUBLE) * y.q[CAST(i AS INTEGER)]))))
        |        >= 0.95),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (
        |  SELECT a AS src, b AS dst FROM edges
        |  UNION
        |  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a),
        |labels AS (
        |  SELECT src AS vid, LEAST(src, MIN(dst)) AS grp
        |  FROM reach GROUP BY src)
        |SELECT a.vec_id, a.cell, a.centroid_sim,
        |  COALESCE(l.grp, a.vec_id) AS "group",
        |  (row_number() OVER (PARTITION BY COALESCE(l.grp, a.vec_id)
        |     ORDER BY a.centroid_sim, a.vec_id) = 1) AS keep
        |FROM asg a LEFT JOIN labels l ON l.vid = a.vec_id
        |ORDER BY a.vec_id""".stripMargin) { (s, _) =>
      semDedupFrom(semDedupPortableAssigned(s.table("embeddings")), tau = 0.95)
    },
    // ── BM25 keyword retrieval (Robertson/Spärck Jones; the lexical
    // twin of the embedding ANN paths — a training-data pipeline needs
    // both for retrieval/decontamination). Plan shape at 100 TB: the
    // tokenize + filter-to-query-terms runs MAP-SIDE (the HOF filter
    // drops every non-query token before the explode, so the only
    // shuffle moves ≤ |terms| rows per matching doc); document
    // frequencies and corpus stats are single-row/3-row aggregates
    // joined back by BROADCAST; final top-k is orderBy+limit →
    // TakeOrderedAndProject (no global sort). Ranking uses the ROUNDED
    // score with doc_id tie-break so the cutoff is engine-stable. ──
    q("sim_bm25_topk",
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), t -> t <> '') AS tokens
        |  FROM documents),
        |stats AS (SELECT count(*) AS n_docs, avg(len(tokens)) AS avgdl FROM toks),
        |tf AS (
        |  SELECT doc_id, len(tokens) AS dl, term, count(*) AS tf
        |  FROM toks, unnest(list_filter(tokens, t -> t IN ('spark', 'join', 'window'))) AS u(term)
        |  GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT doc_id,
        |    round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
        |      * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score,
        |    count(*) AS n_terms
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
        |  GROUP BY doc_id)
        |SELECT doc_id, score, n_terms FROM scored
        |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin) { (s, _) =>
      val k1 = 1.2
      val b = 0.75
      val toks = s.table("documents").select(col("doc_id"),
        // one extract-all pass ≡ replace+split+filter (TextOps.tokensCol)
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
          .as("tokens"))
      val stats = toks.agg(count(lit(1)).as("n_docs"), avg(size(col("tokens"))).as("avgdl"))
      val tf = toks
        .select(col("doc_id"), size(col("tokens")).as("dl"),
          explode(expr("filter(tokens, t -> t IN ('spark', 'join', 'window'))")).as("term"))
        .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(countDistinct("doc_id").as("df"))
      tf.join(broadcast(dfreq), "term").crossJoin(broadcast(stats))
        .withColumn("contrib",
          log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
            col("tf") * (k1 + 1) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
        .groupBy("doc_id")
        .agg(round(sum("contrib"), 4).as("score"), count(lit(1)).as("n_terms"))
        .orderBy(desc("score"), col("doc_id"))
        .limit(15)
    },

    // ── brute-force cosine top-k (k=5) for a 10-vector query set ──
    q("sim_cosine_topk",
      """WITH qs AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q_id, vec_id AS n_id,
        |    CAST(list_cosine_similarity(q_emb, embedding) AS DOUBLE) AS sim
        |  FROM qs CROSS JOIN embeddings
        |  WHERE vec_id <> q_id),
        |ranked AS (
        |  SELECT q_id, n_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rk
        |  FROM scored)
        |SELECT q_id, rk, n_id, round(sim, 4) AS sim
        |FROM ranked WHERE rk <= 5
        |ORDER BY q_id, rk""".stripMargin) { (s, _) =>
      val emb = s.table("embeddings")
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          norm(col("embedding")).as("q_nrm"))
      // corpus-side norm computed once per vector, not once per (q, n)
      // pair — 10 queries × N pairs previously re-derived each corpus
      // norm 10 times (bit-identical: sqrt(dot(x,x)) is deterministic)
      val scored = broadcast(qs)
        .crossJoin(emb.withColumn("n_nrm", norm(col("embedding"))))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          (dot(col("q_emb"), col("embedding")) /
            (col("q_nrm") * col("n_nrm"))).as("sim"))
      val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("n_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("rk"), col("n_id"), round(col("sim"), 4).as("sim"))
        .orderBy("q_id", "rk")
    },

    // ── embedding-cosine near-dup pairs, exact (the dedup-family entry
    // over embeddings: full pairwise at gate SF, oracle-checked; the
    // linear-at-scale twin is dd_embedding_lsh below) ──
    q("dd_embedding_pairs",
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 4) AS sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin) { (s, _) =>
      cosinePairsExact(s.table("embeddings"), 0.45)
    },

    // ── embedding-cosine near-dup, LSH-bucketed (engine-specific
    // hashing → no SQL oracle; SimilaritySpec pins recall vs the exact
    // twin and the dup-grade planted regime) ──
    qNoOracle("dd_embedding_lsh") { (s, _) =>
      lshCosinePairs(s.table("embeddings"), 0.45)
    },

    // ── embedding-LSH algorithm-parity twin: sign-random-projection
    // bucket algebra replayed bit-for-bit by DuckDB. Hyperplane
    // components are ±1 from a portable LCG on (projection, dim), and
    // the dot products run over INTEGER-quantized components
    // (round(x*1000) — float sums would diverge in the last ulp and
    // flip near-zero signs), so both engines compute identical 8-bit
    // bucket ids for every vector. Completes the trilogy: the
    // signature algebra of all three near-dup families (minhash,
    // simhash, embedding-LSH) is oracle-verified, with the production
    // xxhash/auto-sized paths spec-verified for recall on top. ──
    q("dd_embedding_lsh_portable",
      """SELECT vec_id,
        |  CAST(list_sum(list_transform(range(0, 8), p ->
        |    CASE WHEN list_sum(list_transform(range(1, 65), i ->
        |        CAST(round(embedding[CAST(i AS INTEGER)] * 1000) AS BIGINT) *
        |        (((p * 64 + i) * 1103515245 + 12345) % 2 * 2 - 1))) > 0
        |      THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket,
        |  CAST(list_sum(list_transform(range(1, 65), i ->
        |    CAST(round(embedding[CAST(i AS INTEGER)] * 1000) AS BIGINT) *
        |    ((i * 1103515245 + 12345) % 2 * 2 - 1))) AS BIGINT) AS proj0
        |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, _) =>
      s.sql(
        """SELECT vec_id,
          |  CAST(aggregate(transform(sequence(0, 7), p ->
          |    CASE WHEN aggregate(transform(sequence(1, 64), i ->
          |        CAST(round(element_at(embedding, i) * 1000) AS BIGINT) *
          |        (((CAST(p AS BIGINT) * 64 + i) * 1103515245 + 12345) % 2 * 2 - 1)),
          |        CAST(0 AS BIGINT), (a, x) -> a + x) > 0
          |      THEN CAST(power(2, p) AS BIGINT) ELSE 0 END),
          |    CAST(0 AS BIGINT), (a, x) -> a + x) AS BIGINT) AS bucket,
          |  CAST(aggregate(transform(sequence(1, 64), i ->
          |    CAST(round(element_at(embedding, i) * 1000) AS BIGINT) *
          |    ((CAST(i AS BIGINT) * 1103515245 + 12345) % 2 * 2 - 1)),
          |    CAST(0 AS BIGINT), (a, x) -> a + x) AS BIGINT) AS proj0
          |FROM embeddings ORDER BY vec_id""".stripMargin)
    },

    // ── incremental embedding ingestion against the persisted bucket
    // index (parity with the batch pairs + no-rebuild pinned in
    // SimilaritySpec) ──
    qNoOracle("dd_embedding_incremental") { (s, dir) =>
      incrementalLshCosinePairs(s, s.table("embeddings"), dir, 0.45)
    },

    // ── incremental-embedding ORACLE twin: the SAME day-N machinery
    // (index persisted once for even vec_ids, fresh batch bucketed
    // alone, census + 1024 cap, new-initiates candidate rule, exact
    // cosine re-score on the ORIGINAL embeddings) with the portable
    // quantized-SRP bucket plugged in, so DuckDB replays the entire
    // ingestion semantics. The verify cosine stays float like
    // production — the 0.45/round-4 boundary is already proven
    // engine-stable by dd_embedding_pairs. ──
    q("dd_embedding_incremental_portable",
      """WITH qv AS (
        |  SELECT vec_id, embedding,
        |    list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |b AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(range(0, 8), p ->
        |      CASE WHEN list_sum(list_transform(range(1, 65), i ->
        |          q[CAST(i AS INTEGER)] *
        |          (((p * 64 + i) * 1103515245 + 12345) % 2 * 2 - 1))) > 0
        |        THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
        |  FROM qv),
        |ok AS (SELECT bucket FROM b GROUP BY bucket
        |       HAVING count(*) > 1 AND count(*) <= 1024),
        |n AS (SELECT b.bucket, b.vec_id AS id_new
        |      FROM b JOIN ok USING (bucket) WHERE b.vec_id % 2 = 1),
        |o AS (SELECT b.bucket, b.vec_id AS id_other
        |      FROM b JOIN ok USING (bucket)),
        |cands AS (
        |  SELECT DISTINCT least(id_new, id_other) AS id_a,
        |    greatest(id_new, id_other) AS id_b
        |  FROM n JOIN o USING (bucket)
        |  WHERE id_other % 2 = 0 OR id_other < id_new)
        |SELECT id_a, id_b,
        |  round(CAST(list_cosine_similarity(ea.embedding, eb.embedding) AS DOUBLE), 4) AS sim
        |FROM cands JOIN embeddings ea ON ea.vec_id = id_a
        |           JOIN embeddings eb ON eb.vec_id = id_b
        |WHERE CAST(list_cosine_similarity(ea.embedding, eb.embedding) AS DOUBLE) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      incrementalLshCosinePairs(s, s.table("embeddings"), dir, 0.45,
        bucketFn = Some(portableBucketKeys), variant = "portable8b")
    },

    // ── pairwise cosine over a restricted id band (exact, oracle-able) ──
    q("sim_pairwise_band",
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 4) AS sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.vec_id < b.vec_id AND b.vec_id - a.vec_id <= 5
        |WHERE a.vec_id < 40
        |ORDER BY id_a, id_b""".stripMargin) { (s, _) =>
      val a = s.table("embeddings").select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
        .filter(col("id_a") < 40)
      val b = s.table("embeddings").select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
      a.join(b, col("id_a") < col("id_b") && col("id_b") - col("id_a") <= 5)
        .select(col("id_a"), col("id_b"), round(cosine(col("emb_a"), col("emb_b")), 4).as("sim"))
        .orderBy("id_a", "id_b")
    },

    // ── multi-table LSH ANN (engine-specific hashing → no SQL oracle;
    // SimilaritySpec measures recall@5 against sim_cosine_topk) ──
    qNoOracle("sim_lsh_ann") { (s, _) =>
      lshAnnTopK(s.table("embeddings"))
    },

    // ── LSH-ANN ORACLE twin: the SAME probe pipeline (bucket equi-join
    // candidates, exact cosine re-score, ranked top-k cutoff) with the
    // portable quantized-SRP bucket plugged in, so DuckDB derives the
    // identical candidate set; the ranking runs on the original float
    // embeddings like production (rank-order parity at round-4 output
    // is proven by the green sim_cosine_topk). ──
    q("sim_lsh_ann_portable",
      """WITH qv AS (
        |  SELECT vec_id, embedding,
        |    list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |b AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(range(0, 8), p ->
        |      CASE WHEN list_sum(list_transform(range(1, 65), i ->
        |          q[CAST(i AS INTEGER)] *
        |          (((p * 64 + i) * 1103515245 + 12345) % 2 * 2 - 1))) > 0
        |        THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
        |  FROM qv),
        |qs AS (SELECT vec_id AS q_id, bucket FROM b WHERE vec_id < 10),
        |cand AS (
        |  SELECT DISTINCT q_id, b2.vec_id AS n_id
        |  FROM qs JOIN b b2 USING (bucket) WHERE b2.vec_id <> q_id),
        |scored AS (
        |  SELECT q_id, n_id,
        |    CAST(list_cosine_similarity(ea.embedding, eb.embedding) AS DOUBLE) AS sim
        |  FROM cand JOIN embeddings ea ON ea.vec_id = q_id
        |            JOIN embeddings eb ON eb.vec_id = n_id),
        |ranked AS (
        |  SELECT q_id, n_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rk
        |  FROM scored)
        |SELECT q_id, rk, n_id, round(sim, 4) AS sim
        |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin) { (s, _) =>
      lshAnnTopK(s.table("embeddings"), bucketFn = Some(portableBucketKeys))
    },

    // ── vector stats: norms and centroid distance per label ──
    q("sim_vector_stats",
      """WITH n AS (
        |  SELECT label, vec_id,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings)
        |SELECT label, count(*) AS n_vecs,
        |  round(avg(nrm), 4) AS avg_norm,
        |  round(min(nrm), 4) AS min_norm,
        |  round(max(nrm), 4) AS max_norm
        |FROM n GROUP BY label
        |ORDER BY label""".stripMargin) { (s, _) =>
      s.table("embeddings")
        .select(col("label"), norm(col("embedding")).as("nrm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(avg("nrm"), 4).as("avg_norm"),
          round(min("nrm"), 4).as("min_norm"),
          round(max("nrm"), 4).as("max_norm"))
        .orderBy("label")
    },
  )
}
