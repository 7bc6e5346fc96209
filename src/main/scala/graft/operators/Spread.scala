package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Scan-parallelism guard for CPU-heavy per-row derivations (round 16,
  * optimization guide §2.5 "Input skew: one huge unsplittable file …
  * repartition immediately after the read").
  *
  * The gate fixtures are ONE parquet file with ONE row group per table
  * (documents.parquet: 5 000 rows / 584 KB at sf0.1), so every scan is a
  * single task no matter how many cores the session has — and the text
  * operators do their expensive work (regex tokenize, shingle explode,
  * per-gram hashing) MAP-SIDE, before the first exchange. Measured per
  * job at sf0.1×32 cores: the tokenize/explode stage of
  * dd_minhash_lsh's verify-join broadcasts ran 0.86 s + 1.16 s on one
  * core each; tx_perplexity's trigram census 1.35 s; dd_decontaminate's
  * probe pass 0.89 s — all single-task.
  *
  * `bySize` inserts one small hash repartition right after the read so
  * that the derivation runs on every core. It is SIZE-GATED, not a local
  * tuning constant: it engages only while the source files are smaller
  * than (defaultParallelism × filesOpenCostInBytes) — exactly the regime
  * where Spark's own split math (maxSplitBytes ≥ openCostInBytes) cannot
  * produce one split per core. On a production-scale input the scan
  * already has ≥ cores splits, the gate is false, and the plan is
  * untouched — so this is a no-op at 100 TB by construction, not by
  * configuration.
  *
  * Correctness: repartitioning is a pure physical transform — every
  * downstream consumer here is an aggregation, join, or key-partitioned
  * window, none of which depend on partitioning or row order. The hash
  * keys make task assignment deterministic (no round-robin, so no
  * sort-before-repartition pass and no retry-sensitivity).
  *
  * Filters are pushed through the repartition (Catalyst's
  * PushPredicateThroughNonJoin treats it as order-free), so a row filter
  * written above `bySize` runs in the single-task scan stage below it —
  * and a filter on a derived column re-runs that derivation there. Put
  * size guards on derived arrays inside the generator instead
  * (`explode(when(size(tokens) >= n, …))`, as CurationOps does).
  */
object Spread {

  /** Total bytes of the file sources under `df`, or None when the plan
    * has no file source (in-memory spec frames) — which disables the
    * repartition and leaves those plans untouched. A file removed between
    * listing and stat also gives None; any other failure propagates, so
    * a broken file system cannot quietly change the plan.
    */
  private[graft] def sourceBytes(df: DataFrame): Option[Long] = {
    val files = df.inputFiles
    if (files.isEmpty) None
    else try {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      Some(files.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(conf).getFileStatus(p).getLen
      }.sum)
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Width law (round 17): at least this many source bytes per spread
    * task. The round-16 spread used the full defaultParallelism, which
    * produced 32 tasks of ~18 KB each on the 584 KB sf0.1 documents
    * fixture — per-task work so small that the fixed per-task cost
    * (launch + codegen'd regex warmup + shuffle-writer setup, ~5–15 ms)
    * plus 32-thread allocation contention DOMINATED: the driver's own
    * round-16 scaling block caught tx_perplexity running 3.7× FASTER at
    * 8 cores than at 32. Measured width curve on that query (min-of-5,
    * same box, 32-core session): width 4 → 1.28 s, 8 → 1.23 s, 16 →
    * 1.27 s, 32 → 1.95 s; the minhash family is flat-to-better at
    * width 10 vs 32 (dd_minhash_lsh 1.38 vs 1.60, dd_exact_substring
    * 1.34 vs 1.32). 64 KB/task keeps every task ≥ ~10× the fixed cost
    * at the cheapest measured per-byte map work while still widening
    * with the data: a 2 MB input already spreads to the full core count,
    * so this is a data-volume law, not a core-count constant — the
    * driver's 8-core bench (8 ≤ ceil(584/64)) sees the identical width
    * it saw in round 16.
    */
  private val TargetBytesPerTask = 64L * 1024

  def bySize(df: DataFrame, key: Column*): DataFrame = {
    // streaming frames: repartition is illegal mid-stream and inputFiles
    // would force a batch analysis — pass through untouched
    if (df.isStreaming) return df
    val sess = df.sparkSession
    val p = sess.sparkContext.defaultParallelism
    val openCost = sess.sessionState.conf.filesOpenCostInBytes
    sourceBytes(df) match {
      case Some(bytes) if bytes < p.toLong * openCost =>
        val width = math.min(p.toLong,
          math.max(2L, (bytes + TargetBytesPerTask - 1) / TargetBytesPerTask)).toInt
        df.repartition(width, key: _*)
      case _ => df
    }
  }
}
