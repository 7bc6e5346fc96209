package graft

/** Benchmark main, mirroring the reference's protocol (BASELINE.md:
  * prewarm runs then measured runs — reference presto-benchto-benchmarks
  * tpch.yaml:3-4 uses 2 prewarm + 6 measured; we default to 1 prewarm +
  * 5 measured, overridable via SPARK_GRAFT_BENCH_RUNS /
  * SPARK_GRAFT_PREWARM). Per query the headline number is min-of-N
  * (load-robust); the JSON line also carries the median and the raw
  * per-run times so machine-load contamination is visible without a
  * re-run. Prints ONE JSON line the driver collects into BENCH_r{N}.json.
  * bench_detail.json also records from each query's best run's
  * `QueryTrace` the jobs it started (a work count that, unlike wall
  * time, does not move with host load) and its `layers`.
  */
object Bench {

  /** Headline queries: the TPC-H-style core plus one representative of
    * each extension family (dedup, similarity, text, event windows).
    */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier",
    "q06_revenue_forecast", "q09_product_profit", "q13_customer_distribution",
    "q18_large_orders", "q21_suppliers_waiting",
    "win_topn_per_group", "agg_grouping_sets",
    "dd_exact", "dd_minhash_lsh", "dd_simhash", "sim_cosine_topk",
    "sim_lsh_ann", "tx_stats", "ev_sliding_window", "ev_custom_sessionize",
    // fn_histogram_map (not fn_approx_set_hll): the HLL query's cost is
    // its exact-count verification subqueries, not the sketch itself —
    // the histogram aggregate is the representative sketch-path op
    "fn_checksum", "fn_histogram_map",
    // round-3 op: grid-bucketed spatial join. (fn_tdigest is NOT here
    // for the same reason as fn_approx_set_hll: its runtime is the
    // exact-percentile verification subqueries, not the sketch.)
    "spatial_distance_join",
    // round-4 ops: the real q02/q11 shapes over the synthesized partsupp,
    // and incremental LSH ingestion against the persisted band index
    // (its first execution builds the index; the measured warm runs are
    // the recurring day-N cost)
    "q02_min_cost_supplier", "q11_important_stock", "dd_incremental_minhash",
    // round-5 ops: the heaviest TPC-DS shapes (8-level rollup + ranked
    // window; full-join cumulative windows; OR-of-EXISTS chain) and the
    // grid-bucketed polygon-polygon join
    "tpcds_q67", "tpcds_q51", "tpcds_q10", "spatial_polygon_join",
    // round-5 additions: the cross-channel INTERSECT composite, the
    // year-over-year per-customer pivot, duplicate clustering over
    // the LSH candidate pairs (the linear production path — the exact
    // quadratic twin dd_jaccard_clusters lives in the correctness gate,
    // not here), and the KD-B-partitioned distance join
    "tpcds_q14", "tpcds_q74", "dd_minhash_clusters", "spatial_kdb_join",
    // round-6 ops: the returns-aware three-channel UNION + year-over-year
    // self-join; the 17-table q64 monster (optimizer + planning stress);
    // embedding-cosine near-dup via the codegen'd ArrayDot re-score; the
    // one-query curation pipeline (quality → dedup → token accounting)
    "tpcds_q75", "tpcds_q64", "dd_embedding_lsh", "pipe_corpus_curation",
    // round-6 curation ops: decontamination (map-side 5-gram probe vs a
    // broadcast eval set) and sequence packing (per-source running sum)
    "dd_decontaminate", "pipe_pack_sequences",
    // round-8 ops: bloom-prefiltered day-N exact dedup (scalar-subquery
    // bloom + exact verify), URL-canonicalization dedup (Presto URL
    // family map-side), trigram-LM perplexity scoring (bounded model
    // broadcast join)
    "dd_bloom_prefilter", "dd_url_canonical", "tx_perplexity",
    // round-9 op: SemDeDup — k-means cells bound the pairwise pass,
    // components + edge-exemplar survivor per duplicate group
    "dd_semdedup",
    // round-9 op: BPE tokenization — one vocabulary-bounded word-count
    // shuffle (training, amortized by the per-(session,dir) cache into
    // the prewarm run) + map-side encode with the broadcast rank table;
    // the measured warm runs are the recurring tokenize-the-corpus cost
    "pipe_bpe_tokenize",
    // round-9 op: as-of join — union + ordered window (one key shuffle,
    // no pairwise expansion; the scale-safe point-in-time lookup)
    "join_asof",
    // round-9 op: BM25 keyword retrieval — map-side term filter vs the
    // broadcast query terms, document-frequency broadcast, per-query
    // top-k via WindowGroupLimit (no global sort)
    "sim_bm25_topk",
    // round-11 op promotion: exact-substring duplication (Lee et al.) —
    // after the census+join → single hashed-key window rework (−75% at
    // the m10 stress point) it earns headline visibility
    "dd_exact_substring")

  /** Load-normalized control (round 15): a pinned checkout at the
    * previous round's verdict commit (tools/setup_bench_control.sh)
    * runs as a lockstep subprocess — each headline query is measured
    * HEAD-then-control seconds apart in the SAME session, so the
    * per-query HEAD/control ratio separates code movers from machine
    * load (the r14 driver point regressed +29% with zero code-attributed
    * movers and could not arbitrate itself). Degrades gracefully: no
    * compiled control dir → ratios absent, bench unchanged.
    */
  private final class Control(dir: java.io.File, sfDir: String) {
    private val tag = {
      val f = new java.io.File(dir, "CONTROL_TAG")
      if (f.exists)
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
      else "unknown"
    }
    def controlTag: String = tag
    private var proc: Process = _
    private var toCtrl: java.io.PrintWriter = _
    private var fromCtrl: java.util.concurrent.BlockingQueue[String] = _
    private var dead = false

    private def readLine(timeoutSec: Long): Option[String] = {
      val v = fromCtrl.poll(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      if (v == null) { kill("timeout"); None } else Some(v)
    }

    private def kill(why: String): Unit = if (!dead) {
      dead = true
      System.err.println(s"[bench] control disabled: $why")
      if (proc != null) proc.destroyForcibly()
    }

    def start(): Boolean = {
      try {
        val classes = new java.io.File(dir, "target/scala-2.13/classes")
        val javaBin = sys.props("java.home") + "/bin/java"
        val cp = classes.getAbsolutePath + ":/opt/spark/jars/*"
        val pb = new ProcessBuilder(
          javaBin, "-Xmx8g", "--add-opens=java.base/java.nio=ALL-UNNAMED",
          "--add-opens=java.base/java.lang=ALL-UNNAMED",
          "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
          "--add-opens=java.base/java.util=ALL-UNNAMED",
          "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
          "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
          "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
          "--enable-native-access=ALL-UNNAMED",
          "-cp", cp, "graft.tools.ControlServer", sfDir)
        pb.redirectErrorStream(false)
        proc = pb.start()
        // drain stderr so the control can't block on a full pipe
        val errDrain = new Thread(() => {
          val r = new java.io.BufferedReader(
            new java.io.InputStreamReader(proc.getErrorStream))
          while (r.readLine() != null) {}
        })
        errDrain.setDaemon(true); errDrain.start()
        fromCtrl = new java.util.concurrent.LinkedBlockingQueue[String]()
        val outPump = new Thread(() => {
          val r = new java.io.BufferedReader(
            new java.io.InputStreamReader(proc.getInputStream))
          var l = r.readLine()
          while (l != null) {
            if (l.startsWith("CTRLPROTO ")) fromCtrl.put(l)
            l = r.readLine()
          }
        })
        outPump.setDaemon(true); outPump.start()
        toCtrl = new java.io.PrintWriter(proc.getOutputStream, true)
        readLine(300) match {
          case Some("CTRLPROTO READY v2") => true
          case other => kill(s"bad handshake: $other"); false
        }
      } catch {
        case e: Throwable => kill(s"launch failed: ${e.getMessage}"); false
      }
    }

    /** One control prewarm execution. */
    def prewarmOnce(name: String): Unit = if (!dead) {
      toCtrl.println(s"prewarm $name")
      readLine(600) match {
        case Some(l) if l == s"CTRLPROTO WARM $name" => ()
        case Some(l) if l == s"CTRLPROTO ABSENT $name" ||
          l == s"CTRLPROTO FAILED $name" => ()
        case Some(l) => kill(s"protocol drift: $l")
        case None => ()
      }
    }

    /** One measured control run, or None (absent in the control tag /
      * failed / control dead). */
    def runOnce(name: String): Option[Double] = {
      if (dead) return None
      toCtrl.println(s"run $name")
      readLine(600).flatMap { l =>
        l.split(' ') match {
          case Array("CTRLPROTO", "RAN", `name`, secs) =>
            try Some(secs.toDouble) catch { case _: Throwable => None }
          case Array("CTRLPROTO", "ABSENT", `name`) => None
          case Array("CTRLPROTO", "FAILED", `name`) => None
          case _ => kill(s"protocol drift: $l"); None
        }
      }
    }

    def stop(): Unit = if (!dead) {
      try { toCtrl.println("quit"); readLine(30) } catch { case _: Throwable => }
      if (proc != null) proc.destroyForcibly()
      dead = true
    }
  }

  /** One query's `layers` (docs/OPERATIONS.md §4 gives each field's source). */
  private def layersJson(t: QueryTrace): String = {
    def str(v: String) = "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def obj(fields: (String, Any)*) = fields.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    def arr(items: Seq[Any]) = items.mkString("[", ",", "]")
    obj("build_ms" -> t.buildMs, "eager_jobs" -> t.eagerJobs, "eager_union_ms" -> t.eagerUnionMs,
      "optimize_ms" -> t.optimizeMs, "physical_ms" -> t.physicalMs,
      "top_rules" -> obj(t.topRules.map { case (r, ms) => r -> math.round(ms) }: _*),
      "jobs" -> t.jobs, "job_union_ms" -> t.jobUnionMs, "driver_gap_ms" -> t.driverGapMs,
      "gc_ms" -> t.gcMs, "janino_compiles" -> t.compiles, "jit_ms" -> t.jitMs,
      "decisions" -> arr(t.decisions.map(d => obj("name" -> str(d.name), "choice" -> str(d.choice)))),
      "stages" -> arr(t.stages.map(s => arr(s.productIterator.toSeq))))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val prewarm = sys.env.getOrElse("SPARK_GRAFT_PREWARM", "1").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    // dev-only: comma-separated subset of headline queries to measure
    // (the driver never sets it — full run)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    CodegenFallbackGate.install()
    val spark = GraftSession("graft-bench")

    /** One run to the noop sink: full execution, no driver-side collection. */
    def execute(name: String): QueryTrace =
      QueryTrace(spark)(SparkEntry.queries(name)(spark, sfDir))

    // Load-robust protocol (round-4 postmortem: a loaded machine
    // contaminated the recorded medians with no way to tell noise from
    // regression). The headline per-query number is MIN-of-N — the
    // cleanest observation, immune to transient machine-wide load — and
    // the JSON also carries the raw per-run times plus the median so a
    // reader can see the spread without a re-run.
    // A typo'd headline name must fail the run, not silently shrink the
    // measured set (caught live in round 9: "ret_bm25" vs the registered
    // "sim_bm25_topk" benched 44 queries while the docs claimed 45).
    val unknown = headline.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"headline names not in SparkEntry.queries: ${unknown.mkString(", ")}")
    // pinned-control lockstep (SPARK_GRAFT_CONTROL_DIR, default
    // .bench-control; SPARK_GRAFT_CONTROL=0 disables): started before
    // the first measurement so both JVMs share the whole session window
    val controlDir = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_CONTROL_DIR", ".bench-control"))
    val control: Option[Control] =
      if (sys.env.get("SPARK_GRAFT_CONTROL").contains("0")) None
      else if (!new java.io.File(controlDir,
          "target/scala-2.13/classes/graft/tools/ControlServer.class").exists) {
        System.err.println("[bench] no compiled control at " +
          controlDir.getPath + " — ratios absent (tools/setup_bench_control.sh)")
        None
      } else {
        val c = new Control(controlDir, sfDir)
        if (c.start()) Some(c) else None
      }
    val controlTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
    // A query that throws is listed in the artifact's "failed" and makes
    // the run exit nonzero; its -1.0 sentinel never enters a total.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def fail(name: String, e: Throwable): Seq[QueryTrace] = {
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      failed += name
      Nil
    }
    // Round-16 lockstep (VERDICT r15 ask #1): the sides alternate per
    // RUN — H,C,H,C… — so each HEAD run and its control partner sit in
    // the same seconds-wide load window and no 30–60 s load wave can
    // straddle one side's whole block (the r15 failure mode that shipped
    // two false 4.7–6.8x code-mover flags). Without a control only the
    // HEAD runs execute and the control minimum is None. HEAD runs come
    // back fastest first; a failed query returns none.
    def measureLockstep(name: String, nRuns: Int): (Seq[QueryTrace], Option[Double]) = {
      val ctrl = scala.collection.mutable.ArrayBuffer[Double]()
      val head =
        try {
          (1 to prewarm).foreach { _ =>
            execute(name); control.foreach(_.prewarmOnce(name))
          }
          (1 to nRuns).map { _ =>
            val h = execute(name)
            control.flatMap(_.runOnce(name)).foreach(ctrl += _)
            h
          }.sortBy(_.wallMs)
        } catch {
          case e: Throwable => fail(name, e)
        }
      (head, if (ctrl.isEmpty) None else Some(ctrl.min))
    }
    // the best run's jobs and layers, as JSON: no plan outlives its query
    val best = scala.collection.mutable.LinkedHashMap[String, (Int, String)]()
    val results = headline
      .filter(n => only.forall(_.contains(n))).map { name =>
      val (timed, ctrlMin) = measureLockstep(name, runs)
      ctrlMin.foreach(controlTimes(name) = _)
      timed.headOption.foreach(t => best(name) = (t.eagerJobs + t.jobs, layersJson(t)))
      name -> (if (timed.isEmpty) Seq(-1.0) else timed.map(_.wallMs / 1e3))
    }

    def fmt(v: Double) = f"$v%.3f"
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = results.map { case (k, t) => "\"" + k + "\":" + fmt(t.head) }
      .mkString("{", ",", "}")
    val medians = results.map { case (k, t) => "\"" + k + "\":" + fmt(t(t.size / 2)) }
      .mkString("{", ",", "}")
    val raw = results.map { case (k, t) => "\"" + k + "\":[" + t.map(fmt).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val jobs = best.map { case (k, (n, _)) => "\"" + k + "\":" + n }.mkString("{", ",", "}")
    val layers = best.map { case (k, (_, l)) => "\"" + k + "\":" + l }.mkString("{", ",", "}")
    val total = results.map(_._2.head).filter(_ >= 0).sum
    val totalMedian = results.map { case (_, t) => t(t.size / 2) }.filter(_ >= 0).sum
    // Tail-anomaly gate (round-8 verdict: raw-run spread kept catching
    // real things — r7's false regression, q64's 9x worst run — but only
    // at judgment time). Flag any query whose worst/best raw ratio
    // exceeds 3x right in the bench artifact so tails get named
    // in-round. On a quiet box the ratio sits near 1; host-load
    // plateaus shift whole runs ~1.5x, so 3x only fires on genuine
    // stragglers (GC, recompilation, interference spikes).
    val tailFlags = results.collect {
      case (k, t) if t.head > 0 && t.last / t.head > 3.0 =>
        f""""$k":${t.last / t.head}%.1f"""
    }.mkString("{", ",", "}")
    // The driver captures only the LAST 2000 chars of stdout (every
    // BENCH_r1..r5 artifact shows tail_len=2000 and parsed:null whenever
    // the JSON line overflowed it). So: the full detail — medians + raw
    // per-run times, the round-4 load-robustness data — goes to a side
    // file in the repo, and stdout gets ONE compact line (min-of-N per
    // query) that fits the window with room for sbt's trailing
    // "[success]" line.
    // codegen-fallback standing gate (see CodegenFallbackGate): any
    // janino compile failure during the measured runs means a stage
    // silently executed interpreted — a benchmark number from the wrong
    // engine path. Carried in both the detail file and the stdout line.
    val fallbacks = CodegenFallbackGate.fallbacks
    if (fallbacks > 0) {
      System.err.println(s"[bench] CODEGEN FALLBACK GATE: $fallbacks ERROR " +
        "CodeGenerator events during the measured runs")
    }
    // control artifact: per-query HEAD/control ratios (same-session →
    // load cancels), the control total, and the arbitration — every
    // ratio > 1.15 is a CODE mover; a slow absolute point with flat
    // ratios is control-excused as machine load, by the artifact itself
    val controlTag = control.map(_.controlTag).getOrElse("")
    val ctrlQs = controlTimes.map { case (k, t) => "\"" + k + "\":" + fmt(t) }
      .mkString("{", ",", "}")
    val ratios = results.collect {
      case (k, t) if t.head > 0 && controlTimes.get(k).exists(_ > 0) =>
        k -> t.head / controlTimes(k)
    }
    val ratioJson = ratios.map { case (k, r) => f""""$k":$r%.2f""" }
      .mkString("{", ",", "}")
    // the control JVM is systematically colder (fresh session, fewer
    // warm runs), so raw ratios sit below 1 — gate movers on the ratio
    // NORMALIZED by the session's median ratio, or a real regression
    // hides under the cold-control bias
    val medianRatio =
      if (ratios.isEmpty) 1.0
      else ratios.map(_._2).sorted.apply(ratios.size / 2)
    // Round-16 auto-retry (VERDICT r15 ask #1, second half): a flagged
    // mover is re-benched fresh — per-run interleave, both JVMs warm —
    // before it may be EMITTED as a code mover. A load wave does not
    // repeat on demand; a code regression does. Only suspects that stay
    // >1.15 normalized on the retry ship; both readings go to
    // bench_detail.mover_retries either way.
    val suspects = ratios
      .filter { case (_, r) => medianRatio > 0 && r / medianRatio > 1.15 }
    val retries = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    val confirmedMovers = suspects.flatMap { case (k, r0) =>
      val n0 = r0 / medianRatio
      val (ts, ctrlMin) = measureLockstep(k, math.max(3, runs - 2))
      val n1 = (for { c <- ctrlMin if c > 0; h <- ts.headOption.map(_.wallMs / 1e3) }
        yield (h / c) / medianRatio).getOrElse(n0)
      retries(k) = (n0, n1)
      if (n1 > 1.15) Some(k -> math.min(n0, n1)) else None
    }
    control.foreach(_.stop())
    val codeMovers = confirmedMovers
      .map { case (k, n) => f""""$k":$n%.2f""" }
      .mkString("{", ",", "}")
    val retryJson = retries.map { case (k, (a, b)) =>
      f""""$k":{"flagged":$a%.2f,"retry":$b%.2f}""" }
      .mkString("{", ",", "}")
    val controlTotal = controlTimes.values.sum
    val controlJson =
      if (control.isEmpty) "\"control\":null"
      else f""""control":{"tag":"$controlTag","total":$controlTotal%.3f,"queries":$ctrlQs,"ratio":$ratioJson,"median_ratio":$medianRatio%.2f,"code_movers":$codeMovers,"mover_retries":$retryJson,"ratio_gate":"normalized>1.15, retry-confirmed"}"""
    val detail = f"""{"metric":"total","value":$total%.3f,"unit":"sec","estimator":"min-of-$runs%d","queries":$qs,"queries_median":$medians,"total_median":$totalMedian%.3f,"raw_runs":$raw,"jobs":$jobs,"layers":$layers,"tail_flags":$tailFlags,"codegen_fallbacks":$fallbacks,"failed":$failedJson,$controlJson,"sf":"$sfDir","cores":${GraftSession.cores}}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_detail.json"),
      detail.getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    // Print the result line LAST (after spark.stop()): the driver keeps
    // only the final 2000 chars of merged output, and any shutdown log
    // noise emitted after an earlier println could push the JSON line out
    // of that window. Only sbt's short "[success]" trailer follows this.
    spark.stop()
    val ctrlStdout =
      if (control.isEmpty) ""
      else f""""control_tag":"$controlTag","control_total":$controlTotal%.3f,"code_movers":$codeMovers,"""
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","estimator":"min-of-$runs%d","queries":$qs,"tail_flags":$tailFlags,"codegen_fallbacks":$fallbacks,"failed":$failedJson,$ctrlStdout"sf":"$sfDir","cores":${GraftSession.cores}}""")
    if (failed.nonEmpty) {
      System.err.println(s"[bench] FAILED queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
