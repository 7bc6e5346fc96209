package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{CodegenFallbackGate, GraftSession, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** One operation of a pass. `build` returns the DataFrame whose execution
  * completes the operation (None when `build` already did all the work). */
abstract class Step(val name: String) {
  def build(spark: SparkSession): Option[DataFrame]
}

/** A query of the engine: `QueryDef.run` builds it; execution goes to the
  * noop sink, or to parquet in the cold pass, whose outputs are checked. */
final class QueryStep(d: QueryDef, dataDir: String) extends Step(d.name) {
  def build(spark: SparkSession): Option[DataFrame] = Some(d.run(spark, dataDir))
}

/** One replay of the event stream: redelivery dedup, then the engine's
  * watermarked streaming sessionizer, into a parquet sink with a
  * checkpoint. Each step delivers the next input file and waits for the
  * micro-batch. */
final class StreamPass(files: Seq[File], schema: org.apache.spark.sql.types.StructType,
    base: File) {
  private val src = new File(base, "src")
  private var query: StreamingQuery = _

  def steps(sinkOverride: Option[String]): Seq[Step] =
    files.zipWithIndex.map { case (f, i) =>
      new Step(f"stream_batch_$i%02d") {
        def build(spark: SparkSession): Option[DataFrame] = {
          if (i == 0) start(spark, sinkOverride.getOrElse(new File(base, "sink").getPath))
          val tmp = new File(src, "_" + f.getName)
          Files.copy(f.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
          Files.move(tmp.toPath, new File(src, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
          query.processAllAvailable()
          if (i == files.size - 1) query.stop()
          query.exception.foreach(e => throw e)
          None
        }
      }
    }

  private def start(spark: SparkSession, sink: String): Unit = {
    import spark.implicits._
    src.mkdirs()
    // the sessionizer defines the stream's watermark and Spark refuses a
    // second one upstream, so the redelivery dedup keys on event_id alone
    // (as ev_stream_dedup does) and the watermark bounds the sessions
    val events = Tables.normalizeEventTs(spark.readStream.schema(schema).parquet(src.getPath))
      .dropDuplicates("event_id")
      .select(col("user_id"), col("ts"), col("value"))
      .as[graft.streaming.Ev]
    query = graft.streaming.EventOps.streamingSessionize(events, Harness.gapMinutes, Harness.lateness)
      .writeStream.format("parquet")
      .option("checkpointLocation", new File(base, "checkpoint").getPath)
      .option("path", sink)
      .outputMode("append")
      .start()
  }

  def stop(): Unit = if (query != null && query.isActive) query.stop()
}

/** Benchmark harness: sets the engine up, runs a workload's passes in a
  * closed loop (one client, one operation at a time), and writes what it
  * measured to `<run>/result.json`. Metrics are derived from that file by
  * `perfbench/run.py`.
  *
  * Args: --passes P --trace 0|1 --data DIR --run DIR --queries a,b,c
  *       --order FILE [--stream DIR]
  */
object Harness {
  val gapMinutes = 30
  /** Longer than the epoch is old: the watermark stays at zero for every
    * real event, so no event is ever late (the sink equals its batch twin)
    * and no extra no-data batch runs between files. The last stream file
    * carries a sentinel event 40000 days past the data: it moves the
    * watermark beyond every session, and the no-data batch that follows
    * closes them all. */
  val lateness = "30000 days"

  private def now: Double = System.nanoTime / 1e6
  private val epochBase = System.currentTimeMillis - System.nanoTime / 1e6
  private def epoch(nanoMs: Double): Double = epochBase + nanoMs

  final case class OpRecord(name: String, pass: Int, ms: Double, ok: Boolean, error: String)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val warmPasses = a("passes").toInt
    val trace = a("trace") == "1"
    val dataDir = a("data")
    val runDir = new File(a("run"))
    val names = a.get("queries").toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    val defs = resolve(names)
    // line k: a seeded order of the queries (indices into names); pass p
    // round r of a stream workload uses line p * files + r
    val orders = Files.readAllLines(Paths.get(a("order"))).toArray(Array.empty[String]).toSeq
      .map(_.split(',').toSeq.map(_.trim.toInt))
    val streamFiles = a.get("stream").toSeq.flatMap { d =>
      Option(new File(d).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    }
    CodegenFallbackGate.install()

    // ── set-up: from JVM start until the first query can run, paid once
    // per process as a one-shot job pays it ──
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val t0 = now
    val spark = GraftSession("perfbench")
    val t1 = now
    Tables.register(spark, dataDir)
    val t2 = now
    val streamSchema = streamFiles.headOption.map(f => spark.read.parquet(f.getPath).schema).orNull
    val t3 = now
    val setup = Map("to_ready_s" -> (epoch(t3) - jvmStart) / 1e3, "build_s" -> (t1 - t0) / 1e3,
      "register_s" -> (t2 - t1) / 1e3, "fixture_s" -> (t3 - t2) / 1e3)

    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val traces = mutable.ArrayBuffer.empty[OpTrace]
    var heapPeak = 0.0
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val streamRoot = new File(runDir, "stream")

    def queries(k: Int): Seq[Step] = {
      orders(k % orders.size).map(i => new QueryStep(defs(i), dataDir))
    }

    // a stream workload runs the queries after every micro-batch: its
    // write statements run beside the stream's reads and commits
    def passSteps(pass: Int, dump: Option[String]): (Seq[Step], Option[StreamPass]) =
      if (streamFiles.isEmpty) (queries(pass), None)
      else {
        val sp = new StreamPass(streamFiles, streamSchema, new File(streamRoot, s"pass-$pass"))
        val batches = sp.steps(dump.map(_ + "/stream_sessions"))
        (batches.zipWithIndex.flatMap { case (b, r) =>
          b +: queries(pass * batches.size + r) }, Some(sp))
      }

    def runStep(step: Step, pass: Int, dump: Option[String], traced: Boolean): OpRecord = {
      val t = if (traced) tracer else None
      t.foreach(_.begin())
      val fallbacks0 = CodegenFallbackGate.fallbacks
      val start = now
      val rec = new OpTrace(step.name, pass, epoch(start))
      var built: Option[DataFrame] = None
      val err = try {
        rec.buildStartMs = epoch(now)
        built = step.build(spark)
        rec.buildEndMs = epoch(now)
        built.foreach { df =>
          dump match {
            case Some(d) => df.write.mode("overwrite").parquet(s"$d/${step.name}")
            case None => df.write.format("noop").mode("overwrite").save()
          }
        }
        if (CodegenFallbackGate.fallbacks > fallbacks0)
          s"codegen fallback: ${CodegenFallbackGate.fallbacks - fallbacks0} interpreted stage(s)"
        else null
      } catch {
        case e: Throwable =>
          s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")}"
      }
      val end = now
      rec.endMs = epoch(end)
      t.foreach { tr =>
        val analysed = built.toSeq.map(df => Sessions.classicDf(df).queryExecution)
        tr.finish(rec, analysed)
        rec.add("codegen.fallbacks", CodegenFallbackGate.fallbacks - fallbacks0)
        traces += rec
      }
      if (err != null) System.err.println(s"[perfbench] FAILED ${step.name} (pass $pass): $err")
      OpRecord(step.name, pass, end - start, err == null, err)
    }

    def runPass(pass: Int, traced: Boolean, dump: Option[String]): Double = {
      val (steps, stream) = passSteps(pass, dump)
      val start = now
      steps.foreach(s => ops += runStep(s, pass, dump, traced))
      val wall = (now - start) / 1e3
      stream.foreach(_.stop())
      deleteTree(streamRoot)
      org.apache.spark.perfbenchbus.BusDrain(spark.sparkContext)
      val heap = liveHeapMb()
      heapPeak = math.max(heapPeak, heap)
      passes += Map("pass" -> pass, "traced" -> traced, "cold" -> (pass == 0), "wall_s" -> wall,
        "heap_live_mb" -> heap)
      wall
    }

    // ── cold first pass, then the warm passes. The cold pass writes every output to parquet (a one-shot job's file
    // sink); those files are what run.py checks, after the run ends. ──
    val dumpDir = new File(runDir, "outputs")
    tracer.foreach(_.attach())
    runPass(0, trace, Some(dumpDir.getPath))
    tracer.foreach(_.detach())
    // warm passes; a traced run alternates untraced and traced ones,
    // starting and ending untraced, so each traced pass can be compared
    // with the untraced pass after it
    for (pass <- 1 to warmPasses) {
      val traced = trace && pass % 2 == 0
      if (traced) tracer.foreach(_.attach())
      runPass(pass, traced, None)
      if (traced) tracer.foreach(_.detach())
    }

    val result = Map(
      "config" -> Map(
        "warm_passes" -> warmPasses, "trace" -> trace,
        "cores" -> spark.sparkContext.defaultParallelism,
        "master" -> spark.sparkContext.master,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_version" -> spark.version,
        "java_version" -> sys.props("java.version"),
        "data_dir" -> dataDir,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions")),
      "queries" -> names,
      "oracle_sql" -> defs.flatMap(d => d.oracle.map(d.name -> _)).toMap,
      "setup" -> setup,
      "passes" -> passes,
      "ops" -> ops.map(o => Map("name" -> o.name, "pass" -> o.pass, "ms" -> o.ms,
        "ok" -> o.ok, "error" -> o.error)),
      "heap_live_peak_mb" -> heapPeak,
      "codegen_fallbacks" -> CodegenFallbackGate.fallbacks,
      "traces" -> traces.map(traceJson))
    Files.writeString(Paths.get(runDir.getPath, "result.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result))
    spark.stop()
  }

  /** Heap occupancy after collections stop freeing memory, read once the
    * listener bus is drained (undelivered task events are live objects).
    * One collection is not enough: blocks released by Spark's context
    * cleaner (broadcasts, checkpointed partitions) only become garbage
    * after the cleaner thread has seen the first collection and removed
    * them, so at least three collections run, 250 ms apart; with fewer,
    * whether a just-unreferenced broadcast is counted depends on the
    * cleaner's timing. */
  private def liveHeapMb(): Double = {
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    var prev = Long.MaxValue
    var cur = used
    var rounds = 0
    while (rounds < 8 && (rounds < 3 || cur < prev * 0.99)) {
      prev = cur
      System.gc()
      Thread.sleep(250)
      cur = used
      rounds += 1
    }
    cur / 1048576.0
  }

  /** Look the names up in the engine's registry; an unknown name fails
    * the run rather than silently shrinking the workload. */
  private def resolve(names: Seq[String]): Seq[QueryDef] = {
    val byName = graft.SparkEntry.all.map(d => d.name -> d).toMap
    val missing = names.filterNot(byName.contains)
    require(missing.isEmpty, s"query names unknown to the engine: ${missing.mkString(", ")}")
    names.map(byName)
  }

  private def traceJson(t: OpTrace): Map[String, Any] = Map(
    "name" -> t.name, "pass" -> t.pass, "start" -> t.startMs, "end" -> t.endMs,
    "build" -> Seq(t.buildStartMs, t.buildEndMs),
    "phases" -> t.phases.map { case (n, s, e) => Seq(n, s, e) },
    "jobs" -> t.jobs.map { case (id, s, e) => Seq(id, s, e) },
    "stages" -> t.stages.map { case (id, s, e, n) => Seq(id, s, e, n) },
    "rules" -> t.rules.map { case (k, v) => k -> v.toSeq },
    "counters" -> t.counters.toMap,
    "stage_skew" -> t.longestStageSkew,
    "result_rows" -> t.resultRows)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
