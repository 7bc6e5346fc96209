package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.graft.BusDrain

/** The query profiler: runs named queries to the noop sink and splits
  * each run's wall time into layers read from one SparkListener.
  *
  *   SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.tools.Profile <query> [<query> …] [runs]"
  *
  * Per query: one prewarm, then `runs` (default 3) measured runs. Each
  * run prints its plan time with the top 3 optimizer rules, its
  * execution time as the union of its job intervals plus the driver gap
  * between them, its GC, janino-compile and JIT deltas, and one row per
  * stage. A run slower than 2× the query's fastest is marked SLOW.
  */
object Profile {
  final case class Stage(id: Int, tasks: Int, maxTaskMs: Long, medianTaskMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

  /** One measured run. `planMs` is building the DataFrame (with the
    * `eagerJobs` some queries run while building it, covering
    * `eagerUnionMs`) and forcing its executed plan; `execMs` is the noop
    * write, whose `jobs` cover `jobUnionMs` of it. AQE re-planning
    * happens inside `execMs`.
    */
  final case class Run(wallMs: Double, planMs: Double, eagerJobs: Int, eagerUnionMs: Double,
      topRules: Seq[(String, Double)], execMs: Double, jobs: Int, jobUnionMs: Double,
      gcMs: Long, compiles: Long, jitMs: Long, stages: Seq[Stage]) {
    def driverGapMs: Double = math.max(0.0, execMs - jobUnionMs)
  }

  private final class Events extends SparkListener {
    val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
    val jobEnds = new ConcurrentHashMap[Int, java.lang.Long]()
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    val tasks = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.add(e)
    def clear(): Unit = { jobStarts.clear(); jobEnds.clear(); stages.clear(); tasks.clear() }
    /** (start, end) epoch ms of every finished job. */
    def jobIntervals: Seq[(Long, Long)] = jobEnds.asScala.toSeq.collect {
      case (id, end) if jobStarts.containsKey(id) => (jobStarts.get(id).longValue, end.longValue)
    }
  }

  def main(args: Array[String]): Unit = {
    val (names, runs) = args.lastOption.flatMap(_.toIntOption) match {
      case Some(n) if args.length > 1 => (args.init.toSeq, n)
      case _ => (args.toSeq, 3)
    }
    require(names.nonEmpty, "usage: Profile <query> [<query> …] [runs]")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a generated scale-factor directory"))
    val spark = GraftSession("graft-profile")
    try names.foreach(n => report(n, profile(spark, sfDir, n, runs)))
    finally spark.stop()
  }

  /** One prewarm, then `runs` measured runs of `name`. */
  def profile(spark: SparkSession, sfDir: String, name: String, runs: Int): Seq[Run] = {
    val query = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query: $name"))
    val events = new Events
    spark.sparkContext.addSparkListener(events)
    try {
      def run() = measure(spark, events, query(spark, sfDir))
      run()
      (1 to runs).map(_ => run())
    } finally spark.sparkContext.removeSparkListener(events)
  }

  private def measure(spark: SparkSession, events: Events,
      build: => org.apache.spark.sql.DataFrame): Run = {
    BusDrain(spark.sparkContext)
    events.clear()
    RuleExecutor.resetMetrics()
    val (gc0, cg0, jit0) = (gcMs, compiles, jitMs)
    val t0 = System.nanoTime()
    val df = build
    df.queryExecution.executedPlan
    val rules = topRules(3)
    val t1 = System.nanoTime()
    val execStart = System.currentTimeMillis()
    df.write.format("noop").mode("overwrite").save()
    val t2 = System.nanoTime()
    BusDrain(spark.sparkContext)
    val (eager, exec) = events.jobIntervals.partition(_._1 < execStart)
    val byStage = events.tasks.asScala.toSeq.groupBy(_.stageId)
    val stages = events.stages.asScala.toSeq.map(_.stageId).distinct.sorted.map { id =>
      val ts = byStage.getOrElse(id, Nil)
      val ms = ts.map(_.taskInfo.duration).sorted
      val m = ts.flatMap(t => Option(t.taskMetrics))
      Stage(id, ts.size, ms.lastOption.getOrElse(0L), if (ms.isEmpty) 0L else ms(ms.size / 2),
        m.map(_.shuffleReadMetrics.totalBytesRead).sum,
        m.map(_.shuffleWriteMetrics.bytesWritten).sum,
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).sum)
    }
    Run((t2 - t0) / 1e6, (t1 - t0) / 1e6, eager.size, unionMs(eager).toDouble, rules, (t2 - t1) / 1e6,
      exec.size, unionMs(exec).toDouble, gcMs - gc0, compiles - cg0, jitMs - jit0, stages)
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
      (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
    }._1

  /** RuleExecutor keeps its per-rule times private; its dump lists them
    * by total time, descending: `rule  effectiveNs / totalNs  runs`. */
  private def topRules(n: Int): Seq[(String, Double)] = {
    val line = """^(\S+)\s+\d+ / (\d+)\s+\d+ / \d+\s*$""".r
    RuleExecutor.dumpTimeSpent().linesIterator.collect {
      case line(rule, ns) => (rule.split('.').last, ns.toLong / 1e6)
    }.take(n).toSeq
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  // the compile COUNT, not the histogram (a sample that under-reports deltas)
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def report(name: String, runs: Seq[Run]): Unit = {
    def mb(b: Long) = f"${b / 1048576.0}%.1f MB"
    val fastest = runs.map(_.wallMs).min
    runs.zipWithIndex.foreach { case (r, i) =>
      println(f"[profile] $name run ${i + 1} wall ${r.wallMs}%.0f ms" +
        (if (r.wallMs > 2 * fastest) "  SLOW" else ""))
      println(f"  plan ${r.planMs}%.0f ms (eager jobs ${r.eagerJobs}, union ${r.eagerUnionMs}%.0f ms)  top rules: " +
        r.topRules.map { case (rule, ms) => f"$rule $ms%.0f ms" }.mkString(", "))
      println(f"  exec ${r.execMs}%.0f ms  jobs ${r.jobs}  job union ${r.jobUnionMs}%.0f ms" +
        f"  driver gap ${r.driverGapMs}%.0f ms")
      println(s"  gc ${r.gcMs} ms  janino compiles ${r.compiles}  jit ${r.jitMs} ms")
      r.stages.foreach { s =>
        println(f"  stage ${s.id}%5d  tasks ${s.tasks}%4d  max ${s.maxTaskMs}%6d ms" +
          f"  median ${s.medianTaskMs}%6d ms  shuffle read ${mb(s.shuffleReadBytes)}" +
          s"  write ${mb(s.shuffleWriteBytes)}  spill ${mb(s.spillBytes)}")
      }
    }
  }
}
