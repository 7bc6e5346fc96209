package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graft.{BusDrain, Decision}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced run of a query: building its DataFrame, then writing it
  * to the noop sink. Its layers split the wall time without overlap:
  *
  *   wall = build + optimize + physical + job union + driver gap
  *
  *  - `buildMs`: DataFrame construction, with the `eagerJobs` some
  *    queries run while building (their union is `eagerUnionMs`);
  *  - `optimizeMs`, `physicalMs`: the optimization and planning phases
  *    of the executed write's `QueryExecution.tracker`, whose three
  *    slowest rules are `topRules`;
  *  - `jobs` the write started and the union of their intervals;
  *  - `driverGapMs`: the rest — the write's analysis, AQE re-planning
  *    between jobs, result handling.
  *
  * GC, janino-compile and JIT figures are JVM-wide deltas; `stages` has a
  * row per stage the run completed, and `decisions` each runtime choice
  * the engine posted meanwhile.
  */
final case class QueryTrace(wallMs: Long, buildMs: Long, eagerJobs: Int, eagerUnionMs: Long,
    optimizeMs: Long, physicalMs: Long, topRules: Seq[(String, Double)], jobs: Int,
    jobUnionMs: Long, gcMs: Long, compiles: Long, jitMs: Long, stages: Seq[QueryTrace.Stage],
    decisions: Seq[Decision], execution: QueryExecution) {
  def driverGapMs: Long = wallMs - buildMs - optimizeMs - physicalMs - jobUnionMs

  /** The final adaptive plan of the write, as `EXPLAIN FORMATTED` prints it. */
  def finalPlan: String = execution.explainString(FormattedMode)
}

object QueryTrace {
  final case class Stage(id: Int, tasks: Int, maxTaskMs: Long, medianTaskMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

  /** The one collector: its listeners are attached only while `build`
    * runs and its DataFrame is written, so an untraced session pays
    * nothing. `build` must return a DataFrame of `spark`'s session.
    */
  def apply(spark: SparkSession)(build: => DataFrame): QueryTrace = {
    val sc = spark.sparkContext
    val events = new Events
    BusDrain(sc)
    sc.addSparkListener(events)
    spark.listenerManager.register(events.executions)
    try {
      val (gc0, cg0, jit0) = (gcMs, compiles, jitMs)
      val t0 = System.currentTimeMillis()
      val df = build
      val t1 = System.currentTimeMillis()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.currentTimeMillis()
      BusDrain(sc)
      val qe = Option(events.executed).getOrElse(throw new IllegalStateException(
        "the write reported no execution: its DataFrame belongs to another session"))
      val (eager, exec) = events.jobs.asScala.toSeq.partition(_._1 < t1)
      def phaseMs(p: String) = qe.tracker.phases.get(p).fold(0L)(_.durationMs)
      QueryTrace(
        wallMs = t2 - t0, buildMs = t1 - t0, eagerJobs = eager.size, eagerUnionMs = unionMs(eager),
        optimizeMs = phaseMs(QueryPlanningTracker.OPTIMIZATION),
        physicalMs = phaseMs(QueryPlanningTracker.PLANNING),
        topRules = qe.tracker.topRulesByTime(3).map { case (rule, s) =>
          (rule.split('.').last, s.totalTimeNs / 1e6) },
        jobs = exec.size,
        // job times come from the scheduler's clock: clip each write job
        // to the write's span so ms rounding cannot overlap two layers
        jobUnionMs = unionMs(exec.map { case (s, e) => (math.max(s, t1), math.min(e, t2)) }),
        gcMs = gcMs - gc0, compiles = compiles - cg0, jitMs = jitMs - jit0,
        stages = events.stageRows, decisions = events.decisions.asScala.toSeq, execution = qe)
    } finally {
      sc.removeSparkListener(events)
      spark.listenerManager.unregister(events.executions)
    }
  }

  private final class Events extends SparkListener {
    private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
    /** (start, end) epoch ms of every finished job. */
    val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
    private val stages = new ConcurrentLinkedQueue[StageInfo]()
    private val taskMs = new ConcurrentLinkedQueue[(Int, Long)]()
    val decisions = new ConcurrentLinkedQueue[Decision]()
    /** The last execution reported: the traced write's, once it returned. */
    @volatile var executed: QueryExecution = _
    val executions: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executed = qe
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.get(e.jobId)).foreach(s => jobs.add((s.longValue, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = taskMs.add((e.stageId, e.taskInfo.duration))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case d: Decision => decisions.add(d)
      case _ =>
    }

    /** Task times from task events; bytes from the stage's summed task metrics. */
    def stageRows: Seq[Stage] = {
      val byStage = taskMs.asScala.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sorted)
      stages.asScala.toSeq.distinctBy(_.stageId).sortBy(_.stageId).map { s =>
        val ms = byStage.getOrElse(s.stageId, Nil)
        val m = s.taskMetrics
        Stage(s.stageId, ms.size, ms.lastOption.getOrElse(0L), if (ms.isEmpty) 0L else ms(ms.size / 2),
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
      (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
    }._1

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  // the compile COUNT, not the histogram (a sample that under-reports deltas)
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}
