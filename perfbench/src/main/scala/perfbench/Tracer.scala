package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the traced run learns about one operation. Times are epoch
  * milliseconds (the clock Spark's listener events and planning tracker
  * use); counters are summed over the operation's jobs, stages and tasks.
  */
final class OpTrace(val name: String, val pass: Int, val startMs: Double) {
  var endMs = 0.0
  var buildStartMs = 0.0
  var buildEndMs = 0.0
  val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
  val rules = mutable.Map.empty[String, Array[Long]] // ns, invocations, effective
  val jobs = mutable.ArrayBuffer.empty[(Int, Double, Double)]
  val stages = mutable.ArrayBuffer.empty[(Int, Double, Double, Int)]
  val counters = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  var longestStageSkew = 0.0
  var resultRows = 0.0

  def add(k: String, v: Double): Unit = counters(k) = counters(k) + v
  def max(k: String, v: Double): Unit = counters(k) = math.max(counters(k), v)
}

/** Spark listener surfaces, attached for the traced half of a run:
  * `SparkListener` (jobs, stages, tasks), `QueryExecutionListener`
  * (planning tracker and the executed plan's SQL metrics),
  * `StreamingQueryListener` (micro-batch progress) and the codegen
  * compile counter. Events are queued as they arrive and attributed to
  * the operation that was open when the listener bus drained.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobs = new ConcurrentLinkedQueue[(Int, Double, Double)]()
  private val stages = new ConcurrentLinkedQueue[StageInfo]()
  private val tasks = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()
  private val execs = new ConcurrentLinkedQueue[QueryExecution]()
  private val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = Option(jobStart.remove(e.jobId)).map(_.toDouble).getOrElse(e.time.toDouble)
      jobs.add((e.jobId, s, e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.add(e)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      execs.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      execs.add(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    Sessions.classic(spark).listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    CodegenLog.install()
  }

  def detach(): Unit = {
    org.apache.spark.perfbenchbus.BusDrain(sc)
    sc.removeSparkListener(sparkListener)
    Sessions.classic(spark).listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private var compilesAtStart = 0L
  private var compileMicrosAtStart = 0L

  /** Discard anything queued before the operation starts. */
  def begin(): Unit = {
    org.apache.spark.perfbenchbus.BusDrain(sc)
    Seq(jobs, stages, tasks, execs, progress).foreach(_.clear())
    compilesAtStart = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compileMicrosAtStart = CodegenLog.micros.get
  }

  /** Attribute everything delivered since [[begin]] to `op`. */
  def finish(op: OpTrace, extraPhases: Seq[QueryExecution]): Unit = {
    org.apache.spark.perfbenchbus.BusDrain(sc)
    op.add("codegen.compiles",
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compilesAtStart).toDouble)
    op.add("codegen.compile_ms", (CodegenLog.micros.get - compileMicrosAtStart) / 1000.0)
    drain(jobs).foreach { j =>
      op.jobs += j
      if (j._2 >= op.buildStartMs && j._2 <= op.buildEndMs) op.add("operators.eager_jobs", 1)
    }
    val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
    drain(tasks).foreach { t =>
      val info = t.taskInfo
      val m = t.taskMetrics
      val dur = (info.finishTime - info.launchTime).toDouble
      op.add("exec.tasks", 1)
      op.add("exec.task_ms", dur)
      if (info.failed || info.killed) op.add("exec.failed_tasks", 1)
      taskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += dur
      if (m != null) {
        op.add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        op.add("exec.gc_ms", m.jvmGCTime.toDouble)
        op.add("exec.sched_wait_ms", math.max(0.0, dur - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
        val sr = m.shuffleReadMetrics
        if (m.inputMetrics.recordsRead == 0 && sr.recordsRead == 0) op.add("exec.empty_tasks", 1)
        op.add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        op.add("exec.shuffle_read_mb", sr.totalBytesRead / 1048576.0)
        op.add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        op.add("exec.input_mb", m.inputMetrics.bytesRead / 1048576.0)
        op.max("exec.peak_exec_mem_mb", m.peakExecutionMemory / 1048576.0)
      }
    }
    var longest = -1.0
    drain(stages).foreach { s =>
      val sub = s.submissionTime.map(_.toDouble).getOrElse(op.startMs)
      val done = s.completionTime.map(_.toDouble).getOrElse(sub)
      op.stages += ((s.stageId, sub, done, s.numTasks))
      op.add("exec.stages", 1)
      val ds = taskMs.get(s.stageId).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Double])
      if (ds.nonEmpty && done - sub > longest) {
        longest = done - sub
        val median = ds(ds.size / 2)
        op.longestStageSkew = if (median > 0) ds.last / median else 1.0
      }
    }
    drain(execs).foreach(qe => recordExecution(op, qe))
    extraPhases.foreach(qe => recordPhases(op, qe))
    drain(progress).foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      op.add("streaming.batches", 1)
      op.add("streaming.batch_ms", d.getOrElse("triggerExecution", 0.0))
      op.add("streaming.add_batch_ms", d.getOrElse("addBatch", 0.0))
      op.add("streaming.commit_ms", d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
      op.add("streaming.input_rows", p.numInputRows.toDouble)
      p.stateOperators.foreach { s =>
        op.max("streaming.state_rows", s.numRowsTotal.toDouble)
        op.max("streaming.state_mb", s.memoryUsedBytes / 1048576.0)
      }
    }
  }

  private def drain[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val out = mutable.ArrayBuffer.empty[T]
    var x = q.poll()
    while (x != null) { out += x; x = q.poll() }
    out.toSeq
  }

  private def recordPhases(op: OpTrace, qe: QueryExecution): Unit = {
    val t = qe.tracker
    t.phases.foreach { case (name, p) =>
      op.phases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
    t.rules.foreach { case (rule, r) =>
      val a = op.rules.getOrElseUpdate(rule, Array(0L, 0L, 0L))
      a(0) += r.totalTimeNs
      a(1) += r.numInvocations
      a(2) += r.numEffectiveInvocations
    }
  }

  private def recordExecution(op: OpTrace, qe: QueryExecution): Unit = {
    recordPhases(op, qe)
    val plan = qe.executedPlan
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def metric(p: SparkPlan, k: String): Double =
      p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _: ReusedExchangeExec | _: ReusedSubqueryExec => ()
        case w: DataWritingCommandExec =>
          val m = w.cmd.metrics
          def wm(k: String) = m.get(k).map(_.value.toDouble).getOrElse(0.0)
          op.add("write.files", wm("numFiles"))
          op.add("write.mb", wm("numOutputBytes") / 1048576.0)
          op.add("write.rows", wm("numOutputRows"))
          op.add("write.task_commit_ms", wm("taskCommitTime"))
          op.add("write.job_commit_ms", wm("jobCommitTime"))
          w.children.foreach(walk)
        case other =>
          if (other.children.isEmpty) op.add("op.scan_rows", metric(other, "numOutputRows"))
          other match {
            case b: BroadcastExchangeExec =>
              op.add("op.broadcast_build_ms", metric(b, "buildTime"))
              op.add("op.broadcast_mb", metric(b, "dataSize") / 1048576.0)
            case _ =>
          }
          val cls = other.getClass.getSimpleName
          if (cls == "SortExec") op.add("op.sort_ms", metric(other, "sortTime"))
          if (cls.endsWith("AggregateExec")) {
            op.add("op.agg_build_ms", metric(other, "aggTime"))
            op.add("op.agg_sort_fallbacks", metric(other, "numTasksFallBacked"))
          }
          other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    op.resultRows = firstRowCount(plan)
  }

  /** Output rows of the topmost operator that counts them. */
  private def firstRowCount(p: SparkPlan): Double = p match {
    case a: AdaptiveSparkPlanExec => firstRowCount(a.executedPlan)
    case s: QueryStageExec => firstRowCount(s.plan)
    case other =>
      other.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(
        other.children.headOption.map(firstRowCount).getOrElse(0.0))
  }
}

/** Sums janino compile time from CodeGenerator's "Code generated in N ms"
  * log line — the one place Spark reports it per compile. */
object CodegenLog {
  val micros = new AtomicLong
  private val pattern = """Code generated in ([0-9.]+) ms""".r
  private val installed = new AtomicReference[AnyRef](null)

  def install(): Unit = if (installed.compareAndSet(null, this)) {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val appender = new AbstractAppender(
      "perfbench-codegen-time", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        pattern.findFirstMatchIn(e.getMessage.getFormattedMessage).foreach { m =>
          micros.addAndGet((m.group(1).toDouble * 1000).toLong)
        }
    }
    appender.start()
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    // keep the fallback gate (root appender, ERROR) seeing compile errors
    cfg.getRootLogger.getAppenders.asScala.values.foreach(a => lc.addAppender(a, Level.ERROR, null))
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }
}

object Sessions {
  def classic(s: SparkSession): org.apache.spark.sql.classic.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  def classicDf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.classic.Dataset[_] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
}
