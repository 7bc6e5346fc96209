package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `graft.plans.GatherSmallSort`: a global sort over small, sized input
  * gathers into one range partition, so `RangePartitioner` runs no
  * sampling job; user range repartitions and sessions with broadcasting
  * off keep their partition counts.
  */
class GatherSmallSortSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  /** A session with more shuffle partitions than one, whatever the
    * host's core count. */
  private def session(extra: (String, String)*): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    extra.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private lazy val smallFile: String = {
    val dir = java.nio.file.Files.createTempDirectory("gather-sort").resolve("t").toString
    spark.range(0, 2000).select(col("id"), (col("id") * 7919 % 1000).as("k"))
      .repartition(3).write.parquet(dir)
    dir
  }

  /** Rows, and from a traced run the jobs it started and the range
    * partition counts of its final adaptive plan's shuffle stages. */
  private def run(df: DataFrame): (Seq[(Long, Long)], Int, Seq[Int]) = {
    val trace = QueryTrace(df.sparkSession)(df)
    val plan = trace.execution.executedPlan.collectFirst { case a: AdaptiveSparkPlanExec => a }.get
    val ranges = plan.finalPhysicalPlan.collect {
      case s: ShuffleQueryStageExec => s.shuffle.outputPartitioning
    }.collect { case r: RangePartitioning => r.numPartitions }
    (df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))), trace.jobs, ranges)
  }

  test("a small-file orderBy gathers into one partition and runs no sampling job") {
    val s = session()
    val (rows, jobs, ranges) = run(s.read.parquet(smallFile).orderBy(col("k"), col("id")))
    assert(ranges == Seq(1))
    // the exchange's map stage and the result stage: no sampling job
    assert(jobs == 2, s"jobs: $jobs")
    assert(rows == rows.sortBy { case (id, k) => (k, id) } && rows.size == 2000)
  }

  test("groupBy then orderBy gathers once AQE re-plans over the aggregated stage") {
    val s = session()
    val df = s.read.parquet(smallFile).groupBy("k").agg(count(lit(1)).as("n"))
      .select(col("k"), col("n")).orderBy(col("n").desc, col("k"))
    val (rows, _, ranges) = run(df)
    assert(ranges == Seq(1))
    assert(rows.size == 1000 && rows == rows.sortBy { case (k, n) => (-n, k) })
  }

  test("a user repartitionByRange keeps its partition count") {
    val s = session()
    val df = s.read.parquet(smallFile).repartitionByRange(4, col("k"))
    assert(df.rdd.getNumPartitions == 4)
    val (_, _, ranges) = run(df.select(col("id"), col("k")))
    assert(ranges == Seq(4))
  }

  test("with broadcasting off the sort keeps shuffle.partitions and the same rows") {
    val off = session("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val (rowsOff, _, rangesOff) = run(off.read.parquet(smallFile).orderBy(col("k"), col("id")))
    assert(rangesOff == Seq(4))
    val (rowsOn, _, _) = run(session().read.parquet(smallFile).orderBy(col("k"), col("id")))
    assert(rowsOff == rowsOn)
  }
}
