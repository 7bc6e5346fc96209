package graft.tools

import graft.{GraftSession, QueryTrace, SparkEntry}
import org.apache.spark.sql.SparkSession

/** The query profiler: runs named queries to the noop sink under
  * `graft.QueryTrace` and prints each run's record.
  *
  *   SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.tools.Profile <query> [<query> …] [runs]"
  *
  * Per query: one prewarm, then `runs` (default 3) measured runs. Each
  * run prints its wall time split into build (with its eager jobs),
  * optimize and physical planning (with the top 3 rules), the union of
  * its job intervals and the driver gap; its GC, janino-compile and JIT
  * deltas; the engine's runtime decisions; and one row per stage. A run
  * slower than 2× the query's fastest is marked SLOW.
  */
object Profile {
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

  /** One prewarm, then `runs` traced runs of `name`. */
  def profile(spark: SparkSession, sfDir: String, name: String, runs: Int): Seq[QueryTrace] = {
    val query = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query: $name"))
    def run() = QueryTrace(spark)(query(spark, sfDir))
    run()
    (1 to runs).map(_ => run())
  }

  private def report(name: String, runs: Seq[QueryTrace]): Unit = {
    def mb(b: Long) = f"${b / 1048576.0}%.1f MB"
    val fastest = runs.map(_.wallMs).min
    runs.zipWithIndex.foreach { case (r, i) =>
      println(s"[profile] $name run ${i + 1} wall ${r.wallMs} ms" +
        (if (r.wallMs > 2 * fastest) "  SLOW" else ""))
      println(s"  build ${r.buildMs} ms (eager jobs ${r.eagerJobs}, union ${r.eagerUnionMs} ms)" +
        s"  optimize ${r.optimizeMs} ms  physical ${r.physicalMs} ms  top rules: " +
        r.topRules.map { case (rule, ms) => f"$rule $ms%.0f ms" }.mkString(", "))
      println(s"  jobs ${r.jobs}  job union ${r.jobUnionMs} ms  driver gap ${r.driverGapMs} ms")
      println(s"  gc ${r.gcMs} ms  janino compiles ${r.compiles}  jit ${r.jitMs} ms")
      r.decisions.foreach(d => println(s"  decision ${d.name}: ${d.choice}"))
      r.stages.foreach { s =>
        println(f"  stage ${s.id}%5d  tasks ${s.tasks}%4d  max ${s.maxTaskMs}%6d ms" +
          f"  median ${s.medianTaskMs}%6d ms  shuffle read ${mb(s.shuffleReadBytes)}" +
          s"  write ${mb(s.shuffleWriteBytes)}  spill ${mb(s.spillBytes)}")
      }
    }
  }
}
