package graft.tools

import graft.{GraftSession, QueryTrace, SparkEntry}

/** Dump the final adaptive plan (`EXPLAIN FORMATTED` of the executed
  * noop write, from its `graft.QueryTrace` record) for a set of queries
  * to files — the optimization-round evidence trail
  * (plans/r16/<query>_<suffix>.txt).
  *
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> [query …]"
  *
  * With no query args, dumps every Bench.headline query. Each query runs
  * once, so runtime stage and broadcast reuse and AQE's join choices
  * are visible in the dump.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(sys.error(
      "usage: PlanDump <outDir> <suffix> [query …]"))
    val suffix = args.lift(1).getOrElse("before")
    val names = if (args.length > 2) args.drop(2).toSeq else graft.Bench.headline
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-plandump")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        val txt = QueryTrace(spark)(SparkEntry.queries(name)(spark, sfDir)).finalPlan
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
