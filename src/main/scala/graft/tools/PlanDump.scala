package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dump `.explain("formatted")` for a set of queries to files — the
  * optimization-round evidence trail (plans/r16/<query>_<suffix>.txt).
  *
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> [query …]"
  *
  * With no query args, dumps every Bench.headline query. Plans are
  * captured WITHOUT executing (initial AQE plan): the exchange count,
  * join strategies, PushedFilters and ReadSchema are all visible there,
  * and capture stays cheap enough to run for all 46 headliners.
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
        val df = SparkEntry.queries(name)(spark, sfDir)
        // SPARK_GRAFT_PLAN_EXEC=1: execute first and dump the FINAL
        // adaptive plan of the noop write (runtime stage/broadcast reuse
        // visible) — the write has its own QueryExecution, captured via
        // a listener because df.queryExecution is never the one executed
        val txt =
          if (sys.env.get("SPARK_GRAFT_PLAN_EXEC").contains("1")) {
            @volatile var captured: String = null
            val l = new org.apache.spark.sql.util.QueryExecutionListener {
              override def onSuccess(f: String,
                  qe: org.apache.spark.sql.execution.QueryExecution,
                  d: Long): Unit =
                captured = qe.explainString(
                  org.apache.spark.sql.execution.FormattedMode)
              override def onFailure(f: String,
                  qe: org.apache.spark.sql.execution.QueryExecution,
                  e: Exception): Unit = ()
            }
            spark.listenerManager.register(l)
            try {
              df.write.format("noop").mode("overwrite").save()
              org.apache.spark.sql.graft.BusDrain(spark.sparkContext)
            } finally spark.listenerManager.unregister(l)
            if (captured != null) captured
            else df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          } else df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
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
