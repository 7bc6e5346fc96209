package graft.tools

/** Dev-only parity probe: resolve each function name in a file against a
  * graft session's registry (case-insensitive, as Spark lookups are).
  */
object CheckNames {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession("name-check")
    val names = scala.io.Source.fromFile(args(0)).getLines().filter(_.nonEmpty).toList
    val missing = names.filterNot { n =>
      try {
        spark.sessionState.catalog.lookupFunctionInfo(
          org.apache.spark.sql.catalyst.FunctionIdentifier(n.toLowerCase))
        true
      } catch { case _: Throwable => false }
    }
    println("MISSING(" + missing.size + "): " + missing.mkString(", "))
    spark.stop()
  }
}
