package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every declared query runs end-to-end on sf0.001 (the driver's t1
  * smoke tier). One shared session per JVM.
  */
object TestSession {
  lazy val spark: SparkSession = {
    // fresh per-JVM index root: persisted-index specs assert build/reuse
    // counters, which only hold when no index survives a previous run
    sys.props.put("graft.index.root",
      java.nio.file.Files.createTempDirectory("graft-idx").toString)
    GraftSession("graft-test")
  }
  val sf: String = "/root/testdata/sf0.001"
}

class SmokeSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query and oracle maps are consistent") {
    assert(SparkEntry.queries.nonEmpty)
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracle without query: $unknown")
  }

  for (d <- SparkEntry.all) {
    test(s"smoke: ${d.name}") {
      val df = d.run(spark, TestSession.sf)
      assert(df.count() >= 0) // executes the full plan
    }
  }
}
