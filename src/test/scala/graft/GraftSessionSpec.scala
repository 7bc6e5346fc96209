package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CPUS` is read once, as a positive integer, and sizes both
  * the local master and the shuffle partitions.
  */
class GraftSessionSpec extends AnyFunSuite {
  test("SPARK_GRAFT_CPUS parses to a positive core count, 32 when unset") {
    assert(GraftSession.parseCores(None) == 32)
    assert(GraftSession.parseCores(Some("1")) == 1)
    assert(GraftSession.parseCores(Some("4")) == 4)
    assert(GraftSession.parseCores(Some("32")) == 32)
  }

  test("any other SPARK_GRAFT_CPUS value fails naming the variable") {
    for (bad <- Seq("*", "0", "-2", "4x", "", " 4", "99999999999")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCores(Some(bad)))
      assert(e.getMessage == s"SPARK_GRAFT_CPUS must be a positive integer, got '$bad'")
    }
  }

  test("the session's task slots and shuffle partitions are the parsed cores") {
    val spark = TestSession.spark
    assert(spark.sparkContext.defaultParallelism == GraftSession.cores)
    assert(spark.sparkContext.master == s"local[${GraftSession.cores}]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == GraftSession.cores.toString)
  }
}
