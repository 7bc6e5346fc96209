package graft

import java.net.URI

import graft.operators.Spread
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

/** A local file system under its own scheme whose `getFileStatus` can be
  * made to fail after a DataFrame has listed its files. */
class FailingStatFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failstat:///")
  override def getScheme: String = "failstat"
  override def getFileStatus(p: Path): FileStatus =
    if (FailingStatFs.fail) throw new java.io.IOException("stat refused")
    else super.getFileStatus(p)
}
object FailingStatFs { @volatile var fail = false }

/** `Spread.sourceBytes` tolerates only a file that vanished between
  * listing and stat; any other file-system failure must surface rather
  * than silently drop the spread from the plan.
  */
class SpreadSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def staged(): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft-spread")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(dir.toString)
    dir
  }

  test("a source file removed after listing disables the spread") {
    val dir = staged()
    val df = spark.read.parquet(dir.toString)
    assert(Spread.sourceBytes(df).exists(_ > 0))
    dir.toFile.listFiles().filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    assert(Spread.sourceBytes(df).isEmpty)
  }

  test("any other file-system failure propagates") {
    val dir = staged()
    spark.conf.set("fs.failstat.impl", classOf[FailingStatFs].getName)
    try {
      val df = spark.read.parquet("failstat://" + dir.toString)
      assert(Spread.sourceBytes(df).exists(_ > 0))
      FailingStatFs.fail = true
      val e = intercept[java.io.IOException](Spread.sourceBytes(df))
      assert(e.getMessage == "stat refused")
    } finally {
      FailingStatFs.fail = false
      spark.conf.unset("fs.failstat.impl")
    }
  }
}
