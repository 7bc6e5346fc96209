package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale corpus: `SfScale.build` replicates every fact table with
  * disjoint keys, keeps joins intact, grows each user's event timeline
  * instead of the user count, and never reuses a corpus built for a
  * different mult.
  */
class SfScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def deleteTree(root: Path): Unit = {
    val paths = Files.walk(root)
    try paths.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally paths.close()
  }

  test("a rerun with another mult regenerates the corpus, keys and user timelines intact") {
    val src = TestSession.sf
    val out = Files.createTempDirectory("graft-sfscale")
    try {
      tools.SfScale.build(spark, src, out.toString, 2)
      tools.SfScale.build(spark, src, out.toString, 3)
      def at(dir: String, t: String) = Tables.load(spark, dir, t)
      def joins(dir: String) = (
        at(dir, "lineitem").join(at(dir, "orders"), col("l_orderkey") === col("o_orderkey")).count(),
        at(dir, "orders").join(at(dir, "customer"), col("o_custkey") === col("c_custkey")).count())

      for (t <- Seq("customer", "supplier", "part", "orders", "lineitem",
          "documents", "embeddings", "events"))
        assert(at(out.toString, t).count() == 3 * at(src, t).count(), s"$t rows")
      for (t <- Seq("region", "nation"))
        assert(at(out.toString, t).count() == at(src, t).count(), s"$t is a fixed dimension")

      val (liBase, ocBase) = joins(src)
      assert(liBase > 0 && ocBase > 0)
      assert(joins(out.toString) == ((3 * liBase, 3 * ocBase)),
        "foreign keys shift with their parents")

      def perUser(dir: String) = at(dir, "events").groupBy("user_id").count()
        .collect().map(r => r.get(0) -> r.getLong(1)).toMap
      val base = perUser(src)
      assert(perUser(out.toString) == base.map { case (u, n) => u -> 3 * n },
        "same users, each timeline ×3")
    } finally deleteTree(out)
  }

  test("an output that is or overlaps the source is refused and the corpus stays byte-identical") {
    val d = Files.createTempDirectory("graft-sfscale-self")
    try {
      tools.SfScale.build(spark, TestSession.sf, d.toString, 2)
      def snapshot: Map[String, Seq[Byte]] = {
        val paths = Files.walk(d)
        try paths.iterator.asScala.filter(p => Files.isRegularFile(p))
          .map(p => d.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
        finally paths.close()
      }
      val before = snapshot
      assert(before.contains("_DONE") && before.keys.exists(_.endsWith(".parquet")))
      for (out <- Seq(d.toString, d.toString + "/./", d.resolve("nested").toString)) {
        val e = intercept[IllegalArgumentException](tools.SfScale.build(spark, d.toString, out, 2))
        assert(e.getMessage.contains(d.toString), e.getMessage)
      }
      intercept[IllegalArgumentException](tools.SfScale.build(spark, d.resolve("lineitem.parquet").toString, d.toString, 2))
      assert(snapshot == before, "a refused build changed the corpus")
    } finally deleteTree(d)
  }
}
