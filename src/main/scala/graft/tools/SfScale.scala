package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}

/** The one scale path: `SfScale 10` writes a ×10 corpus, and `Bench`
  * over it (`SPARK_GRAFT_SF_DIR=<outDir>`) times the full headline set
  * at ~sf1 (6M lineitem) into `BENCH_SF1_rNN.json`.
  *
  * Replicates the source fixture MULT times with DISJOINT key ranges.
  * Key shifts keep every join relationship intact (foreign keys shift by
  * the same stride as their parents); region/nation stay fixed (dims).
  * Documents/embeddings replicate with shifted ids — near-dup queries
  * see a ×MULT duplicate-saturated corpus, which is exactly the
  * bucket-cap stress the operators are designed for. Events replicate
  * by TIME: copy `rep` moves `ts` by rep × 31 days (past the fixture's
  * 30-day span, so copies never interleave) with `event_id` shifted and
  * `user_id` kept. The user count stays fixed and every user's timeline
  * grows ×MULT — the adversarial direction for the as-of join, the
  * sessionizer and the sliding windows, which walk per-user ordered runs.
  *
  * `_DONE` records the mult and the source directory; a run whose mult
  * or source differs regenerates the corpus instead of reusing it.
  *
  * Usage: runMain graft.tools.SfScale [mult] [outDir]
  * (source: SPARK_GRAFT_SF_DIR, default the sf0.1 fixture)
  */
object SfScale {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val out = args.lift(1).getOrElse(s"/tmp/graft-sf1")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-sfscale")
    try build(spark, src, out, mult) finally spark.stop()
  }

  /** Writes the ×`mult` corpus of `src` to `out`, unless `out/_DONE`
    * already records this mult and source. Refuses an `out` that is,
    * contains or lies inside `src`, before touching anything. */
  def build(spark: SparkSession, src: String, out: String, mult: Int): Unit = {
    val srcPath = Paths.get(src).toAbsolutePath.normalize
    val outPath = Paths.get(out).toAbsolutePath.normalize
    require(!srcPath.startsWith(outPath) && !outPath.startsWith(srcPath),
      s"SfScale output $outPath overlaps its source $srcPath")
    val done = Paths.get(out, "_DONE")
    val stamp = s"mult=$mult src=$srcPath"
    if (Files.exists(done) && new String(Files.readAllBytes(done), UTF_8).trim == stamp) {
      println(s"[sfscale] cached corpus at $out ($stamp)"); return
    }
    // a half-rewritten corpus must never pass for a finished one
    Files.deleteIfExists(done)

    def load(n: String): DataFrame = Tables.load(spark, src, n)

    def strideOf(df: DataFrame, key: String): Column =
      lit(df.agg(max(col(key).cast("long"))).collect()(0).getLong(0) + 1)

    // replicate df MULT times, moving each named column by rep × its
    // per-copy step (a key stride, or an interval for event time)
    def replicate(df: DataFrame, steps: Map[String, Column]): DataFrame = {
      val reps = spark.range(0, mult).withColumnRenamed("id", "graft_rep")
      val crossed = df.crossJoin(broadcast(reps))
      steps.foldLeft(crossed) { case (d, (c, step)) =>
        // preserve the column's dtype (an int key stays int — the x10
        // ranges fit; a silent int->long widening would drift the schema)
        d.withColumn(c, (col(c) + col("graft_rep") * step)
          .cast(df.schema(c).dataType))
      }.drop("graft_rep")
    }

    def write(n: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$n.parquet")
      println(s"[sfscale] $n written")
    }

    val customer = load("customer"); val orders = load("orders")
    val lineitem = load("lineitem"); val part = load("part")
    val supplier = load("supplier")
    val custStride = strideOf(customer, "c_custkey")
    val ordStride = strideOf(orders, "o_orderkey")
    val partStride = strideOf(part, "p_partkey")
    val suppStride = strideOf(supplier, "s_suppkey")

    write("region", load("region"))
    write("nation", load("nation"))
    write("customer", replicate(customer, Map("c_custkey" -> custStride)))
    write("supplier", replicate(supplier, Map("s_suppkey" -> suppStride)))
    write("part", replicate(part, Map("p_partkey" -> partStride)))
    write("orders", replicate(orders,
      Map("o_orderkey" -> ordStride, "o_custkey" -> custStride)))
    write("lineitem", replicate(lineitem,
      Map("l_orderkey" -> ordStride, "l_partkey" -> partStride,
        "l_suppkey" -> suppStride)))
    val docs = load("documents")
    write("documents", replicate(docs,
      Map("doc_id" -> strideOf(docs, "doc_id"))))
    val emb = load("embeddings")
    write("embeddings", replicate(emb,
      Map("vec_id" -> strideOf(emb, "vec_id"))))
    val ev = load("events")
    write("events", replicate(ev,
      Map("event_id" -> strideOf(ev, "event_id"),
        "ts" -> expr("INTERVAL 31 DAY"))))
    Files.write(done, stamp.getBytes(UTF_8))
    println(s"[sfscale] corpus x$mult at $out")
  }
}
