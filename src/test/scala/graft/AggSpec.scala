package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins semantics that can't be oracle-checked by hash equality:
  * approximate sketches (error-bound assertions, per SURVEY.md §7.3) and
  * sampling.
  */
class AggSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("approx_count_distinct within 3 sigma of its configured rsd") {
    Tables.register(spark, TestSession.sf)
    // rsd set explicitly (default is 5%, so a 5% assertion is a coin flip
    // — round-1 lesson); 3σ at rsd=0.01 → 3% bound
    val rows = spark.table("lineitem")
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.01).as("approx"),
        countDistinct(col("l_orderkey")).as("exact"))
      .collect()(0)
    val (a, e) = (rows.getLong(0).toDouble, rows.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.03, s"approx=$a exact=$e")
  }

  test("percentile_approx close to exact percentile") {
    Tables.register(spark, TestSession.sf)
    val r = spark.table("lineitem")
      .agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("approx"),
        percentile(col("l_extendedprice"), lit(0.5)).as("exact"))
      .collect()(0)
    val (a, e) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(a - e) / e < 0.02, s"approx=$a exact=$e")
  }

  test("bernoulli sample fraction is plausible") {
    Tables.register(spark, TestSession.sf)
    val total = spark.table("lineitem").count().toDouble
    val sampled = spark.table("lineitem").sample(false, 0.1, 42L).count().toDouble
    assert(sampled > total * 0.05 && sampled < total * 0.15,
      s"sampled=$sampled of $total")
  }

  test("differential_entropy: hand-computed jackknife/MLE/Vasicek under forced partials") {
    Tables.register(spark, TestSession.sf)
    import spark.implicits._
    // B=4 over [0,4): bucket0 holds {0.5, 0.7} (one entry w=1.0 mult 2),
    // buckets 1,2 hold one sample each. Worked by hand from the
    // reference formulas (see DifferentialEntropyAgg scaladoc):
    //   H_mle = (ln(1*4) - 2ln2/4)/ln2 = 1.5
    //   H_jack = 4*1.5 - 2*3*ln3/ln2/4 - 2*(1*3*((ln3 - 2ln2/3)/ln2)/4)
    //          = 2.245112
    //   Vasicek(n=4, m=2) = (ln2 + ln4 + ln4 + ln3.6)/4/ln2 = 1.7119992
    val df = Seq(0.5, 0.7, 1.5, 2.5).toDF("x").repartition(3)
    val r = df.agg(
      expr("differential_entropy(4, x, 1.0D, 'fixed_histogram_mle', 0.0D, 4.0D)"),
      expr("differential_entropy(4, x, 1.0D, 'fixed_histogram_jacknife', 0.0D, 4.0D)"),
      expr("differential_entropy(100, x)")).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.5) < 1e-9, s"mle ${r.getDouble(0)}")
    assert(math.abs(r.getDouble(1) - 2.2451124) < 1e-6, s"jackknife ${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2) - 1.7119992) < 1e-6, s"vasicek ${r.getDouble(2)}")
    // weighted reservoir arity: deterministic under capacity, weights
    // only gate selection, so the Vasicek value matches the unweighted
    val w = df.withColumn("w", lit(3.0))
      .agg(expr("differential_entropy(100, x, w)")).collect()(0).getDouble(0)
    assert(math.abs(w - 1.7119992) < 1e-6, s"weighted vasicek $w")
  }

  test("differential_entropy: fixed-histogram parameter validation (reference errors)") {
    import spark.implicits._
    val df = Seq(0.5, 1.5).toDF("x")
    // non-positive bucket count: a clean dialect error, never a
    // NegativeArraySizeException (FixedHistogramStateStrategyUtils)
    val e1 = intercept[Exception] {
      df.agg(expr("differential_entropy(-4, x, 1.0D, 'fixed_histogram_mle', 0.0D, 4.0D)")).collect()
    }
    assert(e1.getMessage.contains("bucket count must be positive"), e1.getMessage)
    val e2 = intercept[Exception] {
      df.agg(expr("differential_entropy(0, x, 1.0D, 'fixed_histogram_jacknife', 0.0D, 4.0D)")).collect()
    }
    assert(e2.getMessage.contains("bucket count must be positive"), e2.getMessage)
    // min/max must be consistent across rows, not first-row-wins
    val drift = Seq((0.5, 0.0), (1.5, 1.0)).toDF("x", "mn")
    val e3 = intercept[Exception] {
      drift.coalesce(1).agg(
        expr("differential_entropy(4, x, 1.0D, 'fixed_histogram_mle', mn, 4.0D)")).collect()
    }
    assert(e3.getMessage.contains("inconsistent min"), e3.getMessage)
  }

  test("classification curves: hand-computed 4-row example, forced partials, early stop") {
    Tables.register(spark, TestSession.sf)
    import spark.implicits._
    // trueW=[1,0,1,0], falseW=[0,1,1,0] at B=4; iterator stops at i=3
    // (runningTrue reaches totalTrue) → arrays of length 3
    val df = Seq((true, 0.1), (true, 0.6), (false, 0.3), (false, 0.7))
      .toDF("outcome", "pred").repartition(3)
    val r = df.agg(
      expr("classification_thresholds(4, outcome, pred)"),
      expr("classification_precision(4, outcome, pred)"),
      expr("classification_recall(4, outcome, pred)"),
      expr("classification_miss_rate(4, outcome, pred)"),
      expr("classification_fall_out(4, outcome, pred)")).collect()(0)
    def arr(i: Int) = r.getSeq[Double](i)
    assert(arr(0) == Seq(0.0, 0.25, 0.5), s"thresholds ${arr(0)}")
    assert(arr(1) == Seq(0.5, 1.0 / 3, 0.5), s"precision ${arr(1)}")
    assert(arr(2) == Seq(1.0, 0.5, 0.5), s"recall ${arr(2)}")
    // the 0.235 quirks, matched to the reference's own tests:
    // miss_rate = FP/totalTrue, fall_out = FN/totalFalse
    assert(arr(3) == Seq(1.0, 1.0, 0.5), s"miss_rate ${arr(3)}")
    assert(arr(4) == Seq(0.0, 0.5, 0.5), s"fall_out ${arr(4)}")
    // weights scale the curves: doubling every weight changes nothing
    val w2 = df.withColumn("w", lit(2.0)).agg(
      expr("classification_precision(4, outcome, pred, w)")).collect()(0).getSeq[Double](0)
    assert(w2 == arr(1), s"uniform weights must not move the curve: $w2")
  }

  test("top-n aggregates: heap merge under forced partials; null keys skipped; native arities intact") {
    Tables.register(spark, TestSession.sf)
    import spark.implicits._
    // ground truth via window rank over a forced-3-partition input: the
    // heap's partial/merge path must agree with the global sort
    val df = spark.table("orders").repartition(3)
    df.createOrReplaceTempView("orders_p3")
    val got = spark.sql(
      """SELECT o_orderpriority, max_by(o_totalprice, o_orderkey, 5) AS top5
        |FROM orders_p3 GROUP BY o_orderpriority""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val expect = spark.table("orders")
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderpriority").orderBy(col("o_orderkey").desc)))
      .filter(col("rk") <= 5)
      .collect().groupBy(_.getString(0))
      .map { case (p, rs) => p -> rs.sortBy(_.getAs[Int]("rk")).map(_.getDouble(1)).toSeq }
    assert(got == expect, "heap-merged top-5 must equal the window-rank ground truth")
    // null ordering keys are skipped (Presto min/max semantics)
    val withNulls = Seq((1L, Some(10.0)), (2L, None), (3L, Some(5.0)), (4L, None))
      .toDF("id", "k")
    val arr = withNulls.agg(expr("max_by(id, k, 3)")).collect()(0).getSeq[Long](0)
    assert(arr == Seq(1L, 3L), s"null keys must be skipped, got $arr")
    // delegated arities stay native-exact (max/min/max_by/min_by shadow)
    val nat = spark.sql(
      """SELECT max(o_totalprice), min(o_totalprice),
        |  max_by(o_orderkey, o_totalprice), min_by(o_orderkey, o_totalprice),
        |  max(DISTINCT o_orderpriority)
        |FROM orders""".stripMargin).collect()(0)
    val chk = spark.table("orders").agg(
      max("o_totalprice"), min("o_totalprice"),
      max_by(col("o_orderkey"), col("o_totalprice")),
      min_by(col("o_orderkey"), col("o_totalprice")),
      max(col("o_orderpriority"))).collect()(0)
    assert((0 until 5).forall(i => nat.get(i) == chk.get(i)),
      s"delegated arities diverge from native: $nat vs $chk")
  }

  test("merge_khll: merged khyperloglog_agg sketches of two halves match the whole") {
    // every key x and every uii value lands in both halves, so the merge
    // unions the minhash key sets AND folds each key's per-uii HLL
    val r = spark.sql(
      """WITH t AS (
        |  SELECT id % 3000 AS x, id % 101 AS uii, id % 2 AS half FROM range(0, 20000))
        |SELECT
        |  (SELECT cardinality(merge_khll(k))
        |   FROM (SELECT half, khyperloglog_agg(x, uii) AS k FROM t GROUP BY half)) AS merged,
        |  (SELECT cardinality(khyperloglog_agg(x, uii)) FROM t) AS whole""".stripMargin)
      .collect()(0)
    assert(r.getLong(1) > 0)
    assert(r.getLong(0) == r.getLong(1), s"merged ${r.get(0)} vs whole ${r.get(1)}")
  }
}
