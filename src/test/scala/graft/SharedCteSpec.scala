package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationDef, CTERelationRef, WithCTE}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SharedCteBarrier

/** `graft.plans.SharedCte`: a WITH query referenced at least twice whose
  * plan joins or aggregates is planned once — one scan, one shuffle and
  * its reuse, the references' filters pushed in as their disjunction —
  * while a once-referenced, scan-and-filter or scalar-subquery CTE is
  * inlined as before.
  */
class SharedCteSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSession.spark

  private def session(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.read.parquet(file).createOrReplaceTempView("shared_cte_t")
    s
  }

  /** 4 000 rows over keys 0..99 and years 1998..2001, in one parquet dir. */
  private lazy val file: String = {
    val dir = java.nio.file.Files.createTempDirectory("shared-cte").resolve("t").toString
    spark.range(0, 4000).select(col("id"), (col("id") % 100).as("k"),
        (col("id") % 4 + 1998).cast("int").as("y"))
      .repartition(2).write.parquet(dir)
    dir
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    collect(p) { case s: FileSourceScanExec => s }

  private def reused(p: SparkPlan): Int = collect(p) { case r: ReusedExchangeExec => r }.size

  private def withAqeOff[T](s: SparkSession)(f: => T): T = {
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally s.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private val aggregated =
    """WITH t AS (SELECT k, count(*) AS c, sum(id) AS s FROM shared_cte_t GROUP BY k)
      |SELECT a.k, a.c, b.s FROM t a JOIN t b ON a.k = b.k + 1""".stripMargin

  test("a twice-referenced aggregate CTE scans its file once and reuses one exchange") {
    val s = session()
    val df = s.sql(aggregated)
    val got = rows(df)
    val p = df.queryExecution.executedPlan
    assert(scans(p).size == 1, s"one scan of the CTE's file:\n$p")
    assert(reused(p) == 1, s"the second reference reuses the first's exchange:\n$p")
    // 99 keys have a predecessor; each key holds 40 rows
    assert(got.size == 99 && got.forall(_.getLong(1) == 40L))
    val byKey = s.read.parquet(file).groupBy("k").agg(sum("id").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.forall(r => r.getLong(2) == byKey(r.getLong(0) - 1)))
  }

  test("a once-referenced CTE and a twice-referenced scan-and-filter CTE stay inlined") {
    val s = session()
    val once = s.sql(
      "WITH t AS (SELECT k, count(*) AS c FROM shared_cte_t GROUP BY k) SELECT * FROM t WHERE c > 1")
    val light = s.sql(
      """WITH t AS (SELECT k, y FROM shared_cte_t WHERE id > 10)
        |SELECT a.k FROM t a JOIN t b ON a.k = b.k AND a.y = 1999 AND b.y = 2000""".stripMargin)
    for (df <- Seq(once, light)) {
      assert(!df.queryExecution.analyzed.exists(_.isInstanceOf[SharedCteBarrier]))
      val opt = df.queryExecution.optimizedPlan
      assert(!opt.exists {
        case _: WithCTE | _: CTERelationDef | _: CTERelationRef => true
        case _ => false
      }, s"inlined:\n$opt")
    }
    // the inlined plan is the plan of the same query written without WITH
    val inlined = s.sql(
      """SELECT a.k FROM (SELECT k, y FROM shared_cte_t WHERE id > 10) a
        |JOIN (SELECT k, y FROM shared_cte_t WHERE id > 10) b
        |ON a.k = b.k AND a.y = 1999 AND b.y = 2000""".stripMargin)
    assert(light.queryExecution.optimizedPlan.sameResult(inlined.queryExecution.optimizedPlan))
    assert(scans(light.queryExecution.executedPlan).size == 2)
  }

  test("two references' year filters reach the definition's one scan as their disjunction") {
    val s = session()
    // the second query's `a.s > 0` filters an aggregate, so only the
    // grouping-key part of its disjunct can go below the aggregate
    for (extra <- Seq("", " AND a.s > 0")) {
      val df = s.sql(
        s"""WITH t AS (SELECT k, y, sum(id) AS s FROM shared_cte_t GROUP BY k, y)
           |SELECT a.k, a.s AS s1999, b.s AS s2000 FROM t a JOIN t b
           |ON a.k = b.k AND a.y = 1999 AND b.y = 2000$extra""".stripMargin)
      val got = rows(df)
      val only = scans(df.queryExecution.executedPlan)
      assert(only.size == 1, s"one scan:\n${df.queryExecution.executedPlan}")
      val pushed = only.head.metadata("PushedFilters")
      assert(pushed.contains("EqualTo(y,1999)") && pushed.contains("EqualTo(y,2000)"), pushed)
      // k ≡ id (mod 100) and y = 1998 + id % 4 fix y by k: key k holds
      // year 1998 + k % 4 only, so no key has both years
      assert(got.isEmpty)
    }
    val both = s.sql(
      """WITH t AS (SELECT k % 2 AS k, y, sum(id) AS s FROM shared_cte_t GROUP BY k % 2, y)
        |SELECT a.k, a.s, b.s FROM t a JOIN t b ON a.k = b.k AND a.y = 1999 AND b.y = 2001""".stripMargin)
    val expect = s.read.parquet(file).filter(col("k") % 2 === 1)
      .groupBy("y").agg(sum("id")).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows(both) == Seq(Row(1L, expect(1999), expect(2001))))
  }

  test("a CTE that several scalar subqueries read stays inlined, also under a coalesce") {
    // Spark's scalar-subquery merge hoists the merged subquery above the
    // WITH that would define a kept CTE; Verify's coalesce(1) before the
    // write is the shape that exposed it
    val s = session()
    val df = s.sql(
      """WITH ex AS (SELECT count(*) AS n, avg(c) AS m
        |            FROM (SELECT k, count(*) AS c FROM shared_cte_t GROUP BY k))
        |SELECT (SELECT n FROM ex) AS n, (SELECT m FROM ex) AS m,
        |  (SELECT n FROM ex) * 2 AS n2""".stripMargin)
    assert(!df.queryExecution.analyzed.exists(_.isInstanceOf[SharedCteBarrier]))
    assert(df.coalesce(1).collect().toSeq == Seq(Row(100L, 40.0, 200L)))
  }

  test("shared and inlined plans return the same rows with AQE off") {
    val s = session()
    val queries = Seq(aggregated,
      """WITH t AS (SELECT k % 2 AS k, y, sum(id) AS s FROM shared_cte_t GROUP BY k % 2, y)
        |SELECT a.k, a.y, a.s, b.s FROM t a JOIN t b ON a.k = b.k AND a.y + 2 = b.y""".stripMargin)
    for (q <- queries) {
      val on = rows(s.sql(q))
      val (off, offPlan) = withAqeOff(s) {
        val df = s.sql(q)
        (rows(df), df.queryExecution.executedPlan)
      }
      assert(off == on && on.nonEmpty)
      assert(scans(offPlan).size == 1 && reused(offPlan) == 1, s"AQE off shares too:\n$offPlan")
    }
  }
}
