package graft

import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `QueryTrace`, the one per-query collector: it plans the traced query
  * once, its layers add up to the wall time without overlapping, and the
  * engine's runtime decisions land in the record instead of the session
  * conf.
  */
class QueryTraceSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private def q01() = SparkEntry.queries("q01_pricing_summary")(spark, TestSession.sf)

  test("a traced run plans its query once: RuleExecutor runs equal a bare noop write's") {
    q01().write.format("noop").mode("overwrite").save()
    RuleExecutor.resetMetrics()
    q01().write.format("noop").mode("overwrite").save()
    val bare = RuleExecutor.getCurrentMetrics().numRuns
    RuleExecutor.resetMetrics()
    QueryTrace(spark)(q01())
    val traced = RuleExecutor.getCurrentMetrics().numRuns
    assert(bare > 0 && traced == bare, s"traced run applied $traced rules, a bare write $bare")
  }

  test("build + optimize + physical + job union + driver gap is the wall time, gap >= 0") {
    val t = QueryTrace(spark)(q01())
    val parts = t.buildMs + t.optimizeMs + t.physicalMs + t.jobUnionMs + t.driverGapMs
    assert(parts == t.wallMs, s"layers $parts ms against a wall of ${t.wallMs} ms")
    assert(t.driverGapMs >= 0, s"negative driver gap: two layers overlap in $t")
    assert(t.optimizeMs + t.physicalMs > 0 && t.jobs >= 1 && t.jobUnionMs > 0 && t.topRules.size == 3)
    assert(t.finalPlan.contains("AdaptiveSparkPlan"))
  }

  test("the exact-substring census lands in the record and writes no session conf") {
    Tables.register(spark, TestSession.sf)
    val docs = spark.table("documents").select(col("doc_id"), col("text"))
    val t = QueryTrace(spark)(operators.TextOps.duplicatedSpans(docs, 20, None, 1L))
    assert(t.decisions.map(_.name) == Seq("exactSubstring.salt"))
    assert(t.decisions.head.choice.startsWith("salted-32"), t.decisions)
    assert(spark.conf.getOption("spark.graft.exactSubstring.lastPlan").isEmpty)
  }
}
