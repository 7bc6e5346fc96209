package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{PrestoOperators, ZonedTimestamps}

/** `QueryGroup.withDialect` turns a dialect flag on for the statement
  * it builds and writes nothing to the session conf.
  */
class DialectScopeSpec extends AnyFunSuite {

  /** The QueryDefs that build their statement under `withDialect`. */
  private val scoped = Seq(
    "dialect_int_division", "dialect_array_literal", "dialect_time_wrap",
    "dialect_greatest_null", "dialect_quoted_ident", "dialect_ztz_observe",
    "dialect_ztz_arith", "dialect_ztz_groupby", "dialect_ztz_dst",
    "dialect_ztz_at_timezone", "dialect_ztz_minmax_order", "dialect_ztz_setop",
    "dialect_ztz_now", "dialect_ttz_parity", "dialect_cast_rounding",
    "dialect_reduce", "fuzz_math_parity", "fuzz_string_parity",
    "fuzz_array_parity", "fuzz_regex_parity", "fuzz_map_parity",
    "fuzz_ztz_parity", "fuzz_cmp_parity", "fuzz_zero_parity", "fn_string")

  test("the flag holds for the statement built inside the scope only") {
    val s = TestSession.spark.newSession()
    val truncated = QueryGroup.withDialect(s, PrestoOperators.ConfKey)(s.sql("SELECT 5 / 2"))
    assert(truncated.collect()(0).get(0) == 2L, "Presto integer division inside the scope")
    assert(s.sql("SELECT 5 / 2").collect()(0).getDouble(0) == 2.5, "Spark division outside it")
    assert(s.conf.getOption(PrestoOperators.ConfKey).isEmpty)
  }

  test("a dialect flag the caller set survives every scoped QueryDef; an unset one stays unset") {
    for (key <- Seq(PrestoOperators.ConfKey, ZonedTimestamps.ConfKey);
         callerValue <- Seq(Some("true"), None)) {
      val s = TestSession.spark.newSession()
      callerValue.foreach(s.conf.set(key, _))
      for (name <- scoped) {
        SparkEntry.queries(name)(s, TestSession.sf)
        assert(s.conf.getOption(key) == callerValue, s"$name changed the caller's $key")
      }
    }
  }

  test("regexp_replace with a lambda replacement (JoniRegexpReplaceLambdaFunction)") {
    val s = TestSession.spark
    val r = QueryGroup.withDialect(s, PrestoOperators.ConfKey)(s.sql(
      """SELECT regexp_replace('new york', '(\w)(\w*)',
        |  x -> upper(x[1]) || lower(x[2])) AS r""".stripMargin))
    assert(r.collect()(0).getString(0) == "New York")
  }
}
