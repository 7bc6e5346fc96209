package graft

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** One function registry: a session built with GraftExtensions has every
  * Presto-named function before its first query, so no answer depends on
  * whether `Tables.register` (or any other query) ran on the session.
  * `bare` is a new session of the test JVM: a fresh registry from the
  * extensions and no table registration.
  */
class FunctionRegistrySpec extends AnyFunSuite {
  private lazy val bare: SparkSession = TestSession.spark.newSession()
  private lazy val registered: SparkSession = {
    Tables.register(TestSession.spark, TestSession.sf)
    TestSession.spark
  }

  private def one(s: SparkSession, sql: String): Row = s.sql(sql).collect().head

  test("a bare session resolves every builder and UDF name, and only adds those to Spark's") {
    val reg = bare.sessionState.functionRegistry
    val names = GraftFunctions.registrations.map(_._1)
    assert(names.size == GraftFunctions.builders.size + GraftFunctions.udfs.size)
    val missing = names.filterNot(n => reg.lookupFunction(FunctionIdentifier(n)).isDefined)
    assert(missing.isEmpty, s"unresolved on a bare session: ${missing.mkString(", ")}")
    val listed = reg.listFunction().map(_.funcName).toSet
    assert(listed == FunctionRegistry.builtin.listFunction().map(_.funcName).toSet ++ names)
  }

  test("a name registered twice fails at init, naming the duplicate") {
    GraftFunctions.requireDistinct(Seq("st_area", "checksum"))
    val e = intercept[IllegalArgumentException](
      GraftFunctions.requireDistinct(Seq("st_area", "checksum", "st_area")))
    assert(e.getMessage.contains("registered twice: st_area"), e.getMessage)
  }

  test("to_date follows Teradata tokens on a bare session ('mm' is the month)") {
    assert(one(bare, "SELECT to_date('2020-03-04', 'yyyy-mm-dd')").get(0).toString == "2020-03-04")
  }

  test("Spark builtins the engine overrides give the same value bare and registered") {
    val probes = Seq(
      "SELECT to_date('2020-03-04', 'yyyy-mm-dd')",
      "SELECT to_char(TIMESTAMP '2020-03-04 05:06:07', 'yyyy-mm-dd hh24:mi:ss')",
      "SELECT to_timestamp('2020-03-04 05:06:07', 'yyyy-mm-dd hh24:mi:ss')",
      "SELECT url_encode('a b&c=d/ü~')",
      "SELECT url_decode('a+b%26c%3Dd')",
      "SELECT hex(st_asbinary('POINT (1 2)'))")
    probes.foreach { q =>
      assert(one(bare, q) == one(registered, q), q)
    }
    assert(one(bare, probes(1)).getString(0) == "2020-03-04 05:06:07")
  }

  test("scalar UDFs return NULL on a NULL argument (RETURN_NULL_ON_NULL)") {
    val r = one(bare, "SELECT is_json_scalar(NULL), url_encode(NULL), st_area(NULL)")
    assert((0 until 3).forall(r.isNullAt), r)
  }

  test("UDAFs aggregate, and alias spellings keep their own UDF name") {
    val r = one(bare,
      """SELECT st_area(geometry_union_agg(w)) FROM VALUES
        |  ('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'),
        |  ('POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))') AS t(w)""".stripMargin)
    assert(r.getDouble(0) == 2.0)
    // GeoUdfArgsRule, IpOps and ScalarExprs match a UDF by its name
    val q = bare.sql("SELECT st_geometrytype('POINT (1 4)'), st_geometry_type('POINT (1 4)')")
    val udfNames = q.queryExecution.analyzed.expressions.flatMap(_.collect {
      case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u.udfName
    })
    assert(udfNames == Seq(Some("st_geometrytype"), Some("st_geometry_type")))
    val g = q.collect().head
    assert(!g.isNullAt(0) && g.get(0) == g.get(1), g)
  }

  test("a UDF called with the wrong argument count fails analysis") {
    val e = intercept[AnalysisException](bare.sql("SELECT st_area('POINT (1 2)', 1)"))
    assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), e.getMessage)
  }
}
