package graft

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end probe of the Presto SQL construct surface through the
  * dialect parser — every spelling a porting user writes must parse AND
  * run (round-10 sweep found six gaps: ROW-to-ROW casts routed through
  * from_json, AT TIME ZONE, EXTRACT's YOW/TIMEZONE_* fields and
  * Presto-vs-Spark DOW semantics, bare LOCALTIME(STAMP)/CURRENT_TIME,
  * and typed CHAR literals). Value pins follow the parse sweep.
  */
class SqlSurfaceSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("presto construct sweep: every spelling parses and executes") {
    Tables.register(spark, TestSession.sf)
    val probes = Seq(
      "SELECT ROW(1, 'a')",
      "SELECT CAST(ROW(1, 'a') AS ROW(x INTEGER, y VARCHAR))",
      "SELECT TIMESTAMP '2020-01-01 00:00:00' AT TIME ZONE 'America/New_York'",
      "SELECT o_orderdate AT TIME ZONE 'Asia/Tokyo' FROM orders LIMIT 1",
      "SELECT TRY(1/0)",
      "SELECT 'a' || 'b' || CAST(3 AS VARCHAR)",
      "SELECT POSITION('b' IN 'abc')",
      "SELECT SUBSTRING('abc' FROM 2 FOR 1)",
      "SELECT EXTRACT(DOW FROM DATE '2020-01-05')",
      "SELECT EXTRACT(YOW FROM DATE '2020-01-01')",
      "SELECT EXTRACT(TIMEZONE_HOUR FROM CAST('2020-01-01' AS TIMESTAMP))",
      "SELECT INTERVAL '3' MONTH + DATE '2020-01-01'",
      "SELECT IF(true, 1, 2)",
      "SELECT TRY_CAST('x' AS BIGINT)",
      "SELECT NULLIF(1, 1), COALESCE(NULL, 2)",
      "SELECT transform(ARRAY[1,2], x -> x + 1)",
      "SELECT DECIMAL '1.5' + 1",
      "SELECT CHAR 'ab'",
      "SELECT X'4142'",
      "SELECT LOCALTIME", "SELECT LOCALTIMESTAMP", "SELECT CURRENT_TIME",
      "SELECT 1 BETWEEN 0 AND 2, 2 IS DISTINCT FROM NULL",
      "SELECT n_name LIKE 'A%' ESCAPE '#' FROM nation LIMIT 1",
      "SELECT GROUPING(n_regionkey) FROM nation GROUP BY GROUPING SETS ((n_regionkey),())",
      "SELECT count(*) FILTER (WHERE n_regionkey > 1) FROM nation",
      "SELECT ARRAY[1,2,3][2]",
      "SELECT zip(ARRAY[1,2], ARRAY['a','b'])",
      "SELECT TYPEOF(1)")
    val fails = probes.flatMap { p =>
      try { spark.sql(p).collect(); None }
      catch { case e: Throwable => Some(s"$p -- ${e.getMessage.take(100)}") }
    }
    assert(fails.isEmpty, fails.mkString("\n"))
  }

  test("presto construct sweep round 2: relations, samples, quantifiers, agg modifiers") {
    Tables.register(spark, TestSession.sf)
    val probes = Seq(
      "SELECT * FROM UNNEST(ARRAY[1,2,3])",
      "SELECT * FROM UNNEST(ARRAY[1,2], ARRAY['a','b'])",
      "SELECT * FROM UNNEST(ARRAY[1,2]) WITH ORDINALITY AS t(v, o)",
      "SELECT count(*) FROM nation TABLESAMPLE BERNOULLI (50)",
      "SELECT count(*) FROM nation TABLESAMPLE SYSTEM (50)",
      "SELECT array_agg(n_name ORDER BY n_nationkey DESC) FROM nation",
      "SELECT array_agg(DISTINCT n_regionkey) FROM nation",
      "SELECT n_name FROM nation WHERE n_nationkey = ANY (SELECT r_regionkey FROM region)",
      "SELECT n_name FROM nation WHERE n_nationkey <> ALL (SELECT r_regionkey FROM region)",
      "SELECT ARRAY[1,2] || ARRAY[3]", "SELECT ARRAY[]", "SELECT MAP()",
      "VALUES 1, 2, 3", "VALUES (1, 'a'), (2, 'b')",
      "SELECT n_name FROM nation ORDER BY 1 LIMIT ALL",
      "SELECT INTERVAL '1 02:03' DAY TO MINUTE",
      "SELECT DATE '2020-01-02' - DATE '2020-01-01'",
      "SELECT ROW(1, 'a') = ROW(1, 'a')",
      "SELECT NULL IS NOT DISTINCT FROM NULL")
    val fails = probes.flatMap { pr =>
      try { spark.sql(pr).collect(); None }
      catch { case e: Throwable => Some(s"$pr -- ${Option(e.getMessage).getOrElse("").take(100)}") }
    }
    assert(fails.isEmpty, fails.mkString("\n"))
  }

  test("standalone FROM UNNEST: zip values, SELECT * width, ordinality order") {
    val zip = spark.sql(
      "SELECT * FROM UNNEST(ARRAY['a','b'], ARRAY[10, 20]) AS t(x, y) ORDER BY y")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(zip == Seq(("a", 10), ("b", 20)))
    assert(spark.sql("SELECT * FROM UNNEST(ARRAY[7, 8])").columns.length == 1,
      "SELECT * must see only the generated column, never the dummy")
    val ord = spark.sql(
      "SELECT * FROM UNNEST(ARRAY['p','q']) WITH ORDINALITY AS t(v, o) ORDER BY o")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ord == Seq(("p", 1L), ("q", 2L)), "ordinality is 1-based and LAST")
  }

  test("array_agg ORDER BY / DISTINCT semantics") {
    val r = spark.sql(
      """SELECT array_agg(v ORDER BY k DESC) d,
        |  array_agg(v ORDER BY k % 2, v DESC) m,
        |  array_sort(array_agg(DISTINCT v)) u
        |FROM VALUES ('a', 1), ('b', 2), ('c', 3), ('a', 4) AS t(v, k)""".stripMargin)
      .collect()(0)
    assert(r.getSeq[String](0) == Seq("a", "c", "b", "a"), r.getSeq[String](0))
    // k % 2 groups {2,4}=0 before {1,3}=1; within groups v DESC
    assert(r.getSeq[String](1) == Seq("b", "a", "c", "a"), r.getSeq[String](1))
    assert(r.getSeq[String](2) == Seq("a", "b", "c"))
    val any = spark.sql(
      "SELECT n_nationkey FROM nation WHERE n_nationkey = ANY (SELECT r_regionkey FROM region) ORDER BY 1")
      .collect().map(_.getInt(0)).toSeq
    val in = spark.sql(
      "SELECT n_nationkey FROM nation WHERE n_nationkey IN (SELECT r_regionkey FROM region) ORDER BY 1")
      .collect().map(_.getInt(0)).toSeq
    assert(any == in && any.nonEmpty, "= ANY must be IN")
  }

  test("presto construct sweep round 3: row access, IGNORE NULLS, unicode literals") {
    Tables.register(spark, TestSession.sf)
    val probes = Seq(
      "SELECT CAST(ROW(1, 'a') AS ROW(x INTEGER, y VARCHAR)).x",
      "SELECT lag(n_name) IGNORE NULLS OVER (ORDER BY n_nationkey) FROM nation LIMIT 2",
      "SELECT first_value(n_name) IGNORE NULLS OVER (ORDER BY n_nationkey) FROM nation LIMIT 2",
      "SELECT nth_value(n_name, 2) OVER (ORDER BY n_nationkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) FROM nation LIMIT 2",
      "SELECT sum(n_nationkey) OVER (ORDER BY n_nationkey RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) FROM nation LIMIT 2",
      "SELECT ARRAY[ROW(1,'a'), ROW(2,'b')]",
      "SELECT sequence(DATE '2020-01-01', DATE '2020-01-03', INTERVAL '1' DAY)",
      "SELECT repeat('ab', 3), repeat(ARRAY[1], 2)")
    val fails = probes.flatMap { pr =>
      try { spark.sql(pr).collect(); None }
      catch { case e: Throwable => Some(s"$pr -- ${Option(e.getMessage).getOrElse("").take(100)}") }
    }
    assert(fails.isEmpty, fails.mkString("\n"))
  }

  test("U& unicode literals decode: 4-hex, 6-hex astral, UESCAPE, doubled escape, quotes") {
    val r = spark.sql(
      """SELECT U&'d\0061ta' a, U&'#0041#+01F600x' UESCAPE '#' b,
        |  U&'back\\slash' c, U&'it''s \0041' d""".stripMargin).collect()(0)
    assert(r.getString(0) == "data")
    assert(r.getString(1) == "A\ud83d\ude00x") // U+1F600 as a surrogate pair, then x
    assert(r.getString(2) == "back\\slash")
    // standard-SQL literal semantics (escapedStringLiterals): '\d' is
    // backslash-d like Presto, not Spark's default unescape-to-d
    val raw = spark.sql("""SELECT '\d' a, length('\d') n, regexp_extract('x7', '\d+', 0) m""")
      .collect()(0)
    assert(raw.getString(0) == "\\d" && raw.getInt(1) == 2 && raw.getString(2) == "7")
    assert(r.getString(3) == "it's A")
  }

  test("ROW-to-ROW cast is structural; VARCHAR-to-complex stays JSON parse") {
    val r = spark.sql(
      "SELECT CAST(ROW(1, 'a') AS ROW(x INTEGER, y VARCHAR)) r").collect()(0).getStruct(0)
    assert(r.getInt(0) == 1 && r.getString(1) == "a")
    assert(spark.sql("SELECT CAST(ROW(1, 'a') AS ROW(x INTEGER, y VARCHAR)) r")
      .schema.head.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("x", "y"), "field names renamed like RowToRowCast")
    val j = spark.sql(
      """SELECT CAST('[1, 2]' AS ARRAY(INTEGER)) a""").collect()(0).getSeq[Int](0)
    assert(j == Seq(1, 2), "string source keeps the JSON-to-complex family")
  }

  test("EXTRACT delegates to Presto field functions (DOW is ISO, not Spark's 0-based)") {
    // 2020-01-05 is a SUNDAY: Presto day_of_week = 7 (ISO); Spark's own
    // EXTRACT(DOW ...) would give 0 — the exact silent divergence the
    // AstBuilder-style field→function mapping removes.
    val r = spark.sql(
      """SELECT EXTRACT(DOW FROM DATE '2020-01-05') dow,
        |  EXTRACT(DAY_OF_WEEK FROM DATE '2020-01-06') mon,
        |  EXTRACT(YOW FROM DATE '2021-01-01') yow,
        |  EXTRACT(DOY FROM DATE '2020-02-01') doy,
        |  EXTRACT(TIMEZONE_HOUR FROM CAST('2020-06-01' AS TIMESTAMP)) tzh""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) == 7L)   // Sunday, ISO
    assert(r.getLong(1) == 1L)   // Monday
    assert(r.getLong(2) == 2020L) // 2021-01-01 is ISO week 53 of 2020
    assert(r.getLong(3) == 32L)
    assert(r.getLong(4) == 0L)   // UTC-instant contract
  }

  test("AT TIME ZONE is at_timezone; bare temporal keywords resolve") {
    val r = spark.sql(
      """SELECT date_format(TIMESTAMP '2020-01-01 00:00:00' AT TIME ZONE 'America/New_York',
        |  'yyyy-MM-dd HH:mm') a,
        |  date_format(at_timezone(TIMESTAMP '2020-01-01 00:00:00', 'America/New_York'),
        |  'yyyy-MM-dd HH:mm') b""".stripMargin).collect()(0)
    assert(r.getString(0) == "2019-12-31 19:00" && r.getString(0) == r.getString(1))
    assert(!spark.sql("SELECT LOCALTIMESTAMP, LOCALTIME, CURRENT_TIME").collect()(0).anyNull)
  }

  test("CHAR literal carries its codepoint length and blank-pads") {
    val df = spark.sql("SELECT CHAR 'ab' c, length(CHAR 'ab') n")
    assert(df.schema.head.dataType.sql.toUpperCase.startsWith("CHAR(2)"),
      df.schema.head.dataType.sql)
    // concat with a wider CHAR pads per the preserved-CHAR semantics
    val padded = spark.sql("SELECT CAST(CHAR 'ab' AS CHAR(4)) p").collect()(0).getString(0)
    assert(padded == "ab  ", s"[$padded]")
  }

  test("every reference∩Spark builtin name collision carries a disposition (AUDIT_NAMES gate)") {
    // the round-12 audit class caught log(8,2)=1/3 and friends; from
    // round 13 its remainder is machine-checked — a new collision (or a
    // dropped override) with no recorded disposition fails the gate, and
    // the committed AUDIT_NAMES.md must match the live classification.
    val refNames = scala.io.Source.fromFile("tools/ref_all_names.txt")
      .getLines().map(_.trim).filter(_.nonEmpty).toSeq
    val (rows, missing) = graft.tools.AuditNames.classify(
      refNames, spark.sessionState.functionRegistry)
    assert(missing.isEmpty, s"undispositioned collisions: ${missing.mkString(", ")}")
    val committed = java.nio.file.Files.readString(
      java.nio.file.Paths.get("AUDIT_NAMES.md"))
    assert(committed == graft.tools.AuditNames.render(rows),
      "AUDIT_NAMES.md is stale — rerun `runMain graft.tools.AuditNames`")
  }
}
