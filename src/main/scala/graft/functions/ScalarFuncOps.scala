package graft.functions

import graft.QueryGroup
import graft.QueryGroup.withDialect
import org.apache.spark.sql.functions._

/** Scalar-function family parity (SURVEY.md §2.9; reference registration
  * list presto-main/.../metadata/BuiltInFunctionNamespaceManager.java:494-689).
  * Each query exercises one family over real table columns; the DuckDB
  * oracle spells the same semantics in its own dialect (name/argument
  * differences are part of what's being pinned). All expressions are
  * Spark built-ins → whole-stage codegen, no UDFs in the hot path.
  */
object ScalarFuncOps extends QueryGroup {

  def defs = Seq(
    // string family (reference operator/scalar/StringFunctions.java:62)
    q("fn_string",
      """SELECT c_custkey,
        |  CAST(length(c_name) AS BIGINT) AS len,
        |  upper(c_name) AS up,
        |  lower(c_name) AS lo,
        |  substr(c_name, 1, 8) AS pre,
        |  substr(c_name, -3) AS suf,
        |  replace(c_name, '#', '-') AS repl,
        |  reverse(c_name) AS rev,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS pad,
        |  rpad(CAST(c_custkey AS VARCHAR), 8, 'x') AS rpadded,
        |  trim('  ' || c_name || ' ') AS trimmed,
        |  ltrim('xx' || c_name, 'x') AS ltrimmed,
        |  rtrim(c_name || 'yxy', 'xy') AS rtrimmed,
        |  trim('z' || c_name || 'zz', 'z') AS trimmed2,
        |  concat(c_name, '|', c_mktsegment) AS joined,
        |  split_part(c_name, '#', 2) AS part2,
        |  CAST(strpos(c_name, '#') AS BIGINT) AS hashpos,
        |  left(c_name, 4) AS l4,
        |  right(c_name, 4) AS r4,
        |  repeat('ab', 3) AS rep,
        |  ascii(c_name) AS first_code,
        |  chr(65 + CAST(c_custkey % 26 AS INT)) AS cyc,
        |  translate(c_name, '#0', '_O') AS trans,
        |  CAST(levenshtein(c_name, c_mktsegment) AS BIGINT) AS lev,
        |  contains(c_name, '1') AS has1,
        |  starts_with(c_name, 'Customer') AS pfx,
        |  ends_with(c_name, '0') AS sfx
        |FROM customer
        |ORDER BY c_custkey""".stripMargin) { (s, _) =>
      // 2-arg trim family + split_part follow the reference's call
      // conventions — dialect-flag scope since round 13 (parse-time)
      withDialect(s, PrestoOperators.ConfKey)(s.sql("""SELECT c_custkey,
              |  CAST(length(c_name) AS BIGINT) AS len,
              |  upper(c_name) AS up,
              |  lower(c_name) AS lo,
              |  substr(c_name, 1, 8) AS pre,
              |  substr(c_name, -3) AS suf,
              |  replace(c_name, '#', '-') AS repl,
              |  reverse(c_name) AS rev,
              |  lpad(CAST(c_custkey AS STRING), 8, '0') AS pad,
              |  rpad(CAST(c_custkey AS STRING), 8, 'x') AS rpadded,
              |  trim('  ' || c_name || ' ') AS trimmed,
              |  ltrim('xx' || c_name, 'x') AS ltrimmed,
              |  rtrim(c_name || 'yxy', 'xy') AS rtrimmed,
              |  trim('z' || c_name || 'zz', 'z') AS trimmed2,
              |  concat(c_name, '|', c_mktsegment) AS joined,
              |  split_part(c_name, '#', 2) AS part2,
              |  CAST(instr(c_name, '#') AS BIGINT) AS hashpos,
              |  left(c_name, 4) AS l4,
              |  right(c_name, 4) AS r4,
              |  array_join(repeat('ab', 3), '') AS rep,
              |  ascii(c_name) AS first_code,
              |  chr(65 + CAST(c_custkey % 26 AS INT)) AS cyc,
              |  translate(c_name, '#0', '_O') AS trans,
              |  CAST(levenshtein(c_name, c_mktsegment) AS BIGINT) AS lev,
              |  contains(c_name, '1') AS has1,
              |  startswith(c_name, 'Customer') AS pfx,
              |  endswith(c_name, '0') AS sfx
              |FROM customer
              |ORDER BY c_custkey""".stripMargin))
    },

    // datetime family (reference operator/scalar/DateTimeFunctions.java:68)
    q("fn_datetime",
      """SELECT o_orderkey,
        |  year(o_orderdate) AS y,
        |  quarter(o_orderdate) AS q,
        |  month(o_orderdate) AS m,
        |  day(o_orderdate) AS d,
        |  dayofweek(o_orderdate) + 1 AS dow1,
        |  dayofyear(o_orderdate) AS doy,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  CAST(date_trunc('year', o_orderdate) AS TIMESTAMP) AS year_start,
        |  CAST(o_orderdate AS DATE) + 30 AS plus30,
        |  datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS unix_s,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  strftime(o_orderdate, '%Y-%m-%d') AS fmt,
        |  strftime(o_orderdate, '%Y/%m') AS fmt2
        |FROM orders
        |WHERE o_orderkey < 3000
        |ORDER BY o_orderkey""".stripMargin) { (s, _) =>
      s.sql("""SELECT o_orderkey,
              |  year(o_orderdate) AS y,
              |  quarter(o_orderdate) AS q,
              |  month(o_orderdate) AS m,
              |  day(o_orderdate) AS d,
              |  dayofweek(o_orderdate) AS dow1,
              |  dayofyear(o_orderdate) AS doy,
              |  date_trunc('month', o_orderdate) AS month_start,
              |  date_trunc('year', o_orderdate) AS year_start,
              |  date_add(CAST(o_orderdate AS DATE), 30) AS plus30,
              |  datediff(o_orderdate, TIMESTAMP '1995-01-01') AS days_since,
              |  unix_timestamp(o_orderdate) AS unix_s,
              |  last_day(o_orderdate) AS eom,
              |  date_format(o_orderdate, 'yyyy-MM-dd') AS fmt,
              |  date_format(o_orderdate, 'yyyy/MM') AS fmt2
              |FROM orders
              |WHERE o_orderkey < 3000
              |ORDER BY o_orderkey""".stripMargin)
    },

    // TIME type (reference presto-spi/.../type/TimeType.java; Spark 4.1's
    // native time(6) behind spark.sql.timeType.enabled — see GraftSession).
    // Literal, make_time, casts both ways, EXTRACT, ordering all run
    // natively and round-trip through parquet's TIME logical type.
    q("fn_time",
      """WITH t AS (
        |  SELECT o_orderkey,
        |    make_time(CAST(o_orderkey % 24 AS INT), CAST(o_orderkey % 60 AS INT),
        |              CAST(o_orderkey % 60 AS INT)) AS tod
        |  FROM orders WHERE o_orderkey < 2000)
        |SELECT o_orderkey, tod,
        |  CAST(EXTRACT(HOUR FROM tod) AS BIGINT) AS h,
        |  CAST(EXTRACT(MINUTE FROM tod) AS BIGINT) AS mi,
        |  CAST(EXTRACT(SECOND FROM tod) AS BIGINT) AS sec,
        |  tod < TIME '12:00:00' AS is_am,
        |  CAST(tod AS VARCHAR) AS s,
        |  CAST(CAST('07:08:09' AS TIME) AS VARCHAR) AS parsed
        |FROM t ORDER BY o_orderkey""".stripMargin) { (s, _) =>
      s.sql("""WITH t AS (
              |  SELECT o_orderkey,
              |    make_time(CAST(o_orderkey % 24 AS INT), CAST(o_orderkey % 60 AS INT),
              |              CAST(o_orderkey % 60 AS INT)) AS tod
              |  FROM orders WHERE o_orderkey < 2000)
              |SELECT o_orderkey, tod,
              |  CAST(EXTRACT(HOUR FROM tod) AS BIGINT) AS h,
              |  CAST(EXTRACT(MINUTE FROM tod) AS BIGINT) AS mi,
              |  CAST(EXTRACT(SECOND FROM tod) AS BIGINT) AS sec,
              |  tod < TIME '12:00:00' AS is_am,
              |  CAST(tod AS STRING) AS s,
              |  CAST(CAST('07:08:09' AS TIME) AS STRING) AS parsed
              |FROM t ORDER BY o_orderkey""".stripMargin)
    },

    // math family (reference operator/scalar/MathFunctions.java:65)
    q("fn_math",
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_quantity - 25.0) AS a,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS fl,
        |  round(l_extendedprice, 1) AS r1,
        |  round(sqrt(l_quantity), 6) AS sq,
        |  round(cbrt(l_extendedprice), 6) AS cb,
        |  round(exp(l_discount), 8) AS ex,
        |  round(ln(l_extendedprice), 8) AS lg,
        |  round(log10(l_extendedprice), 8) AS l10,
        |  round(log2(l_quantity + 1), 8) AS l2,
        |  round(pow(l_quantity, 2), 4) AS p2,
        |  mod(CAST(l_quantity AS BIGINT), 7) AS m7,
        |  CAST(sign(l_discount - 0.05) AS DOUBLE) AS sg,
        |  greatest(l_quantity, l_discount * 100) AS gr,
        |  least(l_quantity, l_discount * 100) AS le,
        |  round(degrees(l_discount), 6) AS dg,
        |  round(radians(l_quantity), 6) AS rd,
        |  round(sin(l_quantity), 8) AS sn,
        |  round(cos(l_quantity), 8) AS cs,
        |  round(atan2(l_quantity, l_extendedprice), 8) AS at2,
        |  round(pi(), 8) AS pival
        |FROM lineitem
        |WHERE l_orderkey < 500
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, _) =>
      s.sql("""SELECT l_orderkey, l_linenumber,
              |  abs(l_quantity - 25.0) AS a,
              |  CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
              |  CAST(floor(l_extendedprice) AS BIGINT) AS fl,
              |  round(l_extendedprice, 1) AS r1,
              |  round(sqrt(l_quantity), 6) AS sq,
              |  round(cbrt(l_extendedprice), 6) AS cb,
              |  round(exp(l_discount), 8) AS ex,
              |  round(ln(l_extendedprice), 8) AS lg,
              |  round(log10(l_extendedprice), 8) AS l10,
              |  round(log2(l_quantity + 1), 8) AS l2,
              |  round(pow(l_quantity, 2), 4) AS p2,
              |  mod(CAST(l_quantity AS BIGINT), 7) AS m7,
              |  CAST(signum(l_discount - 0.05) AS DOUBLE) AS sg,
              |  greatest(l_quantity, l_discount * 100) AS gr,
              |  least(l_quantity, l_discount * 100) AS le,
              |  round(degrees(l_discount), 6) AS dg,
              |  round(radians(l_quantity), 6) AS rd,
              |  round(sin(l_quantity), 8) AS sn,
              |  round(cos(l_quantity), 8) AS cs,
              |  round(atan2(l_quantity, l_extendedprice), 8) AS at2,
              |  round(pi(), 8) AS pival
              |FROM lineitem
              |WHERE l_orderkey < 500
              |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    },

    // conditional / special forms (reference SpecialFormExpression,
    // IfCodeGenerator/CoalesceCodeGenerator/InCodeGenerator)
    q("fn_conditional",
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 300000 THEN 'big'
        |       WHEN o_totalprice > 100000 THEN 'mid'
        |       ELSE 'small' END AS bucket,
        |  CASE o_orderstatus WHEN 'F' THEN 'final' WHEN 'O' THEN 'open' ELSE 'other' END AS st,
        |  coalesce(nullif(o_orderstatus, 'P'), 'pending') AS statusx,
        |  CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderkey END AS odd_only,
        |  o_orderstatus IN ('F', 'P') AS closedish,
        |  o_totalprice BETWEEN 100000 AND 200000 AS midrange,
        |  TRY_CAST(o_orderpriority AS INTEGER) AS not_an_int,
        |  TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prio_num,
        |  if(o_totalprice > 200000, 1, 0) AS flag
        |FROM orders
        |WHERE o_orderkey < 3000
        |ORDER BY o_orderkey""".stripMargin) { (s, _) =>
      s.sql("""SELECT o_orderkey,
              |  CASE WHEN o_totalprice > 300000 THEN 'big'
              |       WHEN o_totalprice > 100000 THEN 'mid'
              |       ELSE 'small' END AS bucket,
              |  CASE o_orderstatus WHEN 'F' THEN 'final' WHEN 'O' THEN 'open' ELSE 'other' END AS st,
              |  coalesce(nullif(o_orderstatus, 'P'), 'pending') AS statusx,
              |  CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderkey END AS odd_only,
              |  o_orderstatus IN ('F', 'P') AS closedish,
              |  o_totalprice BETWEEN 100000 AND 200000 AS midrange,
              |  TRY_CAST(o_orderpriority AS INT) AS not_an_int,
              |  TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_num,
              |  if(o_totalprice > 200000, 1, 0) AS flag
              |FROM orders
              |WHERE o_orderkey < 3000
              |ORDER BY o_orderkey""".stripMargin)
    },

    // regex family (reference JoniRegexpFunctions.java:44; dialect is
    // engine-specific — patterns kept to the common RE subset)
    q("fn_regex",
      """SELECT doc_id,
        |  regexp_extract(text, '([a-z]+)', 1) AS first_word,
        |  regexp_replace(text, '[aeiou]', '*', 'g') AS devoweled_prefix,
        |  regexp_matches(text, 'table') AS mentions_table,
        |  len(regexp_extract_all(text, '[a-z]+')) AS n_words,
        |  len(string_split_regex(text, '\s+')) AS n_tokens
        |FROM documents
        |WHERE doc_id < 100
        |ORDER BY doc_id""".stripMargin) { (s, _) =>
      s.sql("""SELECT doc_id,
              |  regexp_extract(text, '([a-z]+)', 1) AS first_word,
              |  regexp_replace(text, '[aeiou]', '*') AS devoweled_prefix,
              |  text RLIKE 'table' AS mentions_table,
              |  size(regexp_extract_all(text, '[a-z]+', 0)) AS n_words,
              |  size(split(text, '\s+')) AS n_tokens  -- raw Presto literal: the parser doubles the backslash for Spark's lexer
              |FROM documents
              |WHERE doc_id < 100
              |ORDER BY doc_id""".stripMargin)
    },

    // JSON family over events.props (reference JsonFunctions.java:64,
    // JsonExtract.java:116)
    q("fn_json",
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
        |  json_extract_string(props, '$.missing') AS absent,
        |  CAST(json_valid(props) AS BOOLEAN) AS ok
        |FROM events
        |WHERE event_id < 2000
        |ORDER BY event_id""".stripMargin) { (s, _) =>
      s.sql("""SELECT event_id,
              |  CAST(get_json_object(props, '$.k') AS INT) AS k_val,
              |  get_json_object(props, '$.missing') AS absent,
              |  get_json_object(props, '$') IS NOT NULL AS ok
              |FROM events
              |WHERE event_id < 2000
              |ORDER BY event_id""".stripMargin)
    },

    // hash / binary family (reference VarbinaryFunctions.java:38)
    q("fn_hash",
      """SELECT c_custkey,
        |  md5(c_name) AS h_md5,
        |  sha256(c_name) AS h_sha256,
        |  to_base64(encode(c_name)) AS b64,
        |  hex(encode(c_name)) AS hx
        |FROM customer
        |WHERE c_custkey < 200
        |ORDER BY c_custkey""".stripMargin) { (s, _) =>
      s.sql("""SELECT c_custkey,
              |  md5(c_name) AS h_md5,
              |  sha2(c_name, 256) AS h_sha256,
              |  base64(CAST(c_name AS BINARY)) AS b64,
              |  hex(c_name) AS hx
              |FROM customer
              |WHERE c_custkey < 200
              |ORDER BY c_custkey""".stripMargin)
    },

    // bitwise family (reference BitwiseFunctions.java:24)
    q("fn_bitwise",
      """SELECT l_orderkey, l_linenumber,
        |  l_orderkey & 255 AS band,
        |  l_orderkey | 16 AS bor,
        |  xor(l_orderkey, l_partkey) AS bxor,
        |  l_orderkey << 2 AS shl,
        |  l_orderkey >> 3 AS shr,
        |  bit_count(l_orderkey) AS bits
        |FROM lineitem
        |WHERE l_orderkey < 200
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, _) =>
      s.sql("""SELECT l_orderkey, l_linenumber,
              |  l_orderkey & 255 AS band,
              |  l_orderkey | 16 AS bor,
              |  l_orderkey ^ l_partkey AS bxor,
              |  shiftleft(l_orderkey, 2) AS shl,
              |  shiftright(l_orderkey, 3) AS shr,
              |  bit_count(l_orderkey) AS bits
              |FROM lineitem
              |WHERE l_orderkey < 200
              |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    },

    // array family with lambdas over real vectors (reference ~45 array
    // scalar files + lambda support, SURVEY.md §2.9-2.10)
    q("fn_array_lambda",
      """SELECT vec_id,
        |  len(embedding) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 5) AS first_elem,
        |  round(CAST(embedding[len(embedding)] AS DOUBLE), 5) AS last_elem,
        |  round(CAST(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS DOUBLE), 4) AS total,
        |  len(list_filter(embedding, x -> x > 0)) AS n_pos,
        |  round(CAST(list_max(embedding) AS DOUBLE), 5) AS mx,
        |  round(CAST(list_min(embedding) AS DOUBLE), 5) AS mn,
        |  array_to_string(list_transform(embedding[1:3], x -> CAST(round(CAST(x AS DOUBLE), 3) + 0.0 AS VARCHAR)), ',') AS head3
        |FROM embeddings
        |WHERE vec_id < 100
        |ORDER BY vec_id""".stripMargin) { (s, _) =>
      s.sql("""SELECT vec_id,
              |  size(embedding) AS dim,
              |  round(CAST(element_at(embedding, 1) AS DOUBLE), 5) AS first_elem,
              |  round(CAST(element_at(embedding, -1) AS DOUBLE), 5) AS last_elem,
              |  round(aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE)), 4) AS total,
              |  size(filter(embedding, x -> x > 0)) AS n_pos,
              |  round(CAST(array_max(embedding) AS DOUBLE), 5) AS mx,
              |  round(CAST(array_min(embedding) AS DOUBLE), 5) AS mn,
              |  -- "+ 0.0" normalizes IEEE negative zero (round(-0.0002, 3)
              |  -- prints "-0.0" on one engine and "0.0" on the other)
              |  array_join(transform(slice(embedding, 1, 3), x -> CAST(round(CAST(x AS DOUBLE), 3) + 0.0D AS STRING)), ',') AS head3
              |FROM embeddings
              |WHERE vec_id < 100
              |ORDER BY vec_id""".stripMargin)
    },

    // DECIMAL(38) semantics (reference Decimals.java:43,
    // UnscaledDecimal128Arithmetic.java): exact arithmetic pinned against
    // the oracle. Inputs derive from integer columns (exact decimal
    // construction); divisions use power-of-2 divisors so no engine
    // rounding-mode choice is ever exercised — cross-engine decimal
    // *rounding* is pinned separately via the cents-quantization pattern
    // (q10). ANSI div-by-zero becomes NULL through try_divide, matching
    // Presto's TRY(). Output columns are CAST to DOUBLE on BOTH engines
    // because DuckDB's result fetch coerces DECIMAL to float64, making the
    // driver's hash representation-sensitive (round-2 finding); the decimal
    // arithmetic itself still runs at DECIMAL precision inside the inner
    // CASTs, and decimal *typing* is pinned in FnSpec ("fn_decimal types").
    q("fn_decimal",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(CAST(l_orderkey AS DECIMAL(18,2)) + CAST(l_partkey AS DECIMAL(18,2)) AS DECIMAL(20,2)) AS DOUBLE) AS d_add,
        |  CAST(CAST(CAST(l_orderkey AS DECIMAL(12,0)) * CAST(l_suppkey AS DECIMAL(12,0)) AS DECIMAL(24,0)) AS DOUBLE) AS d_mul,
        |  CAST(CAST(CAST(l_orderkey AS DECIMAL(18,0)) / 8 AS DECIMAL(24,3)) AS DOUBLE) AS d_div8,
        |  CAST(CAST(CAST(l_orderkey AS DECIMAL(18,0)) % 7 AS DECIMAL(18,0)) AS DOUBLE) AS d_mod,
        |  CAST(CAST(-CAST(l_partkey AS DECIMAL(18,2)) AS DECIMAL(18,2)) AS DOUBLE) AS d_neg,
        |  CAST(l_orderkey AS DECIMAL(18,2)) > CAST(l_partkey AS DECIMAL(18,2)) AS d_gt,
        |  l_orderkey / 0 IS NULL AS div0_null
        |FROM lineitem
        |WHERE l_orderkey < 300
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, _) =>
      s.sql("""SELECT l_orderkey, l_linenumber,
              |  CAST(CAST(CAST(l_orderkey AS DECIMAL(18,2)) + CAST(l_partkey AS DECIMAL(18,2)) AS DECIMAL(20,2)) AS DOUBLE) AS d_add,
              |  CAST(CAST(CAST(l_orderkey AS DECIMAL(12,0)) * CAST(l_suppkey AS DECIMAL(12,0)) AS DECIMAL(24,0)) AS DOUBLE) AS d_mul,
              |  CAST(CAST(CAST(l_orderkey AS DECIMAL(18,0)) / 8 AS DECIMAL(24,3)) AS DOUBLE) AS d_div8,
              |  CAST(CAST(CAST(l_orderkey AS DECIMAL(18,0)) % 7 AS DECIMAL(18,0)) AS DOUBLE) AS d_mod,
              |  CAST(CAST(-CAST(l_partkey AS DECIMAL(18,2)) AS DECIMAL(18,2)) AS DOUBLE) AS d_neg,
              |  CAST(l_orderkey AS DECIMAL(18,2)) > CAST(l_partkey AS DECIMAL(18,2)) AS d_gt,
              |  try_divide(l_orderkey, 0) IS NULL AS div0_null
              |FROM lineitem
              |WHERE l_orderkey < 300
              |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    },

    // decimal aggregation: exact, order-independent money sums (the scale
    // story: decimal addition is associative, double addition is not).
    // Same DOUBLE-on-output pattern as fn_decimal: the sum itself is
    // decimal-exact; only the emitted representation is double (values are
    // integer cents well under 2^53, so the cast is lossless).
    q("agg_decimal_sum",
      """SELECT l_returnflag,
        |  CAST(CAST(sum(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(12,2))) AS DECIMAL(20,2)) AS DOUBLE) AS qty_sum,
        |  CAST(CAST(min(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS DOUBLE) AS qty_min,
        |  CAST(CAST(max(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS DOUBLE) AS qty_max
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, _) =>
      s.sql("""SELECT l_returnflag,
              |  CAST(CAST(sum(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(12,2))) AS DECIMAL(20,2)) AS DOUBLE) AS qty_sum,
              |  CAST(CAST(min(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS DOUBLE) AS qty_min,
              |  CAST(CAST(max(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS DOUBLE) AS qty_max
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },

    // map family — maps built on the fly (no map columns in the fixtures);
    // emitted back as scalars so the compare sees plain columns
    q("fn_map",
      """SELECT n_nationkey,
        |  (map {'key': n_name})['key'][1] AS self_name,
        |  CAST(cardinality(map {'a': 1, 'b': 2}) AS INT) AS msize,
        |  array_to_string(map_keys(map {'x': 1, 'y': 2}), ',') AS ks,
        |  array_to_string(map_values(map {'x': 7, 'y': 8}), ',') AS vs
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, _) =>
      s.sql("""SELECT n_nationkey,
              |  element_at(map('key', n_name), 'key') AS self_name,
              |  size(map('a', 1, 'b', 2)) AS msize,
              |  array_join(map_keys(map('x', 1, 'y', 2)), ',') AS ks,
              |  array_join(map_values(map('x', 7, 'y', 8)), ',') AS vs
              |FROM nation
              |ORDER BY n_nationkey""".stripMargin)
    },
  )
}
