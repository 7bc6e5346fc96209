package graft.operators

import graft.QueryGroup
import graft.QueryGroup.withDialect
import graft.functions.{PrestoOperators, ZonedTimestamps}

/** Randomized-but-deterministic expression-parity sweeps: generate a few
  * hundred pseudo-random operand rows with an LCG written in portable SQL
  * (identical arithmetic on the engine and the DuckDB oracle), then apply
  * a wide slab of the scalar-function surface row-by-row. Unlike the
  * curated `fn_*` queries (a handful of hand-picked literals each), every
  * function here is exercised across hundreds of operand values — sign
  * changes, magnitude sweeps, string-shape variation — and any mismatch
  * localizes to a (row, column) cell in the driver's compare.
  *
  * This is the same engine-vs-independent-implementation discipline the
  * reference applies via H2 (presto-tests/.../QueryAssertions.java:51) and
  * its operator fuzz tests (presto-main/src/test/.../TestExpressionCompiler
  * .java — thousands of generated operand combinations per operator);
  * DuckDB plays the role of the independent second implementation.
  *
  * Determinism notes:
  *  - operands derive from `range(0, N)` through integer LCG steps — both
  *    engines compute them in BIGINT with identical wraparound-free values
  *    (all intermediates < 2^41);
  *  - every float output is rounded (3-4 decimals) to absorb last-ulp
  *    libm differences; operand granularity (k/2^21) makes a decimal
  *    rounding-boundary collision a measure-zero 1/2^18 event per row;
  *  - integer-ish outputs are CAST to BIGINT on both sides so dtype
  *    comparison is exact, not int-width-drift-dependent.
  *
  * The sweeps over the reference's CALL CONVENTIONS (log/trim argument
  * order, element_at bounds, regexp_extract group-0 + NULL contracts,
  * split_part NULL, map_concat last-wins) build under the Presto dialect
  * flag: since round 13 the flag selects ONE coherent dialect, so these
  * conventions no longer apply to default (pure-Spark-SQL) statements.
  */
object FuzzParityOps extends QueryGroup {

  private val N = 400

  /** Engine-side operand CTE (Spark SQL + graft registrations). */
  private val sparkOperands =
    s"""WITH g AS (
       |  SELECT id AS i,
       |    (id * 1103515245 + 12345) % 2147483648 AS h1,
       |    (id * 69069 + 99991) % 2147483648 AS h2
       |  FROM range(0, $N)
       |), o AS (
       |  SELECT i, h1, h2,
       |    CAST(h1 AS DOUBLE) / 2097152.0 - 511.0 AS x,
       |    CAST(h2 % 1000 AS DOUBLE) / 10.0 + 0.1 AS y,
       |    CAST(h1 % 97 - 48 AS INT) AS n,
       |    CAST(h2 % 23 + 1 AS INT) AS m
       |  FROM g)
       |""".stripMargin

  /** DuckDB-side operand CTE — same arithmetic, range() column aliased. */
  private val duckOperands =
    s"""WITH g AS (
       |  SELECT i,
       |    (i * 1103515245 + 12345) % 2147483648 AS h1,
       |    (i * 69069 + 99991) % 2147483648 AS h2
       |  FROM range(0, $N) t(i)
       |), o AS (
       |  SELECT i, h1, h2,
       |    CAST(h1 AS DOUBLE) / 2097152.0 - 511.0 AS x,
       |    CAST(h2 % 1000 AS DOUBLE) / 10.0 + 0.1 AS y,
       |    CAST(h1 % 97 - 48 AS INT) AS n,
       |    CAST(h2 % 23 + 1 AS INT) AS m
       |  FROM g)
       |""".stripMargin

  def defs = Seq(

    // ── math: 20 functions × 400 operand rows ──
    // x ∈ [-511, 512] (sign sweeps), y ∈ (0.1, 100.1] (positive domain),
    // n ∈ [-48, 48], m ∈ [1, 23]. width_bucket has no DuckDB twin — the
    // oracle computes the bucket arithmetic longhand (y is strictly
    // inside the bounds, so no under/overflow bucket cases arise).
    q("fuzz_math_parity",
      duckOperands +
      """SELECT i,
        |  CAST(abs(n) AS BIGINT) AS abs_n,
        |  CAST(sign(n) AS BIGINT) AS sign_n,
        |  CAST(greatest(n, m) AS BIGINT) AS gst,
        |  CAST(least(n, m) AS BIGINT) AS lst,
        |  CAST(h1 % 7919 AS BIGINT) AS mod_h1,
        |  CAST(floor(x) AS BIGINT) AS flr,
        |  CAST(ceiling(x) AS BIGINT) AS cl,
        |  round(x, 3) AS rnd3,
        |  round(round(x, CAST(h2 % 7 - 3 AS INT)), 4) AS rdyn,
        |  CAST(n AS BIGINT) AS rdyn_int,
        |  CAST(trunc(x) AS DOUBLE) AS trunc_x,
        |  round(sqrt(y), 4) AS sq,
        |  round(cbrt(y), 4) AS cb,
        |  round(exp(x / 200.0), 4) AS ex,
        |  round(ln(y), 4) AS lny,
        |  round(log10(y), 4) AS l10,
        |  round(log2(y), 4) AS l2,
        |  round(log(CAST(m + 1 AS DOUBLE), y), 4) AS lgb,
        |  CASE WHEN x > 0.0 THEN CAST(round(ln(x), 4) AS VARCHAR)
        |       WHEN x = 0.0 THEN '-Inf' ELSE 'NaN' END AS lnx,
        |  CASE WHEN x > 0.0 THEN CAST(round(log2(x), 4) AS VARCHAR)
        |       WHEN x = 0.0 THEN '-Inf' ELSE 'NaN' END AS l2x,
        |  CASE WHEN x > 0.0 THEN CAST(round(log10(x), 4) AS VARCHAR)
        |       WHEN x = 0.0 THEN '-Inf' ELSE 'NaN' END AS l10x,
        |  round(power(y, 1.5), 3) AS pw,
        |  round(sin(x / 100.0), 4) AS sn,
        |  round(cos(x / 100.0), 4) AS cs,
        |  round(atan(x / 100.0), 4) AS at,
        |  round(atan2(x / 100.0, y), 4) AS at2,
        |  round(degrees(x / 100.0), 3) AS dg,
        |  round(radians(n), 4) AS rd,
        |  CAST(floor(y * 10.0 / 101.0) + 1 AS BIGINT) AS wb
        |FROM o ORDER BY i""".stripMargin) { (s, _) =>
      withDialect(s, PrestoOperators.ConfKey) { s.sql(sparkOperands +
        """SELECT i,
          |  CAST(abs(n) AS BIGINT) AS abs_n,
          |  CAST(sign(n) AS BIGINT) AS sign_n,
          |  CAST(greatest(n, m) AS BIGINT) AS gst,
          |  CAST(least(n, m) AS BIGINT) AS lst,
          |  CAST(mod(h1, 7919) AS BIGINT) AS mod_h1,
          |  CAST(floor(x) AS BIGINT) AS flr,
          |  CAST(ceiling(x) AS BIGINT) AS cl,
          |  round(x, 3) AS rnd3,
          |  round(round(x, CAST(h2 % 7 - 3 AS INT)), 4) AS rdyn,
          |  round(CAST(n AS BIGINT), CAST(h2 % 7 - 3 AS INT)) AS rdyn_int,
          |  CAST(truncate(x) AS DOUBLE) AS trunc_x,
          |  round(sqrt(y), 4) AS sq,
          |  round(cbrt(y), 4) AS cb,
          |  round(exp(x / 200.0), 4) AS ex,
          |  round(ln(y), 4) AS lny,
          |  round(log10(y), 4) AS l10,
          |  round(log2(y), 4) AS l2,
          |  round(log(y, CAST(m + 1 AS DOUBLE)), 4) AS lgb,
          |  CASE WHEN isnan(ln(x)) THEN 'NaN'
          |       WHEN ln(x) = double('-Infinity') THEN '-Inf'
          |       ELSE CAST(round(ln(x), 4) AS STRING) END AS lnx,
          |  CASE WHEN isnan(log2(x)) THEN 'NaN'
          |       WHEN log2(x) = double('-Infinity') THEN '-Inf'
          |       ELSE CAST(round(log2(x), 4) AS STRING) END AS l2x,
          |  CASE WHEN isnan(log10(x)) THEN 'NaN'
          |       WHEN log10(x) = double('-Infinity') THEN '-Inf'
          |       ELSE CAST(round(log10(x), 4) AS STRING) END AS l10x,
          |  round(power(y, 1.5), 3) AS pw,
          |  round(sin(x / 100.0), 4) AS sn,
          |  round(cos(x / 100.0), 4) AS cs,
          |  round(atan(x / 100.0), 4) AS at,
          |  round(atan2(x / 100.0, y), 4) AS at2,
          |  round(degrees(x / 100.0), 3) AS dg,
          |  round(radians(n), 4) AS rd,
          |  CAST(width_bucket(y, 0.0, 101.0, 10) AS BIGINT) AS wb
          |FROM o ORDER BY i""".stripMargin) }
    },

    // ── strings: 16 functions over generated string shapes ──
    // s = 'W<0-999>_<a-z><A-Z>' varies length (5-8), case, and split
    // position per row; Presto spellings (strpos, split_part,
    // levenshtein_distance, hamming_distance, codepoint) against DuckDB's
    // independently-named twins.
    q("fuzz_string_parity",
      duckOperands + """, t AS (
        |  SELECT i, m,
        |    concat('W', CAST(h1 % 1000 AS VARCHAR), '_',
        |           chr(CAST(97 + i % 26 AS INTEGER)),
        |           chr(CAST(65 + h2 % 26 AS INTEGER))) AS s
        |  FROM o)
        |SELECT i, s,
        |  CAST(length(s) AS BIGINT) AS len,
        |  upper(s) AS up, lower(s) AS lo, reverse(s) AS rev,
        |  substr(s, 2) AS sub2, substr(s, 3, 4) AS sub34,
        |  CAST(strpos(s, '_') AS BIGINT) AS pos,
        |  replace(s, '_', '--') AS repl,
        |  lpad(s, 12, '*') AS lp, rpad(s, 12, '#') AS rp,
        |  trim(concat('  ', s, ' ')) AS trm,
        |  split_part(s, '_', 2) AS sp2,
        |  CAST(NULL AS VARCHAR) AS sp_oob,
        |  starts_with(s, 'W1') AS sw,
        |  CAST(levenshtein(s, reverse(s)) AS BIGINT) AS lev,
        |  CAST(hamming(substr(s, 1, 3), reverse(substr(s, 1, 3))) AS BIGINT) AS ham,
        |  CAST(ascii(chr(CAST(97 + i % 26 AS INTEGER))) AS BIGINT) AS cp,
        |  translate(s, '_W', '-V') AS tr
        |FROM t ORDER BY i""".stripMargin) { (s, _) =>
      withDialect(s, PrestoOperators.ConfKey) { s.sql(sparkOperands + """, t AS (
        |  SELECT i, m,
        |    concat('W', CAST(h1 % 1000 AS VARCHAR), '_',
        |           chr(97 + i % 26), chr(65 + h2 % 26)) AS s
        |  FROM o)
        |SELECT i, s,
        |  CAST(length(s) AS BIGINT) AS len,
        |  upper(s) AS up, lower(s) AS lo, reverse(s) AS rev,
        |  substr(s, 2) AS sub2, substr(s, 3, 4) AS sub34,
        |  CAST(strpos(s, '_') AS BIGINT) AS pos,
        |  replace(s, '_', '--') AS repl,
        |  lpad(s, 12, '*') AS lp, rpad(s, 12, '#') AS rp,
        |  trim(concat('  ', s, ' ')) AS trm,
        |  split_part(s, '_', 2) AS sp2,
        |  split_part(s, '_', 9) AS sp_oob,
        |  startswith(s, 'W1') AS sw,
        |  CAST(levenshtein_distance(s, reverse(s)) AS BIGINT) AS lev,
        |  CAST(hamming_distance(substr(s, 1, 3), reverse(substr(s, 1, 3))) AS BIGINT) AS ham,
        |  CAST(codepoint(chr(97 + i % 26)) AS BIGINT) AS cp,
        |  translate(s, '_W', '-V') AS tr
        |FROM t ORDER BY i""".stripMargin) }
    },

    // ── datetime: 15 functions over a ±48-week date sweep and a
    // 69-day minute-resolution timestamp sweep ──
    // Presto unit-string date_add/date_diff, ISO day_of_week/week,
    // last_day_of_month, MySQL-style date_format, to_unixtime — against
    // DuckDB's native arithmetic (+ n days, isodow, strftime, epoch).
    // DuckDB DATE + INTERVAL yields TIMESTAMP, hence the CASTs back.
    q("fuzz_datetime_parity",
      duckOperands + """, t AS (
        |  SELECT i, m, n,
        |    DATE '1995-06-15' + CAST(n * 7 + i % 11 AS INTEGER) AS d,
        |    TIMESTAMP '1995-01-01 00:00:00' + (h1 % 100000) * INTERVAL 1 MINUTE AS ts
        |  FROM o)
        |SELECT i, d,
        |  CAST(year(d) AS BIGINT) AS yr,
        |  CAST(month(d) AS BIGINT) AS mo,
        |  CAST(day(d) AS BIGINT) AS dom,
        |  CAST(quarter(d) AS BIGINT) AS qtr,
        |  CAST(isodow(d) AS BIGINT) AS dow,
        |  CAST(dayofyear(d) AS BIGINT) AS doy,
        |  CAST(weekofyear(d) AS BIGINT) AS wk,
        |  last_day(d) AS eom,
        |  CAST(date_trunc('month', d) AS DATE) AS mstart,
        |  CAST(date_trunc('week', d) AS DATE) AS wstart,
        |  CAST(date_diff('day', DATE '1995-01-01', d) AS BIGINT) AS dd,
        |  CAST(d + INTERVAL 1 MONTH * m AS DATE) AS plus_m,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS fmt,
        |  CAST(epoch(ts) AS BIGINT) AS unix_s,
        |  CAST(hour(ts) AS BIGINT) AS hh,
        |  CAST(minute(ts) AS BIGINT) AS mi,
        |  strftime(d, '%Y-%m-%d') AS iso_d,
        |  strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS iso_ts
        |FROM t ORDER BY i""".stripMargin) { (s, _) =>
      s.sql(sparkOperands + """, t AS (
        |  SELECT i, m, n,
        |    CAST(date_add('day', n * 7 + i % 11, DATE '1995-06-15') AS DATE) AS d,
        |    date_add('minute', h1 % 100000, TIMESTAMP '1995-01-01 00:00:00') AS ts
        |  FROM o)
        |SELECT i, d,
        |  CAST(year(d) AS BIGINT) AS yr,
        |  CAST(month(d) AS BIGINT) AS mo,
        |  CAST(day(d) AS BIGINT) AS dom,
        |  CAST(quarter(d) AS BIGINT) AS qtr,
        |  CAST(day_of_week(d) AS BIGINT) AS dow,
        |  CAST(day_of_year(d) AS BIGINT) AS doy,
        |  CAST(week(d) AS BIGINT) AS wk,
        |  CAST(last_day_of_month(d) AS DATE) AS eom,
        |  CAST(date_trunc('month', d) AS DATE) AS mstart,
        |  CAST(date_trunc('week', d) AS DATE) AS wstart,
        |  CAST(date_diff('day', DATE '1995-01-01', d) AS BIGINT) AS dd,
        |  CAST(date_add('month', m, d) AS DATE) AS plus_m,
        |  date_format(ts, '%Y-%m-%d %H:%i:%s') AS fmt,
        |  CAST(to_unixtime(ts) AS BIGINT) AS unix_s,
        |  CAST(hour(ts) AS BIGINT) AS hh,
        |  CAST(minute(ts) AS BIGINT) AS mi,
        |  to_iso8601(d) AS iso_d,
        |  to_iso8601(ts) AS iso_ts
        |FROM t ORDER BY i""".stripMargin)
    },

    // ── arrays + lambdas + conditionals: 14 functions, every output
    // projected to a scalar (join/size/position) because array-typed
    // result columns crash the driver's comparator ──
    // Spark element_at/array_position are 1-based like DuckDB list
    // subscripts (and the engine's Presto dialect); absent → 0 on both.
    q("fuzz_array_parity",
      duckOperands + """, t AS (
        |  SELECT i, n, m,
        |    [h1 % 100, h2 % 97, CAST(n AS BIGINT), CAST(m AS BIGINT), i % 7] AS arr
        |  FROM o)
        |SELECT i,
        |  CAST(len(arr) AS BIGINT) AS sz,
        |  arr[CAST(i % 5 + 1 AS INTEGER)] AS elem,
        |  CAST(list_min(arr) AS BIGINT) AS mn,
        |  CAST(list_max(arr) AS BIGINT) AS mx,
        |  list_contains(arr, CAST(n AS BIGINT)) AS has_n,
        |  CAST(list_position(arr, CAST(m AS BIGINT)) AS BIGINT) AS pos_m,
        |  array_to_string(list_sort(arr), ',') AS sorted_join,
        |  CAST(len(list_distinct(arr)) AS BIGINT) AS n_dist,
        |  CAST(list_sum(list_transform(arr, x -> x * 2 + 1)) AS BIGINT) AS xform_sum,
        |  array_to_string(list_slice(arr, 2, 3), '|') AS mid2,
        |  CAST(len(list_filter(arr, x -> x % 2 = 0)) AS BIGINT) AS n_even,
        |  CAST(coalesce(nullif(CAST(n % 5 AS BIGINT), 0), -1) AS BIGINT) AS nz5,
        |  list_extract(arr, CAST(i % 4 + 6 AS INTEGER)) AS ea_oob,
        |  list_extract(arr, CAST(-(i % 5 + 1) AS INTEGER)) AS ea_neg,
        |  array_to_string(list_append(arr, CAST(n AS BIGINT)), ',') AS app,
        |  array_to_string(list_prepend(CAST(m AS BIGINT), arr), ',') AS pre,
        |  CASE WHEN n > 0 THEN 'pos' WHEN n < 0 THEN 'neg' ELSE 'zero' END AS sgn,
        |  if(m > 11, m, -m) AS half_flip
        |FROM t ORDER BY i""".stripMargin) { (s, _) =>
      withDialect(s, PrestoOperators.ConfKey) { s.sql(sparkOperands + """, t AS (
        |  SELECT i, n, m,
        |    array(h1 % 100, h2 % 97, CAST(n AS BIGINT), CAST(m AS BIGINT), i % 7) AS arr
        |  FROM o)
        |SELECT i,
        |  CAST(size(arr) AS BIGINT) AS sz,
        |  element_at(arr, CAST(i % 5 + 1 AS INT)) AS elem,
        |  CAST(array_min(arr) AS BIGINT) AS mn,
        |  CAST(array_max(arr) AS BIGINT) AS mx,
        |  array_contains(arr, CAST(n AS BIGINT)) AS has_n,
        |  CAST(array_position(arr, CAST(m AS BIGINT)) AS BIGINT) AS pos_m,
        |  array_join(sort_array(arr), ',') AS sorted_join,
        |  CAST(size(array_distinct(arr)) AS BIGINT) AS n_dist,
        |  CAST(aggregate(transform(arr, x -> x * 2 + 1), 0L, (a, x) -> a + x) AS BIGINT) AS xform_sum,
        |  array_join(slice(arr, 2, 2), '|') AS mid2,
        |  CAST(size(filter(arr, x -> x % 2 = 0)) AS BIGINT) AS n_even,
        |  CAST(coalesce(nullif(CAST(n % 5 AS BIGINT), 0), -1) AS BIGINT) AS nz5,
        |  element_at(arr, CAST(i % 4 + 6 AS INT)) AS ea_oob,
        |  element_at(arr, CAST(-(i % 5 + 1) AS INT)) AS ea_neg,
        |  array_join(arr || CAST(n AS BIGINT), ',') AS app,
        |  array_join(CAST(m AS BIGINT) || arr, ',') AS pre,
        |  CASE WHEN n > 0 THEN 'pos' WHEN n < 0 THEN 'neg' ELSE 'zero' END AS sgn,
        |  if(m > 11, m, -m) AS half_flip
        |FROM t ORDER BY i""".stripMargin) }
    },

    // ── regex + LIKE over generated subjects ──
    // Patterns stay in the Java-regex ∩ RE2 common subset (classes,
    // anchors, groups, +) so the comparison tests the FUNCTION surface
    // (group extraction, replace-all, match, extract-all, split), not
    // engine-specific regex dialect corners. DuckDB regexp_replace
    // needs the explicit 'g' flag to match Spark's replace-all.
    q("fuzz_regex_parity",
      duckOperands + """, t AS (
        |  SELECT i, concat('W', CAST(h1 % 1000 AS VARCHAR), '_',
        |                   chr(CAST(97 + i % 26 AS INTEGER)),
        |                   CAST(h2 % 100 AS VARCHAR)) AS s
        |  FROM o)
        |SELECT i, s,
        |  regexp_extract(s, 'W([0-9]+)', 1) AS grp1,
        |  regexp_extract(s, '_([a-z])([0-9]+)', 2) AS grp2,
        |  regexp_extract(s, 'W[0-9]+') AS grp0,
        |  CAST(NULL AS VARCHAR) AS nomatch,
        |  regexp_replace(s, '[0-9]+', '#', 'g') AS repl_all,
        |  regexp_replace(s, '[0-9]+', '', 'g') AS repl_rm,
        |  array_to_string(regexp_extract_all(s, '[A-Za-z]+'), '|') AS all0,
        |  regexp_matches(s, '^W[0-9]+_[a-z]') AS is_match,
        |  regexp_matches(s, '[13579]$') AS odd_tail,
        |  array_to_string(regexp_extract_all(s, '[0-9]+'), '|') AS all_nums,
        |  CAST(len(string_split_regex(s, '[0-9]+')) AS BIGINT) AS n_splits,
        |  s LIKE 'W%' AS like_pfx,
        |  s LIKE '%a_%' AS like_one_after_a
        |FROM t ORDER BY i""".stripMargin) { (s, _) =>
      withDialect(s, PrestoOperators.ConfKey) { s.sql(sparkOperands + """, t AS (
        |  SELECT i, concat('W', CAST(h1 % 1000 AS VARCHAR), '_',
        |                   chr(97 + i % 26),
        |                   CAST(h2 % 100 AS VARCHAR)) AS s
        |  FROM o)
        |SELECT i, s,
        |  regexp_extract(s, 'W([0-9]+)', 1) AS grp1,
        |  regexp_extract(s, '_([a-z])([0-9]+)', 2) AS grp2,
        |  regexp_extract(s, 'W[0-9]+') AS grp0,
        |  regexp_extract(s, 'Q([0-9]{9})', 1) AS nomatch,
        |  regexp_replace(s, '[0-9]+', '#') AS repl_all,
        |  regexp_replace(s, '[0-9]+') AS repl_rm,
        |  array_join(regexp_extract_all(s, '[A-Za-z]+'), '|') AS all0,
        |  s RLIKE '^W[0-9]+_[a-z]' AS is_match,
        |  s RLIKE '[13579]$' AS odd_tail,
        |  array_join(regexp_extract_all(s, '[0-9]+', 0), '|') AS all_nums,
        |  CAST(size(regexp_split(s, '[0-9]+')) AS BIGINT) AS n_splits,
        |  s LIKE 'W%' AS like_pfx,
        |  s LIKE '%a_%' AS like_one_after_a
        |FROM t ORDER BY i""".stripMargin) }
    },

    // ── Crypto/binary: digest and codec wiring over generated subjects
    // (incl. a CJK char — digests run over UTF-8 bytes on both engines,
    // so multi-byte encoding is part of what's compared; hex case is
    // neutralized via lower() since Spark upper-cases hex digits) ──
    q("fuzz_hash_parity",
      duckOperands + """, t AS (
        |  SELECT i,
        |    concat('doc-', CAST(h1 % 100000 AS VARCHAR), '-',
        |           chr(CAST(97 + i % 26 AS INTEGER)),
        |           chr(CAST(19968 + h2 % 50 AS INTEGER))) AS s
        |  FROM o)
        |SELECT i, s,
        |  md5(s) AS d_md5,
        |  sha256(s) AS d_sha256,
        |  to_base64(encode(s)) AS b64,
        |  decode(from_base64(to_base64(encode(s)))) = s AS b64_roundtrip,
        |  lower(hex(s)) AS hx,
        |  md5(concat(s, s)) AS d_md5_double
        |FROM t ORDER BY i""".stripMargin) { (s, _) =>
      s.sql(sparkOperands + """, t AS (
        |  SELECT i,
        |    concat('doc-', CAST(h1 % 100000 AS STRING), '-',
        |           chr(97 + i % 26), chr(19968 + h2 % 50)) AS s
        |  FROM o)
        |SELECT i, s,
        |  lower(to_hex(md5(to_utf8(s)))) AS d_md5,
        |  lower(to_hex(sha256(to_utf8(s)))) AS d_sha256,
        |  to_base64(to_utf8(s)) AS b64,
        |  from_utf8(from_base64(to_base64(to_utf8(s)))) = s AS b64_roundtrip,
        |  lower(to_hex(to_utf8(s))) AS hx,
        |  lower(to_hex(md5(to_utf8(concat(s, s))))) AS d_md5_double
        |FROM t ORDER BY i""".stripMargin)
    },

    // ── VARBINARY family under operand sweep (round 12; reference
    // VarbinaryFunctions.java): big-endian integer codecs, IEEE-754
    // codecs, byte-wise substr/lpad/rpad/length, and hex round-trips.
    // DuckDB has none of the *_endian/*_ieee754 functions, so the
    // oracle builds the expected HEX TEXT arithmetically — nibble k of
    // the two's-complement value via arithmetic shift-and-mask (DuckDB
    // `>>` sign-extends like Java), joined 15..0. IEEE-754 bit patterns
    // avoid float introspection entirely: the operand is constructed as
    // 2^20 + m20 (m20 < 2^20), so the exponent field is pinned at
    // 1023+20 (double) / 127+20 (float) and the mantissa field is
    // exactly m20<<32 / m20<<3 — the expected pattern is pure integer
    // arithmetic, with the sign bit added as +8 on the top nibble.
    // Extreme rows i=0..3 pin Long.MinValue/MaxValue/-1/0. Byte-wise
    // ops run on ASCII payloads so DuckDB's character-based
    // substr/lpad/rpad + hex(VARCHAR) are byte-exact oracles; length
    // runs on a CJK-bearing string against octet_length(encode(..)). ──
    q("fuzz_binary_parity",
      duckOperands + """, t AS (
        |  SELECT i, h1, h2,
        |    CASE WHEN i = 0 THEN -9223372036854775807 - 1
        |         WHEN i = 1 THEN 9223372036854775807
        |         WHEN i = 2 THEN -1
        |         WHEN i = 3 THEN 0
        |         ELSE h1 * 2097152 + h2 - 1125899906842624 END AS v,
        |    h1 % 1048576 AS m20,
        |    concat('binary-payload-', CAST(h1 AS VARCHAR), '-', CAST(h2 AS VARCHAR)) AS s,
        |    concat('bp', CAST(h2 % 100 AS VARCHAR)) AS s2
        |  FROM o),
        |u AS (
        |  SELECT i, h2, v, m20, s, s2,
        |    v % 2147483648 AS v32,
        |    1043 * 4503599627370496 + m20 * 4294967296 AS bd,
        |    147 * 8388608 + m20 * 8 AS bf
        |  FROM t)
        |SELECT i,
        |  array_to_string(list_transform(range(15,-1,-1), k ->
        |    substr('0123456789ABCDEF', CAST(((v >> (k*4)) & 15) AS INTEGER)+1, 1)), '') AS be64,
        |  v AS rt64,
        |  array_to_string(list_transform(range(7,-1,-1), k ->
        |    substr('0123456789ABCDEF', CAST(((v32 >> (k*4)) & 15) AS INTEGER)+1, 1)), '') AS be32,
        |  v32 AS rt32,
        |  concat(substr('0123456789ABCDEF', CAST(((bd >> 60) & 15) + 8*(i % 2) AS INTEGER)+1, 1),
        |         array_to_string(list_transform(range(14,-1,-1), k ->
        |           substr('0123456789ABCDEF', CAST(((bd >> (k*4)) & 15) AS INTEGER)+1, 1)), '')) AS ie64,
        |  (1048576 + m20) * (CASE WHEN i % 2 = 1 THEN -1.0 ELSE 1.0 END) AS rt_ie64,
        |  array_to_string(list_transform(range(7,-1,-1), k ->
        |    substr('0123456789ABCDEF', CAST(((bf >> (k*4)) & 15) AS INTEGER)+1, 1)), '') AS ie32,
        |  CAST(1048576 + m20 AS DOUBLE) AS rt_ie32,
        |  upper(hex(substr(s, i % 10 + 1, i % 5 + 2))) AS bsub,
        |  upper(hex(substr(s, -(i % 8 + 2)))) AS bsub_neg,
        |  upper(hex(lpad(s2, CAST(i % 9 + 1 AS INTEGER), 'xy'))) AS blpad,
        |  upper(hex(rpad(s2, CAST(i % 9 + 1 AS INTEGER), 'xy'))) AS brpad,
        |  upper(hex(s2)) AS fh_rt,
        |  replace(replace(to_base64(encode(s)), '+', '-'), '/', '_') AS b64u,
        |  CAST(octet_length(encode(concat(s2, chr(CAST(19968 + h2 % 50 AS INTEGER))))) AS BIGINT) AS blen
        |FROM u ORDER BY i""".stripMargin) { (s, _) =>
      s.sql(sparkOperands + """, t AS (
        |  SELECT i, h1, h2,
        |    CASE WHEN i = 0 THEN -9223372036854775807 - 1
        |         WHEN i = 1 THEN 9223372036854775807
        |         WHEN i = 2 THEN -1
        |         WHEN i = 3 THEN 0
        |         ELSE h1 * 2097152 + h2 - 1125899906842624 END AS v,
        |    h1 % 1048576 AS m20,
        |    concat('binary-payload-', CAST(h1 AS STRING), '-', CAST(h2 AS STRING)) AS s,
        |    concat('bp', CAST(h2 % 100 AS STRING)) AS s2
        |  FROM o),
        |u AS (
        |  SELECT i, h2, v, m20, s, s2,
        |    CAST(v % 2147483648 AS INT) AS v32,
        |    CAST(1048576 + m20 AS DOUBLE) * (CASE WHEN i % 2 = 1 THEN -1.0 ELSE 1.0 END) AS d
        |  FROM t)
        |SELECT i,
        |  to_hex(to_big_endian_64(v)) AS be64,
        |  from_big_endian_64(to_big_endian_64(v)) AS rt64,
        |  to_hex(to_big_endian_32(v32)) AS be32,
        |  CAST(from_big_endian_32(to_big_endian_32(v32)) AS BIGINT) AS rt32,
        |  to_hex(to_ieee754_64(d)) AS ie64,
        |  from_ieee754_64(to_ieee754_64(d)) AS rt_ie64,
        |  to_hex(to_ieee754_32(CAST(1048576 + m20 AS FLOAT))) AS ie32,
        |  CAST(from_ieee754_32(to_ieee754_32(CAST(1048576 + m20 AS FLOAT))) AS DOUBLE) AS rt_ie32,
        |  to_hex(substr(to_utf8(s), i % 10 + 1, i % 5 + 2)) AS bsub,
        |  to_hex(substr(to_utf8(s), -(i % 8 + 2))) AS bsub_neg,
        |  to_hex(lpad(to_utf8(s2), i % 9 + 1, to_utf8('xy'))) AS blpad,
        |  to_hex(rpad(to_utf8(s2), i % 9 + 1, to_utf8('xy'))) AS brpad,
        |  to_hex(from_hex(lower(to_hex(to_utf8(s2))))) AS fh_rt,
        |  to_base64url(to_utf8(s)) AS b64u,
        |  CAST(length(to_utf8(concat(s2, chr(19968 + h2 % 50)))) AS BIGINT) AS blen
        |FROM u ORDER BY i""".stripMargin)
    },

    // ── Three-valued logic under operand sweep (round 12): AND/OR/NOT
    // over nullable booleans, NULL-propagating comparisons, IS [NOT]
    // DISTINCT FROM, IN/NOT IN with NULL members (the scalar dual of
    // the null-aware anti join), CASE fall-through on a NULL condition,
    // BETWEEN with NULL bounds, coalesce/nullif chains. The reference's
    // 3VL is ANSI (presto-spi operators); DuckDB's is too, so the SQL
    // text is IDENTICAL on both sides — any graft deviation (e.g. a
    // rewrite rule breaking null-awareness) localizes to a cell. ──
    q("fuzz_null_logic_parity",
      duckOperands + """, t AS (
        |  SELECT i,
        |    CASE h1 % 3 WHEN 0 THEN NULL WHEN 1 THEN true ELSE false END AS a,
        |    CASE h2 % 3 WHEN 0 THEN NULL WHEN 1 THEN true ELSE false END AS b,
        |    nullif(CAST(h1 % 5 AS BIGINT), 0) AS x,
        |    nullif(CAST(h2 % 5 AS BIGINT), 0) AS y
        |  FROM o)
        |SELECT i, a, b, x, y,
        |  a AND b AS conj, a OR b AS disj, NOT a AS neg,
        |  x = y AS eq, x < y AS lt,
        |  x IS DISTINCT FROM y AS idf,
        |  x IS NOT DISTINCT FROM y AS nidf,
        |  x IN (y, 7) AS in2, x NOT IN (y, 7) AS nin2,
        |  x IN (y) AS in1,
        |  CAST(CASE WHEN a THEN 1 WHEN NOT a THEN 2 ELSE 3 END AS BIGINT) AS cse,
        |  x BETWEEN y AND 50 AS btw,
        |  CAST(coalesce(x, y, -1) AS BIGINT) AS coal,
        |  nullif(x, y) AS nif,
        |  (x = y) IS NULL AS eq_unknown
        |FROM t ORDER BY i""".stripMargin) { (s, _) =>
      s.sql(sparkOperands + """, t AS (
        |  SELECT i,
        |    CASE h1 % 3 WHEN 0 THEN NULL WHEN 1 THEN true ELSE false END AS a,
        |    CASE h2 % 3 WHEN 0 THEN NULL WHEN 1 THEN true ELSE false END AS b,
        |    nullif(CAST(h1 % 5 AS BIGINT), 0) AS x,
        |    nullif(CAST(h2 % 5 AS BIGINT), 0) AS y
        |  FROM o)
        |SELECT i, a, b, x, y,
        |  a AND b AS conj, a OR b AS disj, NOT a AS neg,
        |  x = y AS eq, x < y AS lt,
        |  x IS DISTINCT FROM y AS idf,
        |  x IS NOT DISTINCT FROM y AS nidf,
        |  x IN (y, 7) AS in2, x NOT IN (y, 7) AS nin2,
        |  x IN (y) AS in1,
        |  CAST(CASE WHEN a THEN 1 WHEN NOT a THEN 2 ELSE 3 END AS BIGINT) AS cse,
        |  x BETWEEN y AND 50 AS btw,
        |  CAST(coalesce(x, y, -1) AS BIGINT) AS coal,
        |  nullif(x, y) AS nif,
        |  (x = y) IS NULL AS eq_unknown
        |FROM t ORDER BY i""".stripMargin)
    },

    // ── TRY(...) under operand sweep (round 12): the reference's TRY
    // (TryFunction / the $internal$try projection wrapper) turns
    // evaluation errors into NULL. Each column pairs a graft TRY over
    // an error-prone shape with a DuckDB oracle that computes the
    // expected value LONGHAND (CASE on the failure condition — DuckDB
    // has no TRY, only TRY_CAST): integral ÷0 and %0 (ANSI errors →
    // NULL), numeric cast of a non-numeric string, odd-length
    // from_hex, malformed json_parse, and DECIMAL overflow (emitted as
    // DOUBLE per the no-decimal-output rule). ──
    q("fuzz_try_parity",
      duckOperands + """, t AS (
        |  SELECT i, h1, h2,
        |    h1 % 97 AS a,
        |    h2 % 7 AS z,
        |    CASE WHEN i % 2 = 0 THEN CAST(h1 % 1000 AS VARCHAR)
        |         ELSE 'x' || CAST(h1 % 1000 AS VARCHAR) END AS s,
        |    CASE WHEN i % 2 = 0 THEN 'ab12' ELSE 'ab1' END AS hx,
        |    CASE WHEN i % 3 = 0 THEN '{nope'
        |         ELSE '{"k":' || CAST(h2 % 50 AS VARCHAR) || '}' END AS j
        |  FROM o)
        |SELECT i,
        |  CASE WHEN z = 0 THEN NULL ELSE a // z END AS td,
        |  CASE WHEN z = 0 THEN NULL ELSE a % z END AS tm,
        |  CASE WHEN i % 2 = 0 THEN CAST(h1 % 1000 AS BIGINT) ELSE NULL END AS tc,
        |  CASE WHEN i % 2 = 0 THEN 'AB12' ELSE NULL END AS th,
        |  CASE WHEN i % 3 = 0 THEN NULL
        |       ELSE '{"k":' || CAST(h2 % 50 AS VARCHAR) || '}' END AS tj,
        |  CASE WHEN a >= 10 THEN NULL ELSE CAST(a AS DOUBLE) * 100.5 END AS tdec,
        |  CAST(coalesce(CASE WHEN z = 0 THEN NULL ELSE a // z END, -1) AS BIGINT) AS tfb
        |FROM t ORDER BY i""".stripMargin) { (s, _) =>
      s.sql(sparkOperands + """, t AS (
        |  SELECT i, h1, h2,
        |    CAST(h1 % 97 AS BIGINT) AS a,
        |    CAST(h2 % 7 AS BIGINT) AS z,
        |    CASE WHEN i % 2 = 0 THEN CAST(h1 % 1000 AS STRING)
        |         ELSE concat('x', CAST(h1 % 1000 AS STRING)) END AS s,
        |    CASE WHEN i % 2 = 0 THEN 'ab12' ELSE 'ab1' END AS hx,
        |    CASE WHEN i % 3 = 0 THEN '{nope'
        |         ELSE concat('{"k":', CAST(h2 % 50 AS STRING), '}') END AS j
        |  FROM o)
        |SELECT i,
        |  try(a div z) AS td,
        |  try(a % z) AS tm,
        |  try(CAST(s AS BIGINT)) AS tc,
        |  to_hex(try(from_hex(hx))) AS th,
        |  try(json_parse(j)) AS tj,
        |  CAST(try(CAST(a * 100.5 AS DECIMAL(4, 1))) AS DOUBLE) AS tdec,
        |  coalesce(try(a div z), -1) AS tfb
        |FROM t ORDER BY i""".stripMargin)
    },

    // ── URL family: construct-then-extract ground truth ──
    // URLs are ASSEMBLED from LCG components (scheme/host/port/path/
    // query/fragment, each optionally absent on a deterministic cycle),
    // identically on both sides; the engine then parses them back with
    // url_extract_* while the oracle never parses — it projects the
    // expected part straight from the components. That makes the oracle
    // exact by construction for precisely the semantics the reference
    // defines through java.net.URI (UrlFunctions.java:43): absent port/
    // query/fragment → NULL, path of a bare authority → '', missing
    // parameter → NULL. url_encode's form-encoding is checked the same
    // way (expected text assembled from pre-encoded pieces) plus a
    // decode(encode(s)) = s roundtrip.
    q("fuzz_url_parity",
      duckOperands + """, t AS (
        |  SELECT i, h1, h2,
        |    CASE i % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'https' ELSE 'ftp' END AS scheme,
        |    'host' || CAST(h1 % 100 AS VARCHAR) || '.example.com' AS host,
        |    80 + h2 % 1000 AS port,
        |    i % 2 = 0 AS has_port,
        |    '/p' || CAST(i AS VARCHAR) || '/x' AS pth,
        |    i % 3 <> 1 AS has_q,
        |    'k1=v' || CAST(h1 % 50 AS VARCHAR) || '&k2=w' || CAST(h2 % 50 AS VARCHAR) AS qry,
        |    i % 5 <> 2 AS has_f,
        |    'frag' || CAST(h2 % 10 AS VARCHAR) AS frag
        |  FROM o),
        |u AS (
        |  SELECT *,
        |    scheme || '://' || host ||
        |    CASE WHEN has_port THEN ':' || CAST(port AS VARCHAR) ELSE '' END ||
        |    pth ||
        |    CASE WHEN has_q THEN '?' || qry ELSE '' END ||
        |    CASE WHEN has_f THEN '#' || frag ELSE '' END AS url
        |  FROM t)
        |SELECT i, url,
        |  scheme AS proto,
        |  host AS hst,
        |  CASE WHEN has_port THEN CAST(port AS BIGINT) ELSE CAST(NULL AS BIGINT) END AS prt,
        |  pth AS path,
        |  CASE WHEN has_q THEN qry ELSE CAST(NULL AS VARCHAR) END AS query,
        |  CASE WHEN has_f THEN frag ELSE CAST(NULL AS VARCHAR) END AS fragment,
        |  CASE WHEN has_q THEN 'v' || CAST(h1 % 50 AS VARCHAR) ELSE CAST(NULL AS VARCHAR) END AS p_k1,
        |  CAST(NULL AS VARCHAR) AS p_missing,
        |  'v+' || CAST(h1 % 100 AS VARCHAR) || '%26x%3D' || CAST(h2 % 10 AS VARCHAR) AS enc,
        |  TRUE AS dec_rt
        |FROM u ORDER BY i""".stripMargin) { (s, _) =>
      s.sql(sparkOperands + """, t AS (
        |  SELECT i, h1, h2,
        |    CASE CAST(i % 3 AS INT) WHEN 0 THEN 'http' WHEN 1 THEN 'https' ELSE 'ftp' END AS scheme,
        |    'host' || CAST(h1 % 100 AS STRING) || '.example.com' AS host,
        |    80 + h2 % 1000 AS port,
        |    i % 2 = 0 AS has_port,
        |    '/p' || CAST(i AS STRING) || '/x' AS pth,
        |    i % 3 <> 1 AS has_q,
        |    'k1=v' || CAST(h1 % 50 AS STRING) || '&k2=w' || CAST(h2 % 50 AS STRING) AS qry,
        |    i % 5 <> 2 AS has_f,
        |    'frag' || CAST(h2 % 10 AS STRING) AS frag
        |  FROM o),
        |u AS (
        |  SELECT *,
        |    scheme || '://' || host ||
        |    CASE WHEN has_port THEN ':' || CAST(port AS STRING) ELSE '' END ||
        |    pth ||
        |    CASE WHEN has_q THEN '?' || qry ELSE '' END ||
        |    CASE WHEN has_f THEN '#' || frag ELSE '' END AS url
        |  FROM t)
        |SELECT i, url,
        |  url_extract_protocol(url) AS proto,
        |  url_extract_host(url) AS hst,
        |  url_extract_port(url) AS prt,
        |  url_extract_path(url) AS path,
        |  url_extract_query(url) AS query,
        |  url_extract_fragment(url) AS fragment,
        |  url_extract_parameter(url, 'k1') AS p_k1,
        |  url_extract_parameter(url, 'nokey') AS p_missing,
        |  url_encode('v ' || CAST(h1 % 100 AS STRING) || '&x=' || CAST(h2 % 10 AS STRING)) AS enc,
        |  url_decode(url_encode('v ' || CAST(h1 % 100 AS STRING) || '&x=' || CAST(h2 % 10 AS STRING)))
        |    = 'v ' || CAST(h1 % 100 AS STRING) || '&x=' || CAST(h2 % 10 AS STRING) AS dec_rt
        |FROM u ORDER BY i""".stripMargin)
    },

    // ── bitwise family: full-width 64-bit operands (negatives included)
    // across and/or/xor/not, the three reference shifts (3-arg forms with
    // random bits ∈ 2..64) and both bit_count arities ──
    // The reference computes the sub-64 shift mask through double pow
    // (`(long) (Math.pow(2, bits) - 1)`, BitwiseFunctions.java:101,123):
    // for bits ∈ 54..62 that rounds UP to 2^bits — a single high bit, not
    // bits ones — and at 63 saturates to Long.MaxValue. The engine
    // reproduces the quirk bug-for-bug (GraftFnUtils.shiftLeft3) and the
    // oracle replays the identical double arithmetic (`qmask`), while
    // bit_count's mask is exact (`(1L << bits) - 1` in the reference, so
    // `emask` here); bit_count operands are pre-reduced mod 2^(bits-1) so
    // every row stays inside the reference's representability check
    // (error paths are pinned in FnSpec, not fuzzed). DuckDB has no
    // wraparound `<<` (it range-errors), so the oracle shifts through
    // unsigned HUGEINT arithmetic: u64(num) * 2^s mod 2^64, mapped back
    // to two's-complement BIGINT.
    q("fuzz_bitwise_parity",
      duckOperands + """, t AS (
        |  SELECT i, h1, h2,
        |    h1 * 4294967296 + h2 - 4611686018427387904 AS num,
        |    h2 % 64 AS s,
        |    CASE WHEN i % 3 = 0 THEN 64 ELSE 2 + h1 % 63 END AS b
        |  FROM o),
        |t2 AS (
        |  SELECT *,
        |    CASE WHEN b = 64 THEN num
        |         ELSE num % CAST(power(2, b - 1) AS BIGINT) END AS num2,
        |    CASE WHEN b = 63 THEN 9223372036854775807
        |         WHEN b = 64 THEN -1
        |         ELSE CAST(power(2, b) - 1 AS BIGINT) END AS qmask,
        |    CASE WHEN b = 63 THEN 9223372036854775807
        |         WHEN b = 64 THEN -1
        |         ELSE CAST(power(2, b) AS BIGINT) - 1 END AS emask,
        |    CAST(power(2, s) AS HUGEINT) AS p2s,
        |    CAST(num AS HUGEINT) + CASE WHEN num < 0
        |      THEN CAST(18446744073709551616 AS HUGEINT)
        |      ELSE CAST(0 AS HUGEINT) END AS unum
        |  FROM t),
        |r AS (
        |  SELECT *,
        |    (unum * p2s) % CAST(18446744073709551616 AS HUGEINT) AS shlraw,
        |    (CASE WHEN b = 64 THEN unum
        |          ELSE CAST(num & qmask AS HUGEINT) END) // p2s AS lshrraw
        |  FROM t2)
        |SELECT i,
        |  CAST(num & h2 AS BIGINT) AS band,
        |  CAST(num | h2 AS BIGINT) AS bor,
        |  CAST(xor(num, h2) AS BIGINT) AS bxor,
        |  CAST(~num AS BIGINT) AS bnot,
        |  CAST(num >> s AS BIGINT) AS ashr,
        |  CAST(CASE WHEN shlraw >= CAST(9223372036854775808 AS HUGEINT)
        |            THEN shlraw - CAST(18446744073709551616 AS HUGEINT)
        |            ELSE shlraw END AS BIGINT) & qmask AS shl,
        |  CAST(CASE WHEN lshrraw >= CAST(9223372036854775808 AS HUGEINT)
        |            THEN lshrraw - CAST(18446744073709551616 AS HUGEINT)
        |            ELSE lshrraw END AS BIGINT) AS lshr,
        |  CAST(bit_count(num2 & emask) AS BIGINT) AS bc,
        |  CAST(bit_count(num) AS BIGINT) AS bc64,
        |  CAST(bit_count(num) AS BIGINT) AS pc1
        |FROM r ORDER BY i""".stripMargin) { (s, _) =>
      s.sql(sparkOperands + """, t AS (
        |  SELECT i, h1, h2,
        |    h1 * 4294967296 + h2 - 4611686018427387904 AS num,
        |    h2 % 64 AS s,
        |    CASE WHEN i % 3 = 0 THEN 64 ELSE 2 + h1 % 63 END AS b
        |  FROM o),
        |t2 AS (
        |  SELECT *, CASE WHEN b = 64 THEN num
        |                 ELSE num % CAST(power(2, b - 1) AS BIGINT) END AS num2
        |  FROM t)
        |SELECT i,
        |  bitwise_and(num, h2) AS band,
        |  bitwise_or(num, h2) AS bor,
        |  bitwise_xor(num, h2) AS bxor,
        |  bitwise_not(num) AS bnot,
        |  bitwise_arithmetic_shift_right(num, s) AS ashr,
        |  bitwise_shift_left(num, s, b) AS shl,
        |  bitwise_logical_shift_right(num, s, b) AS lshr,
        |  bit_count(num2, b) AS bc,
        |  bit_count(num, 64) AS bc64,
        |  CAST(bit_count(num) AS BIGINT) AS pc1
        |FROM t2 ORDER BY i""".stripMargin)
    },

    // ── DECIMAL arithmetic: exact fixed-point add/sub/mul across
    // operand sweeps, half-up rounding at forced .XX50 boundaries ──
    // Operands derive EXACTLY (integer × 0.0001 — a widening multiply,
    // no rounding anywhere), and every compared column is EXACT on both
    // engines: products are multiples of 1e-8 carried at scale 16, and
    // rescaling goes through round() exclusively (both engines round
    // half-up/away-from-zero there). A narrowing CAST would diverge —
    // the engine rounds HALF_UP per the reference (DecimalCasts.java,
    // UnscaledDecimal128Arithmetic rescale) while DuckDB TRUNCATES
    // toward zero (probed: CAST(1.016 AS DECIMAL(10,2)) → 1.01;
    // CAST(2.5 AS DECIMAL(10,0)) → 2) — so no narrowing cast appears on
    // either side; FnSpec pins the engine's HALF_UP literals where the
    // dialect divergence belongs.
    //
    // COMPARED-COLUMN REPRESENTATION (the round-10 driver red): every
    // output is the UNSCALED integer (value × 10^scale) CAST to BIGINT —
    // no DecimalType ever reaches the result parquet. The driver reads
    // the Spark result via pyarrow (DECIMAL → decimal.Decimal objects)
    // but fetches the DuckDB oracle as float64, so a decimal OUTPUT
    // column hash-mismatches on representation even when every value is
    // numerically identical (r10: rows/schema green, hash red, zero
    // actual divergence). Unscaling loses nothing — equality of unscaled
    // integers IS equality of the exact decimals. All unscale multiplies
    // are widening (precision p+q+1 ≤ 38 everywhere, checked per column
    // below) so neither engine rounds, and the final integral-valued
    // CAST to BIGINT is exact regardless of either engine's fractional
    // cast semantics. The scale-16 product splits into floor + fractional
    // parts (frac × 10^16 < 10^16 fits BIGINT; a single unscaled product
    // could reach 10^19 and overflow).
    //
    // DuckDB storage note: the oracle widens one multiplicand to
    // DECIMAL(19,8) — width ≤ 18 multiplies run in int64 there and
    // overflow; 19+18 = 37 ≤ 38 keeps the int128 product EXACT with no
    // scale reduction. ~1% of rows land on exact .XX50 boundaries, so
    // round()'s away-from-zero tie rule is genuinely exercised,
    // negatives included.
    q("fuzz_decimal_parity",
      duckOperands + """, t AS (
        |  SELECT i,
        |    CAST(CAST(h1 % 1000000 AS DECIMAL(24,4)) * CAST(0.0001 AS DECIMAL(6,4)) AS DECIMAL(18,8)) AS a,
        |    CAST((CAST(h2 % 200000 AS DECIMAL(24,4)) - 100000) * CAST(0.0001 AS DECIMAL(6,4)) AS DECIMAL(18,8)) AS b
        |  FROM o),
        |m AS (
        |  SELECT i, a, b,
        |    CAST(a AS DECIMAL(19,8)) AS a19,
        |    CAST(b AS DECIMAL(19,8)) AS b19,
        |    CAST(CAST(a AS DECIMAL(19,8)) * b AS DECIMAL(20,16)) AS mul
        |  FROM t)
        |SELECT i,
        |  CAST(a19 * CAST(100000000 AS DECIMAL(9,0)) AS BIGINT) AS ua,
        |  CAST(b19 * CAST(100000000 AS DECIMAL(9,0)) AS BIGINT) AS ub,
        |  CAST((a19 + b19) * CAST(100000000 AS DECIMAL(9,0)) AS BIGINT) AS uadd,
        |  CAST((a19 - b19) * CAST(100000000 AS DECIMAL(9,0)) AS BIGINT) AS usub,
        |  CAST(floor(mul) AS BIGINT) AS mul_i,
        |  CAST(CAST(mul - CAST(floor(mul) AS DECIMAL(4,0)) AS DECIMAL(19,16))
        |       * CAST(10000000000000000 AS DECIMAL(17,0)) AS BIGINT) AS mul_f,
        |  CAST(CAST(round(a, 2) AS DECIMAL(19,2)) * CAST(100 AS DECIMAL(3,0)) AS BIGINT) AS urnd_a,
        |  CAST(CAST(round(b, 2) AS DECIMAL(19,2)) * CAST(100 AS DECIMAL(3,0)) AS BIGINT) AS urnd_b,
        |  CAST(abs(b19) * CAST(100000000 AS DECIMAL(9,0)) AS BIGINT) AS uabs_b,
        |  CAST(greatest(a19, b19) * CAST(100000000 AS DECIMAL(9,0)) AS BIGINT) AS ugst,
        |  a > b AS a_gt_b,
        |  b < 0 AS b_neg
        |FROM m ORDER BY i""".stripMargin) { (s, _) =>
      s.sql(sparkOperands + """, t AS (
        |  SELECT i,
        |    CAST(CAST(h1 % 1000000 AS DECIMAL(24,4)) * CAST(0.0001 AS DECIMAL(6,4)) AS DECIMAL(18,8)) AS a,
        |    CAST((CAST(h2 % 200000 AS DECIMAL(24,4)) - 100000) * CAST(0.0001 AS DECIMAL(6,4)) AS DECIMAL(18,8)) AS b
        |  FROM o),
        |m AS (
        |  SELECT i, a, b,
        |    CAST(a * b AS DECIMAL(20,16)) AS mul
        |  FROM t)
        |SELECT i,
        |  CAST(a * CAST(100000000 AS DECIMAL(9,0)) AS BIGINT) AS ua,
        |  CAST(b * CAST(100000000 AS DECIMAL(9,0)) AS BIGINT) AS ub,
        |  CAST((a + b) * CAST(100000000 AS DECIMAL(9,0)) AS BIGINT) AS uadd,
        |  CAST((a - b) * CAST(100000000 AS DECIMAL(9,0)) AS BIGINT) AS usub,
        |  CAST(floor(mul) AS BIGINT) AS mul_i,
        |  CAST(CAST(mul - CAST(floor(mul) AS DECIMAL(4,0)) AS DECIMAL(17,16))
        |       * CAST(10000000000000000 AS DECIMAL(17,0)) AS BIGINT) AS mul_f,
        |  CAST(round(a, 2) * CAST(100 AS DECIMAL(3,0)) AS BIGINT) AS urnd_a,
        |  CAST(round(b, 2) * CAST(100 AS DECIMAL(3,0)) AS BIGINT) AS urnd_b,
        |  CAST(abs(b) * CAST(100000000 AS DECIMAL(9,0)) AS BIGINT) AS uabs_b,
        |  CAST(greatest(a, b) * CAST(100000000 AS DECIMAL(9,0)) AS BIGINT) AS ugst,
        |  a > b AS a_gt_b,
        |  b < 0 AS b_neg
        |FROM m ORDER BY i""".stripMargin)
    },

    // ── CAST surface: string↔number/date/timestamp/bool conversions
    // across operand sweeps — the dialect family this round's decimal
    // find proved divergence-prone. Compared columns restrict to the
    // behaviors all engines define identically: ANSI string→integral
    // with whitespace trim, exact decimal/exponent string→double
    // (correctly-rounded strtod on both), ISO date/timestamp parse +
    // round-trip, int→bool (nonzero = true) and 'true'/'false'/'1'/'0'
    // string→bool, bool→string, and round-then-cast for doubles.
    // DELIBERATELY EXCLUDED (probed, three-way divergent — pinned in
    // FnSpec instead): raw double→BIGINT cast rounds HALF_EVEN in
    // DuckDB (2.5→2, 3.5→4), TRUNCATES in Spark (2.5→2, 2.6→2), and
    // rounds HALF_UP in the reference (DoubleOperators.castToLong,
    // DoubleMath.roundToLong HALF_UP); double→string formatting
    // (e-notation thresholds differ). ──
    q("fuzz_cast_parity",
      duckOperands + """, t AS (
        |  SELECT i, h1, h2, x, n, m,
        |    CAST(h1 % 100000 - 50000 AS VARCHAR) AS s_int,
        |    concat(CAST(h1 % 1000 AS VARCHAR), '.', CAST(h2 % 10000 AS VARCHAR)) AS s_dec,
        |    concat(CAST(n AS VARCHAR), 'e', CAST(m % 5 AS VARCHAR)) AS s_exp,
        |    concat(CAST(1990 + h1 % 60 AS VARCHAR), '-',
        |           lpad(CAST(1 + h2 % 12 AS VARCHAR), 2, '0'), '-',
        |           lpad(CAST(1 + h1 % 28 AS VARCHAR), 2, '0')) AS s_date,
        |    CASE WHEN h1 % 4 = 0 THEN 'true' WHEN h1 % 4 = 1 THEN 'false'
        |         WHEN h1 % 4 = 2 THEN '1' ELSE '0' END AS s_bool
        |  FROM o)
        |SELECT i, s_int,
        |  CAST(s_int AS BIGINT) AS si,
        |  CAST(concat(' ', s_int, '  ') AS BIGINT) AS si_pad,
        |  CAST(s_dec AS DOUBLE) AS sd,
        |  CAST(s_exp AS DOUBLE) AS se,
        |  CAST(CAST(s_date AS DATE) AS VARCHAR) AS d_rt,
        |  CAST(epoch(CAST(concat(s_date, ' 12:34:56') AS TIMESTAMP)) AS BIGINT) AS ts_epoch,
        |  CAST(s_bool AS BOOLEAN) AS b_str,
        |  CAST(CAST(h2 % 3 AS INTEGER) AS BOOLEAN) AS b_int,
        |  CAST(CAST(s_bool AS BOOLEAN) AS VARCHAR) AS b_rt,
        |  CAST(round(x) AS BIGINT) AS ri
        |FROM t ORDER BY i""".stripMargin) { (s, _) =>
      s.sql(sparkOperands + """, t AS (
        |  SELECT i, h1, h2, x, n, m,
        |    CAST(h1 % 100000 - 50000 AS STRING) AS s_int,
        |    concat(CAST(h1 % 1000 AS STRING), '.', CAST(h2 % 10000 AS STRING)) AS s_dec,
        |    concat(CAST(n AS STRING), 'e', CAST(m % 5 AS STRING)) AS s_exp,
        |    concat(CAST(1990 + h1 % 60 AS STRING), '-',
        |           lpad(CAST(1 + h2 % 12 AS STRING), 2, '0'), '-',
        |           lpad(CAST(1 + h1 % 28 AS STRING), 2, '0')) AS s_date,
        |    CASE WHEN h1 % 4 = 0 THEN 'true' WHEN h1 % 4 = 1 THEN 'false'
        |         WHEN h1 % 4 = 2 THEN '1' ELSE '0' END AS s_bool
        |  FROM o)
        |SELECT i, s_int,
        |  CAST(s_int AS BIGINT) AS si,
        |  CAST(concat(' ', s_int, '  ') AS BIGINT) AS si_pad,
        |  CAST(s_dec AS DOUBLE) AS sd,
        |  CAST(s_exp AS DOUBLE) AS se,
        |  CAST(CAST(s_date AS DATE) AS STRING) AS d_rt,
        |  CAST(unix_timestamp(CAST(concat(s_date, ' 12:34:56') AS TIMESTAMP)) AS BIGINT) AS ts_epoch,
        |  CAST(s_bool AS BOOLEAN) AS b_str,
        |  CAST(CAST(h2 % 3 AS INT) AS BOOLEAN) AS b_int,
        |  CAST(CAST(s_bool AS BOOLEAN) AS STRING) AS b_rt,
        |  CAST(round(x) AS BIGINT) AS ri
        |FROM t ORDER BY i""".stripMargin)
    },

    // ── native TIME type under operand sweep (round 11): fn_time's
    // hand-picked literals widened to 400 rows. Construction via
    // make_time (integer seconds AND fractional micros — Spark takes
    // exact DECIMAL(8,6) seconds, DuckDB takes DOUBLE whose nearest-
    // micro rounding reproduces the same value), rendering (both
    // engines strip trailing fraction zeros — probed: '…09.100000' →
    // '…09.1', '…09.000000' → '…09'), EXTRACT fields (SECOND is the
    // integer part on both), comparisons/greatest/least, string→TIME
    // round-trip, and IN-RANGE interval arithmetic (base hour % 12 so
    // nothing crosses midnight: Spark's ANSI TIME + INTERVAL raises
    // DATETIME_OVERFLOW past 24:00 where DuckDB wraps — a documented
    // dialect edge kept out of the compared projection, pinned here in
    // the comment; MICROSECOND is not an extractable TIME field in
    // Spark, so sub-second parity rides the rendered strings). ──
    q("fuzz_time_parity",
      duckOperands + """, t AS (
        |  SELECT i,
        |    CAST(h1 % 24 AS BIGINT) AS hh, CAST(h2 % 60 AS BIGINT) AS mm,
        |    CAST((h1 + h2) % 60 AS BIGINT) AS ss,
        |    CAST(h2 % 1000000 AS BIGINT) AS us,
        |    CAST(h2 % 24 AS BIGINT) AS hh2, CAST(h1 % 60 AS BIGINT) AS mm2,
        |    CAST((h1 + 2 * h2) % 60 AS BIGINT) AS ss2,
        |    CAST(h2 % 50 - 25 AS BIGINT) AS dh,
        |    CAST(h1 % 5000 - 2500 AS BIGINT) AS dm
        |  FROM o),
        |tt AS (
        |  SELECT i, hh, mm, ss, us, dh, dm,
        |    hh * 3600 + mm * 60 + ss AS t1s,
        |    hh2 * 3600 + mm2 * 60 + ss2 AS t2s,
        |    make_time(hh, mm, CAST(ss AS DOUBLE)) AS t1,
        |    make_time(hh2, mm2, CAST(ss2 AS DOUBLE)) AS t2,
        |    make_time(hh, mm, CAST(ss AS DOUBLE) + CAST(us AS DOUBLE) / 1000000.0) AS tf,
        |    make_time(hh % 12, mm, CAST(ss AS DOUBLE)) AS tam
        |  FROM t),
        |tw AS (
        |  SELECT *,
        |    ((t1s + dh * 3600) % 86400 + 86400) % 86400 AS wa,
        |    ((t1s + dm * 60) % 86400 + 86400) % 86400 AS wm
        |  FROM tt)
        |SELECT i,
        |  CAST(t1 AS VARCHAR) AS s1,
        |  CAST(tf AS VARCHAR) AS sf,
        |  CAST(extract(hour FROM tf) AS BIGINT) AS h,
        |  CAST(extract(minute FROM tf) AS BIGINT) AS mi,
        |  CAST(extract(second FROM tf) AS BIGINT) AS sec,
        |  CAST(millisecond(tf) % 1000 AS BIGINT) AS msec,
        |  t1 < t2 AS lt, t1 > t2 AS gt,
        |  CAST(greatest(t1, t2) AS VARCHAR) AS gst,
        |  CAST(least(t1, t2) AS VARCHAR) AS lst,
        |  CAST(CAST(CAST(t1 AS VARCHAR) AS TIME) AS VARCHAR) AS rt,
        |  CAST(tam + INTERVAL 1 HOUR AS VARCHAR) AS plus_h,
        |  CAST(tam + INTERVAL 45 MINUTE AS VARCHAR) AS plus_m,
        |  CAST(make_time(CAST((wa - wa % 3600) / 3600 AS BIGINT),
        |    CAST((wa % 3600 - wa % 60) / 60 AS BIGINT),
        |    CAST(wa % 60 AS DOUBLE)) AS VARCHAR) AS da_h,
        |  CAST(make_time(CAST((wm - wm % 3600) / 3600 AS BIGINT),
        |    CAST((wm % 3600 - wm % 60) / 60 AS BIGINT),
        |    CAST(wm % 60 AS DOUBLE) + CAST(us AS DOUBLE) / 1000000.0) AS VARCHAR) AS da_m,
        |  CAST(trunc(CAST(t2s - t1s AS DOUBLE) / 60) AS BIGINT) AS dd_m,
        |  CAST(t1s - t2s AS BIGINT) AS dd_s,
        |  CAST(make_time(hh, 0, 0.0) AS VARCHAR) AS tr_h,
        |  CAST(make_time(hh, mm, 0.0) AS VARCHAR) AS tr_m
        |FROM tw ORDER BY i""".stripMargin) { (s, _) =>
      s.sql(sparkOperands + """, t AS (
        |  SELECT i,
        |    CAST(h1 % 24 AS INT) AS hh, CAST(h2 % 60 AS INT) AS mm,
        |    CAST((h1 + h2) % 60 AS INT) AS ss,
        |    CAST(h2 % 1000000 AS INT) AS us,
        |    CAST(h2 % 24 AS INT) AS hh2, CAST(h1 % 60 AS INT) AS mm2,
        |    CAST((h1 + 2 * h2) % 60 AS INT) AS ss2,
        |    CAST(h2 % 50 - 25 AS INT) AS dh,
        |    CAST(h1 % 5000 - 2500 AS INT) AS dm
        |  FROM o),
        |tt AS (
        |  SELECT i, hh, mm, ss, us, dh, dm,
        |    make_time(hh, mm, ss) AS t1,
        |    make_time(hh2, mm2, ss2) AS t2,
        |    make_time(hh, mm, CAST(CAST(ss AS DECIMAL(8,6))
        |      + CAST(us AS DECIMAL(13,6)) / 1000000 AS DECIMAL(8,6))) AS tf,
        |    make_time(hh % 12, mm, ss) AS tam
        |  FROM t)
        |SELECT i,
        |  CAST(t1 AS STRING) AS s1,
        |  CAST(tf AS STRING) AS sf,
        |  CAST(extract(hour FROM tf) AS BIGINT) AS h,
        |  CAST(extract(minute FROM tf) AS BIGINT) AS mi,
        |  CAST(extract(second FROM tf) AS BIGINT) AS sec,
        |  CAST(millisecond(tf) AS BIGINT) AS msec,
        |  t1 < t2 AS lt, t1 > t2 AS gt,
        |  CAST(greatest(t1, t2) AS STRING) AS gst,
        |  CAST(least(t1, t2) AS STRING) AS lst,
        |  CAST(CAST(CAST(t1 AS STRING) AS TIME) AS STRING) AS rt,
        |  CAST(tam + INTERVAL '1' HOUR AS STRING) AS plus_h,
        |  CAST(tam + INTERVAL '45' MINUTE AS STRING) AS plus_m,
        |  CAST(date_add('hour', dh, t1) AS STRING) AS da_h,
        |  CAST(date_add('minute', dm, tf) AS STRING) AS da_m,
        |  CAST(date_diff('minute', t1, t2) AS BIGINT) AS dd_m,
        |  CAST(date_diff('second', t2, t1) AS BIGINT) AS dd_s,
        |  CAST(date_trunc('hour', tf) AS STRING) AS tr_h,
        |  CAST(date_trunc('minute', tf) AS STRING) AS tr_m
        |FROM tt ORDER BY i""".stripMargin)
    },

    // ── MAP family under operand sweep (round 11): construction from
    // arrays, key/value order preservation, cardinality, lookup,
    // disjoint-key concat (GraftSession pins mapKeyDedupPolicy=EXCEPTION
    // — the reference also rejects duplicate map keys), and the lambda
    // surface (map_filter / transform_values), which DuckDB lacks — the
    // oracle recomputes those results through independent LIST ops over
    // the keys/values, making this a genuine second implementation of
    // the lambda semantics rather than a same-function echo. Keys are
    // banded (0-9 / 10-19 / 20-29 / 30-39) so lookups always hit and
    // concat never collides. ──
    q("fuzz_map_parity",
      duckOperands + """, t AS (
        |  SELECT i, h1, h2,
        |    map([h1 % 10, 10 + h2 % 10, 20 + (h1 + h2) % 10],
        |        ['a' || CAST(h1 % 7 AS VARCHAR), 'b' || CAST(h2 % 7 AS VARCHAR),
        |         'c' || CAST((h1 + h2) % 7 AS VARCHAR)]) AS m,
        |    map([30 + h2 % 10], ['d' || CAST(h1 % 5 AS VARCHAR)]) AS m2
        |  FROM o)
        |SELECT i,
        |  array_to_string(map_keys(m), ',') AS keys_csv,
        |  array_to_string(map_values(m), ',') AS vals_csv,
        |  CAST(cardinality(m) AS BIGINT) AS card,
        |  map_extract(m, 10 + h2 % 10)[1] AS look2,
        |  list_contains(map_keys(m), 20 + (h1 + h2) % 10) AS has3,
        |  list_contains(map_keys(m), 15) AS has_nope,
        |  array_to_string(map_keys(map_concat(m2, m)), ',') AS cat_keys,
        |  array_to_string(map_values(map_concat(m2, m)), ',') AS cat_vals,
        |  'Z' || CAST(h2 % 9 AS VARCHAR) AS cat_lastwin,
        |  array_to_string(list_filter(map_keys(m), k -> k % 2 = 0), ',') AS even_keys,
        |  array_to_string(list_transform(map_values(m), v -> v || '!'), ',') AS bang_vals
        |FROM t ORDER BY i""".stripMargin) { (s, _) =>
      withDialect(s, PrestoOperators.ConfKey) { s.sql(sparkOperands + """, t AS (
        |  SELECT i, h1, h2,
        |    map_from_arrays(
        |      array(h1 % 10, 10 + h2 % 10, 20 + (h1 + h2) % 10),
        |      array(concat('a', CAST(h1 % 7 AS STRING)), concat('b', CAST(h2 % 7 AS STRING)),
        |            concat('c', CAST((h1 + h2) % 7 AS STRING)))) AS m,
        |    map_from_arrays(array(30 + h2 % 10),
        |      array(concat('d', CAST(h1 % 5 AS STRING)))) AS m2
        |  FROM o)
        |SELECT i,
        |  array_join(map_keys(m), ',') AS keys_csv,
        |  array_join(map_values(m), ',') AS vals_csv,
        |  CAST(cardinality(m) AS BIGINT) AS card,
        |  element_at(m, 10 + h2 % 10) AS look2,
        |  map_contains_key(m, 20 + (h1 + h2) % 10) AS has3,
        |  map_contains_key(m, 15) AS has_nope,
        |  array_join(map_keys(map_concat(m, m2)), ',') AS cat_keys,
        |  array_join(map_values(map_concat(m, m2)), ',') AS cat_vals,
        |  element_at(map_concat(m, map(h1 % 10, concat('Z', CAST(h2 % 9 AS STRING)))), h1 % 10) AS cat_lastwin,
        |  array_join(map_keys(map_filter(m, (k, v) -> k % 2 = 0)), ',') AS even_keys,
        |  array_join(map_values(transform_values(m, (k, v) -> concat(v, '!'))), ',') AS bang_vals
        |FROM t ORDER BY i""".stripMargin) }
    },

    // ── ROW/struct semantics under operand sweep (round 11; reference
    // presto-spi RowType + RowComparisonOperators): construction, field
    // access, nesting, structs inside arrays, and ordered comparison —
    // lexicographic by field POSITION with the second field deciding
    // forced first-field ties (tie1/tie2 share `k`). Both engines
    // compare structs positionally; rendering casts stay out (the text
    // formats differ: DuckDB quotes keys, Spark doesn't). ──
    q("fuzz_row_parity",
      duckOperands + """, t AS (
        |  SELECT i, h1, h2,
        |    struct_pack(a := h1 % 100, b := 'v' || CAST(h2 % 50 AS VARCHAR)) AS r1,
        |    struct_pack(a := h2 % 100, b := 'v' || CAST(h1 % 50 AS VARCHAR)) AS r2,
        |    struct_pack(k := h1 % 5, x := h1 % 90) AS tie1,
        |    struct_pack(k := h1 % 5, x := h2 % 90) AS tie2
        |  FROM o)
        |SELECT i,
        |  CAST(r1.a AS BIGINT) AS fa, r1.b AS fb,
        |  r1 = r2 AS eq, r1 < r2 AS lt, r1 > r2 AS gt,
        |  tie1 < tie2 AS tie_lt, tie1 = tie2 AS tie_eq,
        |  CAST(struct_pack(o := r1).o.a AS BIGINT) AS nested_a,
        |  CAST([r1, r2][2].a AS BIGINT) AS arr_a,
        |  CAST((CASE WHEN r1 < r2 THEN r1 ELSE r2 END).a AS BIGINT) AS min_a
        |FROM t ORDER BY i""".stripMargin) { (s, _) =>
      s.sql(sparkOperands + """, t AS (
        |  SELECT i, h1, h2,
        |    named_struct('a', h1 % 100, 'b', concat('v', CAST(h2 % 50 AS STRING))) AS r1,
        |    named_struct('a', h2 % 100, 'b', concat('v', CAST(h1 % 50 AS STRING))) AS r2,
        |    named_struct('k', h1 % 5, 'x', h1 % 90) AS tie1,
        |    named_struct('k', h1 % 5, 'x', h2 % 90) AS tie2
        |  FROM o)
        |SELECT i,
        |  CAST(r1.a AS BIGINT) AS fa, r1.b AS fb,
        |  r1 = r2 AS eq, r1 < r2 AS lt, r1 > r2 AS gt,
        |  tie1 < tie2 AS tie_lt, tie1 = tie2 AS tie_eq,
        |  CAST(named_struct('o', r1).o.a AS BIGINT) AS nested_a,
        |  CAST(array(r1, r2)[1].a AS BIGINT) AS arr_a,
        |  CAST((CASE WHEN r1 < r2 THEN r1 ELSE r2 END).a AS BIGINT) AS min_a
        |FROM t ORDER BY i""".stripMargin)
    },

    // ── INTERVAL field decomposition under operand sweep (round 11;
    // exercises plans/ResolveIntervalFields — the reference's
    // *FromInterval field functions, DateTimeFunctions.java:787-1191,
    // total-millis fields with Java toward-zero division). DuckDB's own
    // interval EXTRACT disagrees by design (it keeps components
    // separate: extract(day from INTERVAL 50 HOUR) = 0 there, 2 here
    // and in the reference), so the oracle computes every expected
    // field LONGHAND from the operand integers (the construct-then-
    // derive trick of fuzz_url_parity) — DuckDB's `//` and `%` truncate
    // toward zero exactly like Java (probed: -26//12 = -2). Intervals
    // are built by exact integer multiplies of INTERVAL '0.001' SECOND
    // (no floating construction), signs included; the derived shapes
    // cover scalar multiply, interval+interval, and the
    // timestamp-subtraction interval. ──
    q("fuzz_interval_parity",
      duckOperands + """, t AS (
        |  SELECT i,
        |    h1 % 500000000 - 250000000 AS ms,
        |    CAST(h2 % 60 - 30 AS BIGINT) AS mm
        |  FROM o)
        |SELECT i,
        |  ms // 86400000 AS d,
        |  ms % 86400000 // 3600000 AS h,
        |  ms % 3600000 // 60000 AS mi,
        |  ms % 60000 // 1000 AS ss,
        |  ms % 1000 AS msf,
        |  (ms * 3) // 86400000 AS d3,
        |  (ms * 3) % 86400000 // 3600000 AS h3,
        |  (ms + 3600000) // 86400000 AS ds,
        |  (ms + 3600000) % 86400000 // 3600000 AS hs,
        |  (ms + 129600000) // 86400000 AS dt,
        |  (ms + 129600000) % 86400000 // 3600000 AS ht,
        |  mm // 12 AS yy,
        |  mm % 12 AS mo
        |FROM t ORDER BY i""".stripMargin) { (s, _) =>
      s.sql(sparkOperands + """, t AS (
        |  SELECT i,
        |    h1 % 500000000 - 250000000 AS ms,
        |    CAST(h2 % 60 - 30 AS INT) AS mm
        |  FROM o),
        |iv AS (
        |  SELECT i, ms, mm,
        |    INTERVAL '0.001' SECOND * ms AS dv,
        |    make_ym_interval(0, mm) AS yv
        |  FROM t)
        |SELECT i,
        |  day(dv) AS d,
        |  hour(dv) AS h,
        |  minute(dv) AS mi,
        |  second(dv) AS ss,
        |  millisecond(dv) AS msf,
        |  day(dv * 3) AS d3,
        |  hour(dv * 3) AS h3,
        |  day(dv + INTERVAL '1' HOUR) AS ds,
        |  hour(dv + INTERVAL '1' HOUR) AS hs,
        |  day((TIMESTAMP '2020-01-10 00:00:00' + dv) - TIMESTAMP '2020-01-08 12:00:00') AS dt,
        |  hour((TIMESTAMP '2020-01-10 00:00:00' + dv) - TIMESTAMP '2020-01-08 12:00:00') AS ht,
        |  year(yv) AS yy,
        |  month(yv) AS mo
        |FROM iv ORDER BY i""".stripMargin)
    },

    // ── Unicode: codepoint-indexed string semantics beyond ASCII ──
    // Subjects mix accented Latin-1 (case-mapped), Greek (case-mapped),
    // CJK, and an ASTRAL-plane emoji (U+1F600.. — 2 UTF-16 units, so any
    // code-unit-based length/substr/reverse implementation diverges
    // immediately; this pins the round-8 chr/codepoint astral fixes
    // under operand sweep). Both engines must be codepoint-based
    // throughout: length, substr, reverse, strpos, case mapping.
    q("fuzz_unicode_parity",
      duckOperands + """, t AS (
        |  SELECT i,
        |    chr(CAST(192 + h1 % 24 AS INTEGER)) ||
        |    chr(CAST(945 + i % 17 AS INTEGER)) ||
        |    chr(CAST(19968 + h2 % 100 AS INTEGER)) ||
        |    chr(CAST(128512 + i % 32 AS INTEGER)) AS s
        |  FROM o)
        |SELECT i, s,
        |  CAST(length(s) AS BIGINT) AS len,
        |  upper(s) AS up, lower(s) AS lo, reverse(s) AS rev,
        |  substr(s, 2, 2) AS mid,
        |  CAST(ascii(substr(s, 1, 1)) AS BIGINT) AS cp1,
        |  CAST(ascii(substr(s, 4, 1)) AS BIGINT) AS cp4,
        |  CAST(strpos(s, substr(s, 3, 1)) AS BIGINT) AS cjk_at,
        |  CAST(length(concat(s, 'x')) AS BIGINT) AS len5
        |FROM t ORDER BY i""".stripMargin) { (s, _) =>
      s.sql(sparkOperands + """, t AS (
        |  SELECT i,
        |    concat(chr(192 + h1 % 24), chr(945 + i % 17),
        |           chr(19968 + h2 % 100), chr(128512 + i % 32)) AS s
        |  FROM o)
        |SELECT i, s,
        |  CAST(length(s) AS BIGINT) AS len,
        |  upper(s) AS up, lower(s) AS lo, reverse(s) AS rev,
        |  substr(s, 2, 2) AS mid,
        |  CAST(codepoint(substr(s, 1, 1)) AS BIGINT) AS cp1,
        |  CAST(codepoint(substr(s, 4, 1)) AS BIGINT) AS cp4,
        |  CAST(strpos(s, substr(s, 3, 1)) AS BIGINT) AS cjk_at,
        |  CAST(length(concat(s, 'x')) AS BIGINT) AS len5
        |FROM t ORDER BY i""".stripMargin)
    },

    // ── JSON: Presto spellings vs DuckDB's json extension over
    // generated documents (nested object + array + per-row-varying
    // values and subscripts; missing-key → NULL on both) ──
    // Subscripts inside JSONPath are 0-based in BOTH dialects — unlike
    // SQL arrays — so the computed '$.tags[i%3]' path is shared text.
    q("fuzz_json_parity",
      duckOperands + """, t AS (
        |  SELECT i, n, m, h2,
        |    concat('{"id": ', CAST(h1 % 1000 AS VARCHAR),
        |           ', "tags": [', CAST(n AS VARCHAR), ', ', CAST(m AS VARCHAR),
        |           ', ', CAST(i % 7 AS VARCHAR),
        |           '], "meta": {"lang": "', chr(CAST(97 + i % 26 AS INTEGER)),
        |           '", "score": ', CAST(h2 % 100 AS VARCHAR), '}}') AS j
        |  FROM o)
        |SELECT i, j,
        |  json_extract_string(j, '$.id') AS id_s,
        |  json_extract_string(j, '$.tags[0]') AS tag0,
        |  json_extract_string(j, concat('$.tags[', CAST(i % 3 AS VARCHAR), ']')) AS tag_i,
        |  CAST(json_array_length(j, '$.tags') AS BIGINT) AS n_tags,
        |  json_extract_string(j, '$.meta.lang') AS lang,
        |  CAST(json_extract_string(j, '$.meta.score') AS BIGINT) AS score,
        |  json_extract_string(j, '$.missing') AS absent,
        |  concat('"', chr(CAST(97 + i % 26 AS INTEGER)), '"') AS lang_json,
        |  CAST(NULL AS VARCHAR) AS je_miss,
        |  (h2 % 50 = n OR h2 % 50 = m OR h2 % 50 = i % 7) AS has_v
        |FROM t ORDER BY i""".stripMargin) { (s, _) =>
      s.sql(sparkOperands + """, t AS (
        |  SELECT i, n, m, h2,
        |    concat('{"id": ', CAST(h1 % 1000 AS STRING),
        |           ', "tags": [', CAST(n AS STRING), ', ', CAST(m AS STRING),
        |           ', ', CAST(i % 7 AS STRING),
        |           '], "meta": {"lang": "', chr(97 + i % 26),
        |           '", "score": ', CAST(h2 % 100 AS STRING), '}}') AS j
        |  FROM o)
        |SELECT i, j,
        |  json_extract_scalar(j, '$.id') AS id_s,
        |  json_extract_scalar(j, '$.tags[0]') AS tag0,
        |  json_extract_scalar(j, concat('$.tags[', CAST(i % 3 AS STRING), ']')) AS tag_i,
        |  CAST(json_size(j, '$.tags') AS BIGINT) AS n_tags,
        |  json_extract_scalar(j, '$.meta.lang') AS lang,
        |  CAST(json_extract_scalar(j, '$.meta.score') AS BIGINT) AS score,
        |  json_extract_scalar(j, '$.missing') AS absent,
        |  json_extract(j, '$.meta.lang') AS lang_json,
        |  json_extract(j, '$.missing') AS je_miss,
        |  json_array_contains(get_json_object(j, '$.tags'), CAST(h2 % 50 AS BIGINT)) AS has_v
        |FROM t ORDER BY i""".stripMargin)
    },

    // ── JSON decode: CAST(json AS ROW/ARRAY/MAP) coercion parity under
    // operand sweep (PrestoJsonDecode, round 12 — JsonUtil.java
    // appenders). The oracle computes every expected value
    // ARITHMETICALLY (DuckDB's own json casts have different coercion
    // rules). Pins per row: positional ROW decode; by-name ROW with
    // case-fold ("A"→a), unknown-key skip, missing-field NULL;
    // string→number parse; boolean→1; double→BIGINT ties AWAY FROM
    // ZERO ("n.5" → n±1 — half-even would give the even neighbor);
    // text map keys parsed into BIGINT; DECIMAL rescale HALF_UP
    // (".25"→".3" at scale 1, emitted unscaled ×10 per the no-decimal-
    // output rule); backslash-quote, double-backslash, and unicode
    // escape unescapes (the escape is u003D for hex digit D∈1..9, and
    // U+0031..U+0039 IS the digit character, so the expected value on
    // the oracle side is just D); "true"/"false"/"1"/"0" text→boolean.
    // p = h1 % 37 + 1
    // replaces the shared m operand, which is CONSTANT (69069 ≡ 0
    // mod 23 makes h2 ≡ 99991 ≡ 10 mod 23 for every i). ──
    q("fuzz_json_decode_parity",
      duckOperands + """, t AS (
        |  SELECT i, h1, h2, n, CAST(h1 % 37 + 1 AS INT) AS p,
        |    chr(CAST(97 + i % 26 AS INTEGER)) AS L,
        |    chr(CAST(49 + i % 9 AS INTEGER)) AS D
        |  FROM o)
        |SELECT i,
        |  h1 AS a, h2 % 1000 AS b,
        |  CAST(CASE WHEN n >= 0 THEN n + 1 ELSE n - 1 END AS BIGINT) AS c,
        |  CAST(1 AS BIGINT) AS d, 's' || L AS e,
        |  h1 % 100 AS a2, h2 % 100 AS b2, CAST(p AS BIGINT) AS c2,
        |  CAST(NULL AS VARCHAR) AS z,
        |  CAST(n AS BIGINT) AS mv1, CAST(p AS BIGINT) AS mv2,
        |  'q"' || L AS e1, 'b\' || L AS e2, D AS e3,
        |  CAST(CAST(h2 % 1000 AS VARCHAR) || '.' || CAST(h1 % 10 AS VARCHAR) AS DOUBLE) AS dbl,
        |  (h1 % 2 = 1) AS b_1, true AS b_2, false AS b_3, (h2 % 2 = 1) AS b_4,
        |  CAST(p * 10 + 3 AS BIGINT) AS dec_u
        |FROM t ORDER BY i""".stripMargin) { (s, _) =>
      s.sql(sparkOperands + """, t0 AS (
        |  SELECT i, h1, h2, n, CAST(h1 % 37 + 1 AS INT) AS p,
        |    chr(97 + i % 26) AS L, chr(49 + i % 9) AS D
        |  FROM o),
        |t AS (
        |  SELECT i, h1, h2, n, p, L, D,
        |    CAST(concat('[', CAST(h1 AS STRING), ',"', CAST(h2 % 1000 AS STRING), '",',
        |                CAST(n AS STRING), '.5,true,"s', L, '"]')
        |      AS ROW(a BIGINT, b BIGINT, c BIGINT, d BIGINT, e VARCHAR)) AS r1,
        |    CAST(concat('{"A":', CAST(h1 % 100 AS STRING), ',"b":"', CAST(h2 % 100 AS STRING),
        |                '","Unknown":9,"C":', CAST(p AS STRING), '.2}')
        |      AS ROW(a BIGINT, b BIGINT, c BIGINT, z VARCHAR)) AS r2,
        |    CAST(concat('{"', CAST(h1 % 50 AS STRING), '":', CAST(n AS STRING), ',"',
        |                CAST(1000 + i AS STRING), '":"', CAST(p AS STRING), '"}')
        |      AS MAP(BIGINT, BIGINT)) AS mp,
        |    CAST(concat('["q\"', L, '","b\\', L, '","\', 'u003', D, '"]')
        |      AS ARRAY(VARCHAR)) AS esc,
        |    CAST(concat('["', CAST(h2 % 1000 AS STRING), '.', CAST(h1 % 10 AS STRING), '"]')
        |      AS ARRAY(DOUBLE)) AS darr,
        |    CAST(concat('[', CAST(h1 % 2 AS STRING), ',"true","false","', CAST(h2 % 2 AS STRING), '"]')
        |      AS ARRAY(BOOLEAN)) AS barr,
        |    CAST(concat('[', CAST(p AS STRING), '.25]') AS ARRAY(DECIMAL(10,1))) AS dec1
        |  FROM t0)
        |SELECT i,
        |  r1.a AS a, r1.b AS b, r1.c AS c, r1.d AS d, r1.e AS e,
        |  r2.a AS a2, r2.b AS b2, r2.c AS c2, r2.z AS z,
        |  element_at(mp, h1 % 50) AS mv1, element_at(mp, 1000 + i) AS mv2,
        |  element_at(esc, 1) AS e1, element_at(esc, 2) AS e2, element_at(esc, 3) AS e3,
        |  element_at(darr, 1) AS dbl,
        |  element_at(barr, 1) AS b_1, element_at(barr, 2) AS b_2,
        |  element_at(barr, 3) AS b_3, element_at(barr, 4) AS b_4,
        |  CAST(element_at(dec1, 1) * 10 AS BIGINT) AS dec_u
        |FROM t ORDER BY i""".stripMargin)
    },

    // ── window functions: 13 over 7 partitions × ~57 rows each ──
    // The order key h1 % 50 is deliberately tie-PRONE so rank vs
    // dense_rank vs row_number diverge and peer-group semantics
    // (cume_dist, RANGE frames, rank gaps) are actually exercised;
    // functions whose output depends on intra-peer order get the
    // deterministic i tiebreak. Identical ANSI text on both engines.
    {
      val winBody =
        """SELECT i, p,
          |  CAST(row_number() OVER (PARTITION BY p ORDER BY k, i) AS BIGINT) AS rn,
          |  CAST(rank() OVER (PARTITION BY p ORDER BY k) AS BIGINT) AS rk,
          |  CAST(dense_rank() OVER (PARTITION BY p ORDER BY k) AS BIGINT) AS drk,
          |  CAST(ntile(4) OVER (PARTITION BY p ORDER BY k, i) AS BIGINT) AS nt,
          |  round(percent_rank() OVER (PARTITION BY p ORDER BY k), 4) AS pr,
          |  round(cume_dist() OVER (PARTITION BY p ORDER BY k), 4) AS cd,
          |  lag(h1, 1, -1) OVER (PARTITION BY p ORDER BY k, i) AS lg,
          |  lead(h1, 2, -1) OVER (PARTITION BY p ORDER BY k, i) AS ld,
          |  CAST(sum(h1 % 100) OVER (PARTITION BY p ORDER BY k, i
          |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS s3,
          |  first_value(h1) OVER (PARTITION BY p ORDER BY k, i) AS fv,
          |  last_value(h1) OVER (PARTITION BY p ORDER BY k, i
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv,
          |  nth_value(h1, 2) OVER (PARTITION BY p ORDER BY k, i
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nv,
          |  CAST(min(h1 % 100) OVER (PARTITION BY p ORDER BY k
          |    RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS BIGINT) AS rmin
          |FROM t ORDER BY i""".stripMargin
      val derive = """, t AS (SELECT i, h1, i % 7 AS p, h1 % 50 AS k FROM o)
        |""".stripMargin
      q("fuzz_window_parity", duckOperands + derive + winBody) { (s, _) =>
        s.sql(sparkOperands + derive + winBody)
      }
    },

    // ── grouped aggregates: 17 over the same 7 partitions ──
    // Moment-based aggregates (stddev/var/corr/covar/regr) compare the
    // two engines' streaming-moment implementations across dispersed
    // operand mixes; DISTINCT variants pin distinct-under-group paths.
    {
      val aggBody =
        """SELECT p,
          |  count(*) AS cnt,
          |  CAST(count(DISTINCT h1 % 10) AS BIGINT) AS cntd,
          |  CAST(sum(h1 % 1000) AS BIGINT) AS s,
          |  CAST(sum(DISTINCT m) AS BIGINT) AS sd,
          |  round(avg(x), 4) AS mean_x,
          |  CAST(min(n) AS BIGINT) AS mn,
          |  CAST(max(n) AS BIGINT) AS mx,
          |  round(stddev_samp(x), 4) AS sds,
          |  round(stddev_pop(x), 4) AS sdp,
          |  round(var_samp(y), 4) AS vs,
          |  round(var_pop(y), 4) AS vp,
          |  round(corr(x, y), 4) AS cxy,
          |  round(covar_samp(x, y), 4) AS cvs,
          |  round(covar_pop(x, y), 4) AS cvp,
          |  round(regr_slope(y, x), 6) AS slope,
          |  round(regr_intercept(y, x), 4) AS icept,
          |  bool_and(m > 0) AS all_pos,
          |  bool_or(n > 40) AS any_big
          |FROM t GROUP BY p ORDER BY p""".stripMargin
      val derive = """, t AS (SELECT i % 7 AS p, h1, m, n, x, y FROM o)
        |""".stripMargin
      q("fuzz_agg_parity", duckOperands + derive + aggBody) { (s, _) =>
        s.sql(sparkOperands + derive + aggBody)
      }
    },

    // ── sweep 20: zoned TIMESTAMP WITH TIME ZONE parity vs DuckDB's
    // native instant-based TIMESTAMPTZ (round 12 — extends the six
    // dialect_ztz_* rows to operand-grid density). Construction is
    // INSTANT-based (at_timezone over a UTC epoch; DuckDB to_timestamp),
    // so rows INSIDE DST gaps/overlaps are unambiguous on both engines —
    // unlike wall-based with_timezone, whose gap handling is pinned
    // separately in dialect_ztz_dst. Two of every three rows cluster
    // ±2 h around ten real transition instants (NY/Berlin spring+fall
    // 2026, Lord Howe Oct-2025/Apr-2026 — a HALF-HOUR dst delta —
    // Chatham 2025/2026 at +12:45/+13:45, St. John's at -03:30), the
    // rest spread 1990–2028; zones include the +05:45/+08:45/+14:00
    // fixed oddities. Every wall-observing field, both offset fields,
    // rendering (CAST + to_iso8601), wall-truncation, exact-duration
    // interval arithmetic ACROSS the transitions, instant-preserving
    // re-zoning, and cross-zone instant comparison with mixed outcomes
    // (shift ∈ {-1,0,+1} s) are compared per row. Millis are eighths
    // (k·125 ms) so the epoch doubles are binary-exact on both engines.
    // Reference semantics: TimestampWithTimeZoneType.java (instant
    // compare/hash), DateTimeFunctions.java unpackChronology (wall
    // fields), DateTimeOperators.java (exact-duration interval add).
    // Oracle notes: DuckDB millisecond() includes seconds·1000 (hence
    // % 1000), and its naive-wall date_trunc is round-tripped through
    // the zone (timezone(z, timezone(z, …))) so a truncation target
    // INSIDE a DST gap — real on the grid: trunc-hour of the first
    // post-transition hour in Chatham lands on the nonexistent 03:00 —
    // resolves forward exactly like the engine's wall re-anchoring
    // (Java and ICU agree on gap-forward resolution; probed).
    {
      val zones = "'UTC','America/New_York','Europe/Berlin','Asia/Tokyo'," +
        "'Asia/Kathmandu','Australia/Eucla','Australia/Lord_Howe'," +
        "'Pacific/Chatham','America/St_Johns','Pacific/Kiritimati'"
      val transitions = "1772953200, 1793512800, 1774746000, 1792890000, " +
        "1759591800, 1775314800, 1758981600, 1775311200, 1772947800, 1793507400"
      val zN = 600
      q("fuzz_ztz_parity",
        s"""WITH g AS (
           |  SELECT i,
           |    (i * 1103515245 + 12345) % 2147483648 AS h1,
           |    (i * 69069 + 99991) % 2147483648 AS h2
           |  FROM range(0, $zN) t(i)
           |), o AS (
           |  SELECT i, h1, h2,
           |    ([$zones])[CAST(i % 10 AS INTEGER) + 1] AS zone,
           |    ([$zones])[CAST((i + 3) % 10 AS INTEGER) + 1] AS zone2,
           |    CAST(CASE WHEN i % 3 = 0
           |      THEN 631152000 + (h1 * 37) % 1200000000
           |      ELSE ([$transitions])[CAST(h1 % 10 AS INTEGER) + 1]
           |        + (h2 % 14400) - 7200 END AS DOUBLE)
           |      + CAST(h2 % 8 AS DOUBLE) * 0.125 AS es,
           |    CAST(h2 % 3 AS INTEGER) - 1 AS shift
           |  FROM g
           |), z AS (
           |  SELECT i, zone, zone2, es, shift,
           |    to_timestamp(es) AS tstz,
           |    timezone(zone, to_timestamp(es)) AS wall
           |  FROM o
           |), w AS (
           |  SELECT i, zone, zone2, es, shift, tstz, wall,
           |    CAST(round(epoch(wall) - es) AS BIGINT) AS off,
           |    timezone(zone2, tstz) AS wall2,
           |    timezone(zone, tstz + INTERVAL 90 MINUTE) AS wall90
           |  FROM z
           |)
           |SELECT i,
           |  strftime(wall, '%Y-%m-%d %H:%M:%S.%g') || ' ' || zone AS render,
           |  strftime(wall, '%Y-%m-%dT%H:%M:%S.%g') ||
           |    CASE WHEN off = 0 THEN 'Z' ELSE
           |      (CASE WHEN off < 0 THEN '-' ELSE '+' END ||
           |       lpad(CAST(CAST((abs(off) - (abs(off) % 3600)) / 3600 AS BIGINT) AS VARCHAR), 2, '0') || ':' ||
           |       lpad(CAST(CAST((abs(off) % 3600) / 60 AS BIGINT) AS VARCHAR), 2, '0')) END AS iso,
           |  CAST(hour(wall) AS BIGINT) AS hr,
           |  CAST(minute(wall) AS BIGINT) AS mi,
           |  CAST(second(wall) AS BIGINT) AS sec,
           |  CAST(millisecond(wall) % 1000 AS BIGINT) AS ms,
           |  CAST(day(wall) AS BIGINT) AS dy,
           |  CAST(month(wall) AS BIGINT) AS mo,
           |  CAST(year(wall) AS BIGINT) AS yr,
           |  CAST(quarter(wall) AS BIGINT) AS qtr,
           |  CAST(isodow(wall) AS BIGINT) AS dow,
           |  CAST(dayofyear(wall) AS BIGINT) AS doy,
           |  CAST(weekofyear(wall) AS BIGINT) AS wk,
           |  CAST(isoyear(wall) AS BIGINT) AS yow,
           |  CAST(CAST((off - (off % 3600)) / 3600 AS BIGINT) AS BIGINT) AS tzh,
           |  CAST(CAST((off % 3600) / 60 AS BIGINT) AS BIGINT) AS tzm,
           |  CAST(es * 1000 AS BIGINT) AS unix_ms,
           |  strftime(timezone(zone, timezone(zone, date_trunc('day', wall))), '%Y-%m-%d %H:%M:%S.%g') || ' ' || zone AS trunc_day,
           |  strftime(timezone(zone, timezone(zone, date_trunc('hour', wall))), '%Y-%m-%d %H:%M:%S.%g') || ' ' || zone AS trunc_hour,
           |  strftime(timezone(zone, timezone(zone, date_trunc('week', wall))), '%Y-%m-%d %H:%M:%S.%g') || ' ' || zone AS trunc_week,
           |  strftime(wall90, '%Y-%m-%d %H:%M:%S.%g') || ' ' || zone AS plus90m,
           |  strftime(wall2, '%Y-%m-%d %H:%M:%S.%g') || ' ' || zone2 AS rezone,
           |  shift = 0 AS eq_shift,
           |  shift > 0 AS lt_shift
           |FROM w ORDER BY i""".stripMargin) { (s, _) =>
        withDialect(s, ZonedTimestamps.ConfKey)(s.sql(
          s"""WITH g AS (
             |  SELECT id AS i,
             |    (id * 1103515245 + 12345) % 2147483648 AS h1,
             |    (id * 69069 + 99991) % 2147483648 AS h2
             |  FROM range(0, $zN)
             |), o AS (
             |  SELECT i, h1, h2,
             |    element_at(array($zones), CAST(i % 10 AS INT) + 1) AS zone,
             |    element_at(array($zones), CAST((i + 3) % 10 AS INT) + 1) AS zone2,
             |    CAST(CASE WHEN i % 3 = 0
             |      THEN 631152000 + (h1 * 37) % 1200000000
             |      ELSE element_at(array($transitions), CAST(h1 % 10 AS INT) + 1)
             |        + (h2 % 14400) - 7200 END AS DOUBLE)
             |      + CAST(h2 % 8 AS DOUBLE) * 0.125 AS es,
             |    CAST(h2 % 3 AS INT) - 1 AS shift
             |  FROM g
             |), z AS (
             |  SELECT i, zone, zone2, es, shift,
             |    at_timezone(from_unixtime(es), zone) AS zt,
             |    at_timezone(from_unixtime(es + CAST(shift AS DOUBLE)), zone2) AS zs
             |  FROM o
             |)
             |SELECT i,
             |  CAST(zt AS VARCHAR) AS render,
             |  to_iso8601(zt) AS iso,
             |  CAST(hour(zt) AS BIGINT) AS hr,
             |  CAST(minute(zt) AS BIGINT) AS mi,
             |  CAST(second(zt) AS BIGINT) AS sec,
             |  CAST(millisecond(zt) AS BIGINT) AS ms,
             |  CAST(day(zt) AS BIGINT) AS dy,
             |  CAST(month(zt) AS BIGINT) AS mo,
             |  CAST(year(zt) AS BIGINT) AS yr,
             |  CAST(quarter(zt) AS BIGINT) AS qtr,
             |  CAST(day_of_week(zt) AS BIGINT) AS dow,
             |  CAST(day_of_year(zt) AS BIGINT) AS doy,
             |  CAST(week(zt) AS BIGINT) AS wk,
             |  CAST(year_of_week(zt) AS BIGINT) AS yow,
             |  CAST(timezone_hour(zt) AS BIGINT) AS tzh,
             |  CAST(timezone_minute(zt) AS BIGINT) AS tzm,
             |  CAST(to_unixtime(zt) * 1000 AS BIGINT) AS unix_ms,
             |  CAST(date_trunc('day', zt) AS VARCHAR) AS trunc_day,
             |  CAST(date_trunc('hour', zt) AS VARCHAR) AS trunc_hour,
             |  CAST(date_trunc('week', zt) AS VARCHAR) AS trunc_week,
             |  CAST(zt + INTERVAL '90' MINUTE AS VARCHAR) AS plus90m,
             |  CAST(at_timezone(zt, zone2) AS VARCHAR) AS rezone,
             |  zt = zs AS eq_shift,
             |  zt < zs AS lt_shift
             |FROM z ORDER BY i""".stripMargin))
      }
    },

    // ── Sweep 24 (round 13): comparison semantics under the operator
    // dialect. The reference's scalar float comparisons are raw Java
    // (DoubleOperators.java: NaN = NaN → false, NaN > x → false) and its
    // structural equality is THREE-VALUED (ArrayEqualOperator/
    // RowEqualOperator/MapEqualOperator: a NULL element makes the result
    // indeterminate unless some pair is definitely unequal; map size
    // mismatch or a missing key decides false outright); array/row
    // ordering is pairwise-less lexicographic where a NaN element reads
    // as equal. Spark (and DuckDB!) treat NaN as self-equal-and-largest
    // and nested NULLs as equal, so the oracle computes every expected
    // value LONGHAND from the generating operands (CASE on isnan/IS
    // NULL) rather than with its own comparison operators.
    // IS [NOT] DISTINCT FROM is engine-vs-engine (all three agree).
    // SIGNED ZERO: the reference's round() STRIPS the sign of -0.0
    // (MathFunctions.java:750-762 — `num < 0` is false for -0.0, so the
    // positive branch Math.round(-0.0*f)/f yields +0.0) and the engine
    // matches (prestoRoundDouble); DuckDB's round() PRESERVES -0.0, so
    // the oracle's c_gl/c_ll longhand normalizes with `+ 0.0` (identity
    // everywhere except -0.0 → +0.0). The driver's hash is
    // representation-level and distinguishes -0.0 from 0.0. ──
    q("fuzz_cmp_parity",
      duckOperands + """, t AS (
        |  SELECT i,
        |    CASE CAST(h1 % 6 AS INT) WHEN 0 THEN CAST('NaN' AS DOUBLE) WHEN 1 THEN CAST('Infinity' AS DOUBLE) WHEN 2 THEN CAST('-Infinity' AS DOUBLE) WHEN 3 THEN CAST(0.0 AS DOUBLE) WHEN 4 THEN CAST('-0.0' AS DOUBLE) ELSE x END AS d1,
        |    CASE CAST(h2 % 6 AS INT) WHEN 0 THEN CAST('NaN' AS DOUBLE) WHEN 1 THEN CAST('Infinity' AS DOUBLE) WHEN 2 THEN CAST(0.0 AS DOUBLE) WHEN 3 THEN CAST('-0.0' AS DOUBLE) WHEN 4 THEN CAST(7.0 AS DOUBLE) ELSE y END AS d2,
        |    CASE WHEN h1 % 5 = 0 THEN NULL ELSE CAST(h1 % 3 AS INT) END AS p1,
        |    CASE WHEN h2 % 7 = 0 THEN NULL ELSE CAST(h2 % 3 AS INT) END AS p2,
        |    CASE WHEN h2 % 5 = 0 THEN NULL ELSE CAST(h2 % 3 AS INT) END AS q1,
        |    CASE WHEN h1 % 7 = 0 THEN NULL ELSE CAST(h1 % 3 AS INT) END AS q2
        |  FROM o), u AS (
        |  SELECT *,
        |    CASE WHEN i % 11 = 0 THEN NULL ELSE d1 END AS dn1,
        |    CASE WHEN i % 13 = 0 THEN NULL ELSE d2 END AS dn2,
        |    coalesce(p1, 9) AS cp1, coalesce(p2, 9) AS cp2,
        |    coalesce(q1, 9) AS cq1, coalesce(q2, 9) AS cq2
        |  FROM t)
        |SELECT i,
        |  CASE WHEN dn1 IS NULL OR dn2 IS NULL THEN NULL WHEN isnan(dn1) OR isnan(dn2) THEN false ELSE dn1 = dn2 END AS c_eq,
        |  CASE WHEN dn1 IS NULL OR dn2 IS NULL THEN NULL WHEN isnan(dn1) OR isnan(dn2) THEN true ELSE dn1 <> dn2 END AS c_ne,
        |  CASE WHEN dn1 IS NULL OR dn2 IS NULL THEN NULL WHEN isnan(dn1) OR isnan(dn2) THEN false ELSE dn1 < dn2 END AS c_lt,
        |  CASE WHEN dn1 IS NULL OR dn2 IS NULL THEN NULL WHEN isnan(dn1) OR isnan(dn2) THEN false ELSE dn1 <= dn2 END AS c_le,
        |  CASE WHEN dn1 IS NULL OR dn2 IS NULL THEN NULL WHEN isnan(dn1) OR isnan(dn2) THEN false ELSE dn1 > dn2 END AS c_gt,
        |  CASE WHEN dn1 IS NULL OR dn2 IS NULL THEN NULL WHEN isnan(dn1) OR isnan(dn2) THEN false ELSE dn1 >= dn2 END AS c_ge,
        |  CASE WHEN dn1 IS NULL THEN NULL WHEN isnan(dn1) THEN false ELSE dn1 BETWEEN -1.0 AND 1.0 END AS c_btw,
        |  CASE WHEN dn1 IS NULL THEN NULL
        |       WHEN NOT isnan(dn1) AND dn1 = 7.0 THEN true
        |       WHEN dn2 IS NULL THEN NULL
        |       WHEN NOT isnan(dn1) AND NOT isnan(dn2) AND dn1 = dn2 THEN true
        |       ELSE false END AS c_in,
        |  dn1 IS DISTINCT FROM dn2 AS c_idf,
        |  CASE WHEN (p1 IS NOT NULL AND q1 IS NOT NULL AND p1 <> q1) OR (p2 IS NOT NULL AND q2 IS NOT NULL AND p2 <> q2) THEN false
        |       WHEN p1 IS NULL OR q1 IS NULL OR p2 IS NULL OR q2 IS NULL THEN NULL
        |       ELSE true END AS c_arr_eq,
        |  false AS c_arr_len,
        |  CASE WHEN (p1 IS NOT NULL AND q1 IS NOT NULL AND p1 <> q1) OR (p2 IS NOT NULL AND q2 IS NOT NULL AND p2 <> q2) THEN false
        |       WHEN p1 IS NULL OR q1 IS NULL OR p2 IS NULL OR q2 IS NULL THEN NULL
        |       ELSE true END AS c_row_eq,
        |  CASE WHEN (p1 IS NOT NULL AND q1 IS NOT NULL AND p1 <> q1) OR (p2 IS NOT NULL AND q2 IS NOT NULL AND p2 <> q2) THEN false
        |       WHEN p1 IS NULL OR q1 IS NULL OR p2 IS NULL OR q2 IS NULL THEN NULL
        |       ELSE true END AS c_map_eq,
        |  i % 2 = 0 AS c_map_miss,
        |  (p1 IS NULL AND q1 IS NULL) OR (p1 IS NOT NULL AND q1 IS NOT NULL AND p1 = q1) AS c_map_nsd,
        |  CASE WHEN cp1 <> cq1 THEN cp1 < cq1 WHEN cp2 <> cq2 THEN cp2 < cq2 ELSE false END AS c_arr_lt,
        |  CASE WHEN cp1 <> cq1 THEN cp1 > cq1 ELSE false END AS c_arr_ge,
        |  CASE WHEN isnan(d1) OR isnan(d2) THEN false ELSE d1 < d2 END AS c_arr_nan_lt,
        |  CASE WHEN isnan(d1) OR isnan(d2) THEN true ELSE d1 <= d2 END AS c_arr_nan_le,
        |  (CASE WHEN (p1 IS NOT NULL AND q1 IS NOT NULL AND p1 <> q1) OR (p2 IS NOT NULL AND q2 IS NOT NULL AND p2 <> q2) THEN false
        |        WHEN p1 IS NULL OR q1 IS NULL OR p2 IS NULL OR q2 IS NULL THEN NULL
        |        ELSE true END)
        |  OR
        |  (CASE WHEN (p1 IS NOT NULL AND p1 <> 0) OR (p2 IS NOT NULL AND p2 <> 0) THEN false
        |        WHEN p1 IS NULL OR p2 IS NULL THEN NULL
        |        ELSE true END) AS c_arr_in,
        |  CASE WHEN dn1 IS NULL THEN NULL
        |       WHEN (NOT isnan(d1) AND NOT isnan(dn1) AND d1 = dn1)
        |         OR (NOT isnan(d2) AND NOT isnan(dn1) AND d2 = dn1) THEN true
        |       ELSE false END AS c_member,
        |  CASE WHEN dn1 IS NULL THEN NULL
        |       WHEN NOT isnan(d1) AND NOT isnan(dn1) AND d1 = dn1 THEN CAST(1 AS BIGINT)
        |       WHEN NOT isnan(d2) AND NOT isnan(dn1) AND d2 = dn1 THEN CAST(2 AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS c_pos,
        |  CASE WHEN dn1 IS NULL THEN NULL
        |       ELSE CAST(2
        |         - CASE WHEN NOT isnan(d1) AND NOT isnan(dn1) AND d1 = dn1 THEN 1 ELSE 0 END
        |         - CASE WHEN NOT isnan(d2) AND NOT isnan(dn1) AND d2 = dn1 THEN 1 ELSE 0 END
        |         AS BIGINT) END AS c_rm_sz,
        |  CASE WHEN dn1 IS NULL OR isnan(dn1) OR isnan(d2) THEN NULL
        |       ELSE round(greatest(dn1, d2), 3) + 0.0 END AS c_gl,
        |  CASE WHEN dn1 IS NULL OR isnan(dn1) OR isnan(d2) THEN NULL
        |       ELSE round(least(dn1, d2), 3) + 0.0 END AS c_ll,
        |  CASE WHEN dn1 IS NULL THEN true WHEN dn2 IS NULL THEN false
        |       WHEN isnan(dn1) OR isnan(dn2) THEN false
        |       ELSE dn1 = dn2 END AS c_nullif_null,
        |  CAST(CASE WHEN dn1 IS NULL THEN 0
        |       WHEN dn2 IS NOT NULL AND NOT isnan(dn1) AND NOT isnan(dn2) AND dn1 = dn2 THEN 1
        |       WHEN NOT isnan(dn1) AND dn1 = 7.0 THEN 2
        |       ELSE 0 END AS BIGINT) AS c_case
        |FROM u ORDER BY i""".stripMargin) { (s, _) =>
      withDialect(s, PrestoOperators.ConfKey) { s.sql(sparkOperands + """, t AS (
        |  SELECT i,
        |    CASE CAST(h1 % 6 AS INT) WHEN 0 THEN CAST('NaN' AS DOUBLE) WHEN 1 THEN CAST('Infinity' AS DOUBLE) WHEN 2 THEN CAST('-Infinity' AS DOUBLE) WHEN 3 THEN CAST(0.0 AS DOUBLE) WHEN 4 THEN CAST('-0.0' AS DOUBLE) ELSE x END AS d1,
        |    CASE CAST(h2 % 6 AS INT) WHEN 0 THEN CAST('NaN' AS DOUBLE) WHEN 1 THEN CAST('Infinity' AS DOUBLE) WHEN 2 THEN CAST(0.0 AS DOUBLE) WHEN 3 THEN CAST('-0.0' AS DOUBLE) WHEN 4 THEN CAST(7.0 AS DOUBLE) ELSE y END AS d2,
        |    CASE WHEN h1 % 5 = 0 THEN NULL ELSE CAST(h1 % 3 AS INT) END AS p1,
        |    CASE WHEN h2 % 7 = 0 THEN NULL ELSE CAST(h2 % 3 AS INT) END AS p2,
        |    CASE WHEN h2 % 5 = 0 THEN NULL ELSE CAST(h2 % 3 AS INT) END AS q1,
        |    CASE WHEN h1 % 7 = 0 THEN NULL ELSE CAST(h1 % 3 AS INT) END AS q2
        |  FROM o), u AS (
        |  SELECT *,
        |    CASE WHEN i % 11 = 0 THEN NULL ELSE d1 END AS dn1,
        |    CASE WHEN i % 13 = 0 THEN NULL ELSE d2 END AS dn2,
        |    coalesce(p1, 9) AS cp1, coalesce(p2, 9) AS cp2,
        |    coalesce(q1, 9) AS cq1, coalesce(q2, 9) AS cq2
        |  FROM t)
        |SELECT i,
        |  dn1 = dn2 AS c_eq,
        |  dn1 <> dn2 AS c_ne,
        |  dn1 < dn2 AS c_lt,
        |  dn1 <= dn2 AS c_le,
        |  dn1 > dn2 AS c_gt,
        |  dn1 >= dn2 AS c_ge,
        |  dn1 BETWEEN -1.0D AND 1.0D AS c_btw,
        |  dn1 IN (dn2, CAST(7.0 AS DOUBLE)) AS c_in,
        |  dn1 IS DISTINCT FROM dn2 AS c_idf,
        |  array(p1, p2) = array(q1, q2) AS c_arr_eq,
        |  array(cp1) = array(cp1, cq2) AS c_arr_len,
        |  named_struct('a', p1, 'b', p2) = named_struct('a', q1, 'b', q2) AS c_row_eq,
        |  map(1, p1, 2, p2) = map(2, q2, 1, q1) AS c_map_eq,
        |  map(CAST(1 + i % 2 AS INT), 1) = map(1, 1) AS c_map_miss,
        |  map(1, p1) <=> map(1, q1) AS c_map_nsd,
        |  array(cp1, cp2) < array(cq1, cq2) AS c_arr_lt,
        |  array(cp1) >= array(cq1, 0) AS c_arr_ge,
        |  array(d1) < array(d2) AS c_arr_nan_lt,
        |  array(d1) <= array(d2) AS c_arr_nan_le,
        |  array(p1, p2) IN (array(q1, q2), array(0, 0)) AS c_arr_in,
        |  contains(array(d1, d2), dn1) AS c_member,
        |  array_position(array(d1, d2), dn1) AS c_pos,
        |  CAST(size(array_remove(array(d1, d2), dn1)) AS BIGINT) AS c_rm_sz,
        |  round(TRY(greatest(dn1, d2)), 3) AS c_gl,
        |  round(TRY(least(dn1, d2)), 3) AS c_ll,
        |  nullif(dn1, dn2) IS NULL AS c_nullif_null,
        |  CAST(CASE dn1 WHEN dn2 THEN 1 WHEN CAST(7.0 AS DOUBLE) THEN 2 ELSE 0 END AS BIGINT) AS c_case
        |FROM u ORDER BY i""".stripMargin)
      }
    },

    // ── sweep 25: signed zero, BOTH flag states (round-14, the class r13
    // tripped on) ──
    // ±0.0 through round/abs/sign/unary-minus/power/coalesce/floor/
    // ceiling/comparisons/greatest/least plus the DISTINCT-merge law.
    // Every sign-carrying cell is a STRING (no raw double leaves the
    // query, so the driver's representation-level hash sees the exact
    // rendered sign, never an engine-specific -0.0 bit pattern) and the
    // oracle states the EXPECTED sign longhand by generator arm instead
    // of trusting DuckDB's own float ops. Pinned reference semantics:
    // round strips the sign (MathFunctions.java:750-762, +0.0 out),
    // abs strips (Math.abs), sign/unary-minus/power(x,1)/coalesce
    // preserve (Math.signum/Math.pow pass the bit through). greatest/
    // least ±0.0 ties are NORMALIZED (+ 0.0): the reference's codegen
    // keeps the first primitive-equal argument while Spark's
    // Double.compare ordering picks by sign — a sub-ULP tie the
    // reference itself never defines across argument orders. DISTINCT
    // merges ±0.0 (Spark normalizes grouping keys; DuckDB likewise;
    // the reference 0.235's doubleToLongBits hash would SPLIT the pair
    // — an upstream wart fixed in later engines, deliberately not
    // replicated; documented here, value pinned to the merged law).
    // Flag-on and flag-off rows are both emitted (fl 0/1): the dialect
    // must not change any of these.
    q("fuzz_zero_parity",
      duckOperands + s""", z0 AS (
        |  SELECT i, h1, h2,
        |    CASE CAST(h1 % 4 AS INT) WHEN 0 THEN CAST('0.0' AS DOUBLE)
        |         WHEN 1 THEN CAST('-0.0' AS DOUBLE)
        |         WHEN 2 THEN x ELSE 0.0 - x END AS z,
        |    CASE CAST(h2 % 3 AS INT) WHEN 0 THEN CAST('0.0' AS DOUBLE)
        |         WHEN 1 THEN CAST('-0.0' AS DOUBLE) ELSE y END AS w
        |  FROM o), fl AS (SELECT 0 AS fl UNION ALL SELECT 1)
        |SELECT fl, i,
        |  CASE CAST(h1 % 4 AS INT) WHEN 0 THEN '0.0' WHEN 1 THEN '-0.0' ELSE 'NZ' END AS gen_z,
        |  CASE WHEN z = 0.0 THEN '0.0' ELSE 'NZ' END AS rnd_z,
        |  CASE WHEN z = 0.0 THEN '0.0' ELSE 'NZ' END AS abs_z,
        |  CASE CAST(h1 % 4 AS INT) WHEN 0 THEN '0.0' WHEN 1 THEN '-0.0' ELSE 'NZ' END AS sgn_z,
        |  CASE CAST(h1 % 4 AS INT) WHEN 0 THEN '-0.0' WHEN 1 THEN '0.0' ELSE 'NZ' END AS neg_z,
        |  CASE CAST(h1 % 4 AS INT) WHEN 0 THEN '0.0' WHEN 1 THEN '-0.0' ELSE 'NZ' END AS pow_z,
        |  CASE CAST(h1 % 4 AS INT) WHEN 0 THEN '0.0' WHEN 1 THEN '-0.0' ELSE 'NZ' END AS coal_z,
        |  CAST(floor(z) AS BIGINT) AS flr_z,
        |  CAST(ceiling(z) AS BIGINT) AS ceil_z,
        |  z = w AS zeq,
        |  z < w AS zlt,
        |  CASE WHEN greatest(z, w) = 0.0 THEN CAST(greatest(z, w) + 0.0 AS VARCHAR) ELSE 'NZ' END AS gst_n,
        |  CASE WHEN least(z, w) = 0.0 THEN CAST(least(z, w) + 0.0 AS VARCHAR) ELSE 'NZ' END AS lst_n,
        |  (SELECT CAST(COUNT(DISTINCT z) AS BIGINT) FROM z0 WHERE z = 0.0) AS zero_groups
        |FROM z0 CROSS JOIN fl ORDER BY fl, i""".stripMargin) { (s, _) =>
      def zeroSelect = sparkOperands + s""", z0 AS (
        |  SELECT i, h1, h2,
        |    CASE CAST(h1 % 4 AS INT) WHEN 0 THEN CAST('0.0' AS DOUBLE)
        |         WHEN 1 THEN CAST('-0.0' AS DOUBLE)
        |         WHEN 2 THEN x ELSE 0.0 - x END AS z,
        |    CASE CAST(h2 % 3 AS INT) WHEN 0 THEN CAST('0.0' AS DOUBLE)
        |         WHEN 1 THEN CAST('-0.0' AS DOUBLE) ELSE y END AS w
        |  FROM o)
        |SELECT FLAG AS fl, i,
        |  CASE WHEN z = 0.0 THEN CAST(z AS STRING) ELSE 'NZ' END AS gen_z,
        |  CASE WHEN z = 0.0 THEN CAST(round(z, 3) AS STRING) ELSE 'NZ' END AS rnd_z,
        |  CASE WHEN z = 0.0 THEN CAST(abs(z) AS STRING) ELSE 'NZ' END AS abs_z,
        |  CASE WHEN z = 0.0 THEN CAST(sign(z) AS STRING) ELSE 'NZ' END AS sgn_z,
        |  CASE WHEN z = 0.0 THEN CAST(-z AS STRING) ELSE 'NZ' END AS neg_z,
        |  CASE WHEN z = 0.0 THEN CAST(power(z, 1.0) AS STRING) ELSE 'NZ' END AS pow_z,
        |  CASE WHEN z = 0.0 THEN CAST(coalesce(CAST(NULL AS DOUBLE), z) AS STRING) ELSE 'NZ' END AS coal_z,
        |  CAST(floor(z) AS BIGINT) AS flr_z,
        |  CAST(ceiling(z) AS BIGINT) AS ceil_z,
        |  z = w AS zeq,
        |  z < w AS zlt,
        |  CASE WHEN greatest(z, w) = 0.0 THEN CAST(greatest(z, w) + 0.0 AS STRING) ELSE 'NZ' END AS gst_n,
        |  CASE WHEN least(z, w) = 0.0 THEN CAST(least(z, w) + 0.0 AS STRING) ELSE 'NZ' END AS lst_n,
        |  (SELECT CAST(COUNT(DISTINCT z) AS BIGINT) FROM z0 WHERE z = 0.0) AS zero_groups
        |FROM z0""".stripMargin
      val off = s.sql(zeroSelect.replace("FLAG", "0"))
      val on = withDialect(s, PrestoOperators.ConfKey) { s.sql(zeroSelect.replace("FLAG", "1")) }
      off.union(on).orderBy("fl", "i")
    },
  )
}
