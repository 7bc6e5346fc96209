package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runs the fuzz-parity sweeps (FuzzParityOps) in-suite and pins a few
  * independently-computed spot cells. The real verdict is the driver's
  * DuckDB compare — 400 operand rows per sweep, every cell value-checked
  * against the second implementation; this spec guards that the sweeps
  * stay runnable and that the LCG operand derivation never drifts (a
  * drift would silently shrink the swept domain even if the oracle still
  * passed on the new operands).
  */
class FuzzParitySpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def run(name: String) =
    SparkEntry.queries(name)(spark, TestSession.sf).collect()

  test("every sweep builds and runs on a session with spark.graft.prestoOperators=true") {
    val s = spark.newSession()
    s.conf.set(functions.PrestoOperators.ConfKey, "true")
    val failures = operators.FuzzParityOps.defs.flatMap { d =>
      try { d.run(s, TestSession.sf).collect(); None }
      catch { case e: Exception => Some(s"${d.name}: ${e.getMessage.take(400)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    // the flag changes no interval semantics: an interval-typed column
    // plus an interval literal reads the same under it
    val flagged = SparkEntry.queries("fuzz_interval_parity")(s, TestSession.sf).collect().toSeq
    assert(flagged == run("fuzz_interval_parity").toSeq)
  }

  test("math sweep: 400 rows, LCG operands pinned, spot values") {
    val rows = run("fuzz_math_parity")
    assert(rows.length == 400)
    val byI = rows.map(r => r.getLong(r.fieldIndex("i")) -> r).toMap
    // i=0: h1 = 12345 → x = 12345/2097152 - 511; n = 12345%97-48 = -22
    val r0 = byI(0L)
    assert(r0.getLong(r0.fieldIndex("abs_n")) == 22L)
    assert(r0.getLong(r0.fieldIndex("sign_n")) == -1L)
    assert(r0.getLong(r0.fieldIndex("flr")) == -511L)
    // i=1: h1 = 1103527590 → h1 % 7919 = 1103527590 - 139352*7919
    val r1 = byI(1L)
    assert(r1.getLong(r1.fieldIndex("mod_h1")) == 1103527590L % 7919L)
    // width_bucket arithmetic: y strictly inside (0, 101) → bucket 1..10
    rows.foreach { r =>
      val wb = r.getLong(r.fieldIndex("wb"))
      assert(wb >= 1L && wb <= 10L)
    }
  }

  test("string sweep: 400 rows, shape and slicing pinned") {
    val rows = run("fuzz_string_parity")
    assert(rows.length == 400)
    rows.foreach { r =>
      val s = r.getString(r.fieldIndex("s"))
      assert(s.matches("W\\d{1,3}_[a-z][A-Z]"), s"unexpected shape: $s")
      assert(r.getLong(r.fieldIndex("len")) == s.length.toLong)
      assert(r.getLong(r.fieldIndex("pos")) == (s.indexOf('_') + 1).toLong)
      assert(r.getString(r.fieldIndex("sp2")) == s.split('_')(1))
    }
  }

  test("array sweep: 400 rows, subscript base and position semantics pinned") {
    val rows = run("fuzz_array_parity")
    assert(rows.length == 400)
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("sz")) == 5L)
      // 1-based element_at and array_position (0 when absent) — the
      // same convention DuckDB lists use, which is what makes the
      // oracle comparison meaningful
      val pos = r.getLong(r.fieldIndex("pos_m"))
      assert(pos >= 0L && pos <= 5L)
      val sorted = r.getString(r.fieldIndex("sorted_join")).split(',').map(_.toLong)
      assert(sorted.sameElements(sorted.sorted))
      assert(r.getLong(r.fieldIndex("mn")) == sorted.head)
      assert(r.getLong(r.fieldIndex("mx")) == sorted.last)
    }
  }

  test("regex sweep: 400 rows, group extraction consistent with subject shape") {
    val rows = run("fuzz_regex_parity")
    assert(rows.length == 400)
    rows.foreach { r =>
      val s = r.getString(r.fieldIndex("s"))
      assert(r.getBoolean(r.fieldIndex("is_match")))
      assert(r.getString(r.fieldIndex("grp1")) == s.drop(1).takeWhile(_.isDigit))
      assert(r.getBoolean(r.fieldIndex("like_pfx")))
    }
  }

  test("window sweep: tie-prone order key actually produces rank gaps") {
    val rows = run("fuzz_window_parity")
    assert(rows.length == 400)
    var sawGap = false
    rows.foreach { r =>
      val rn = r.getLong(r.fieldIndex("rn"))
      val rk = r.getLong(r.fieldIndex("rk"))
      val drk = r.getLong(r.fieldIndex("drk"))
      assert(drk <= rk && rk <= rn + 399) // rank never exceeds partition size
      if (rk != drk) sawGap = true
      val nt = r.getLong(r.fieldIndex("nt"))
      assert(nt >= 1 && nt <= 4)
    }
    assert(sawGap, "order key produced no ties — peer-group semantics unexercised")
  }

  test("agg sweep: 7 groups, moments finite and counts partition the rows") {
    val rows = run("fuzz_agg_parity")
    assert(rows.length == 7)
    assert(rows.map(r => r.getLong(r.fieldIndex("cnt"))).sum == 400L)
    rows.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("cxy")))
      assert(r.getBoolean(r.fieldIndex("all_pos")))
    }
  }

  test("decimal sweep: tie boundaries and negative operands actually occur") {
    // columns are UNSCALED BIGINTs (value × 10^scale): ua/ub at scale 8,
    // urnd_a at scale 2 — no DecimalType ships in a compared result
    // (round-10 driver lesson: pyarrow Decimal vs DuckDB float64
    // representation hash-mismatches even on identical values)
    val rows = run("fuzz_decimal_parity")
    assert(rows.length == 400)
    var ties = 0; var negs = 0
    rows.foreach { r =>
      val ua = r.getLong(r.fieldIndex("ua"))
      val ub = r.getLong(r.fieldIndex("ub"))
      // round(x, 2) tie: the digits dropped below scale 2 are exactly
      // 50 at scale 4 (operands have scale-4 granularity)
      if (ua % 1000000 == 500000) ties += 1
      if (ub < 0) negs += 1
      // |round(a, 2) - a| ≤ 0.005 ⇔ |urnd_a·10^8 - ua·100| ≤ 5·10^7 at
      // the common unscaled-×10^10 magnitude — checked exactly in longs
      val urnd = r.getLong(r.fieldIndex("urnd_a"))
      assert(math.abs(urnd * 100000000L - ua * 100L) <= 50000000L)
      // HALF_UP at the tie: round lands ABOVE a (away from zero; a ≥ 0)
      if (ua % 1000000 == 500000)
        assert(urnd * 100000000L - ua * 100L == 50000000L,
          s"tie not rounded HALF_UP: ua=$ua urnd=$urnd")
    }
    assert(ties > 0, "no .XX50 rounding ties in the operand sweep")
    assert(negs > 100, s"negative-operand coverage too thin: $negs")
  }

  test("map sweep: 400 rows, banded keys and lambda results consistent") {
    val rows = run("fuzz_map_parity")
    assert(rows.length == 400)
    rows.foreach { r =>
      def s(c: String) = r.getString(r.fieldIndex(c))
      assert(r.getLong(r.fieldIndex("card")) == 3L)
      // key 15 sits inside the second band (10..19): present iff that
      // band's key landed on 15, so the probe exercises BOTH outcomes
      assert(r.getBoolean(r.fieldIndex("has_nope")) ==
        s("keys_csv").split(',').contains("15"))
      assert(r.getBoolean(r.fieldIndex("has3")))
      assert(s("look2").startsWith("b"))
      // concat order is the reference's last-map-first merge (round 12,
      // MapConcatFunction.java): m2's single entry LEADS, m follows
      assert(s("cat_keys").endsWith(s("keys_csv")) &&
        s("cat_vals").endsWith(s("vals_csv")))
      assert(s("cat_keys").split(',').length == 4)
      assert(s("cat_lastwin").startsWith("Z"),
        "overlapping key keeps the LAST map's value")
      // map_filter keeps a SUBSET of keys; transform_values keeps arity
      val keys = s("keys_csv").split(',').toSet
      assert(s("even_keys").split(',').filter(_.nonEmpty).forall(k =>
        keys.contains(k) && k.toLong % 2 == 0))
      assert(s("bang_vals").split(',').length == 3 &&
        s("bang_vals").split(',').forall(_.endsWith("!")))
    }
  }

  test("interval sweep: 400 rows, negative operands, fields consistent") {
    val rows = run("fuzz_interval_parity")
    assert(rows.length == 400)
    var negs = 0
    rows.foreach { r =>
      def l(c: String) = r.getLong(r.fieldIndex(c))
      if (l("d") < 0 || l("h") < 0) negs += 1
      // field ranges (sign-carrying, Java toward-zero semantics)
      assert(math.abs(l("h")) <= 23 && math.abs(l("mi")) <= 59 &&
        math.abs(l("ss")) <= 59 && math.abs(l("msf")) <= 999)
      assert(math.abs(l("mo")) <= 11 && math.abs(l("yy")) <= 2)
      // a negative interval's fields all carry the same sign or are zero
      val signs = Seq(l("d"), l("h"), l("mi"), l("ss"), l("msf"))
        .filter(_ != 0).map(_.signum).distinct
      assert(signs.size <= 1, s"mixed field signs: $signs")
    }
    assert(negs > 100, s"negative-interval coverage too thin: $negs")
  }

  test("row sweep: 400 rows, positional comparison with second-field tie-breaks") {
    val rows = run("fuzz_row_parity")
    assert(rows.length == 400)
    var ties = 0
    rows.foreach { r =>
      def b(c: String) = r.getBoolean(r.fieldIndex(c))
      def l(c: String) = r.getLong(r.fieldIndex(c))
      // trichotomy and consistency of struct ordering
      assert(Seq(b("eq"), b("lt"), b("gt")).count(identity) == 1)
      assert(l("min_a") <= math.max(l("fa"), l("arr_a")))
      assert(l("nested_a") == l("fa"))
      if (b("tie_eq")) ties += 1
    }
    assert(ties > 0, "forced first-field ties never became full ties")
  }

  test("time sweep: 400 rows, rendering/extraction/ordering consistent") {
    val rows = run("fuzz_time_parity")
    assert(rows.length == 400)
    var fractional = 0
    rows.foreach { r =>
      def s(c: String) = r.getString(r.fieldIndex(c))
      def l(c: String) = r.getLong(r.fieldIndex(c))
      // rendered integer-second time parses back to itself
      assert(s("rt") == s("s1"))
      // extraction agrees with the rendered fractional time's prefix
      assert(s("sf").startsWith(f"${l("h")}%02d:${l("mi")}%02d:${l("sec")}%02d"))
      if (s("sf").contains('.')) fractional += 1
      // greatest/least partition the pair
      assert(Set(s("gst"), s("lst")) == Set(s("gst"), s("lst")))
      assert(s("gst") >= s("lst")) // HH:mm:ss strings order like times
      // lt/gt consistent with the rendered ordering
      if (r.getBoolean(r.fieldIndex("lt"))) assert(s("lst") == s("s1"))
      // in-range interval adds stay under 14:00 (hour base % 12)
      assert(s("plus_h") < "14" && s("plus_m") < "14")
    }
    assert(fractional > 300, s"micros coverage too thin: $fractional")
  }

  test("datetime sweep: 400 rows, ISO dow and unix seconds pinned") {
    val rows = run("fuzz_datetime_parity")
    assert(rows.length == 400)
    rows.foreach { r =>
      val d = r.getDate(r.fieldIndex("d")).toLocalDate
      assert(r.getLong(r.fieldIndex("dow")) == d.getDayOfWeek.getValue.toLong)
      assert(r.getLong(r.fieldIndex("doy")) == d.getDayOfYear.toLong)
      val eom = r.getDate(r.fieldIndex("eom")).toLocalDate
      assert(eom == d.withDayOfMonth(d.lengthOfMonth))
      // ts = 1995-01-01 UTC + (h1 % 100000) minutes; session is UTC
      val mins = r.getLong(r.fieldIndex("unix_s")) - 788918400L
      assert(mins % 60 == 0 && mins >= 0 && mins / 60 < 100000)
    }
  }

  test("ztz sweep: 600 rows, UTC spot row and instant-compare law pinned") {
    val rows = run("fuzz_ztz_parity")
    assert(rows.length == 600)
    val byI = rows.map(r => r.getLong(r.fieldIndex("i")) -> r).toMap
    // i=0: spread row, zone=UTC, zone2=Asia/Tokyo; h1=12345, h2=99991 →
    // e = 631152000 + 12345·37 = 631608765 (1990-01-06 06:52:45 UTC),
    // ms = (99991 % 8)·125 = 875
    val r0 = byI(0L)
    def s0(c: String) = r0.getString(r0.fieldIndex(c))
    def l0(c: String) = r0.getLong(r0.fieldIndex(c))
    assert(s0("render") == "1990-01-06 06:52:45.875 UTC")
    assert(s0("iso") == "1990-01-06T06:52:45.875Z")
    assert(l0("hr") == 6L && l0("mi") == 52L && l0("sec") == 45L && l0("ms") == 875L)
    assert(l0("tzh") == 0L && l0("tzm") == 0L)
    assert(l0("unix_ms") == 631608765875L)
    // instant-based comparison ignores the zone: eq/lt outcomes are a
    // pure function of the ±1 s shift derived from h2
    rows.foreach { r =>
      val i = r.getLong(r.fieldIndex("i"))
      val h2 = (i * 69069L + 99991L) % 2147483648L
      assert(r.getBoolean(r.fieldIndex("eq_shift")) == (h2 % 3 == 1))
      assert(r.getBoolean(r.fieldIndex("lt_shift")) == (h2 % 3 == 2))
    }
  }

  test("signed zero: round(-0.0, s) strips the sign in BOTH flag states") {
    // Reference quirk pinned (MathFunctions.java:750-762): `num < 0` is
    // false for -0.0, so round(-0.0, s) takes the positive branch and
    // returns +0.0 — unlike DuckDB, whose round preserves -0.0. This is
    // the exact cell that shipped driver-red in r13 (fuzz_cmp_parity
    // c_ll); the oracle longhand now normalizes with `+ 0.0`.
    // Representation check via bits: +0.0 = 0L, -0.0 = Long.MinValue.
    def bits(sql: String): Long = {
      val d = spark.sql(sql).collect()(0).getDouble(0)
      java.lang.Double.doubleToRawLongBits(d)
    }
    val probes = Seq(
      "SELECT round(CAST('-0.0' AS DOUBLE), 3)",
      "SELECT round(least(CAST('-0.0' AS DOUBLE), CAST(7.0 AS DOUBLE)), 3)")
    for (sql <- probes) {
      assert(bits(sql) == 0L, s"flag-off: $sql must be +0.0")
      spark.conf.set(graft.functions.PrestoOperators.ConfKey, "true")
      try assert(bits(sql) == 0L, s"flag-on: $sql must be +0.0")
      finally spark.conf.unset(graft.functions.PrestoOperators.ConfKey)
    }
    // and the sign DOES survive where the reference keeps it: unary minus
    val neg = spark.sql("SELECT -CAST('0.0' AS DOUBLE)").collect()(0).getDouble(0)
    assert(java.lang.Double.doubleToRawLongBits(neg) == Long.MinValue)
  }
}
