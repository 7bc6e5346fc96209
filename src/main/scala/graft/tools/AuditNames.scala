package graft.tools

import scala.io.Source

import graft.GraftSession

/** Round-12 audit, machine-emitted since round 13: reference function
  * names that ALSO exist as Spark builtins — exactly the shape that hid
  * the md5/sha1/xxhash64 divergence (same name, different semantics,
  * name-check green). Every collision must carry a DISPOSITION:
  *
  *  - GRAFT-OVERRIDDEN — the session registry resolves the name to a
  *    graft expression (reference semantics re-implemented);
  *  - PARSER-SEAM — the SQL spelling is rewritten under the Presto
  *    dialect flag (PrestoCallConventions / PrestoOperators /
  *    GraftSqlParser text rewrites); the registry deliberately keeps the
  *    Spark builtin so the Scala functions API stays pure Spark;
  *  - IDENTICAL — same definition in both engines (with the reason);
  *  - SWEEP — value-identity pinned by a named oracle sweep/column;
  *  - LENIENCY — documented superset/leniency (COVERAGE.md).
  *
  * The tool writes `AUDIT_NAMES.md` (GATE_COUNTS-style: machine-emitted,
  * README cites it) and EXITS NONZERO on any collision with no
  * disposition — the audit remainder can never silently drift back to
  * prose. SqlSurfaceSpec re-runs the coverage check in the test gate.
  *
  * Usage: runMain graft.tools.AuditNames [/tmp/ref_all_names.txt]
  *        (regenerate the names file with tools/extract_ref_names.py)
  */
object AuditNames {

  /** Names rewritten at the parser seam (PrestoCallConventions /
    * PrestoOperators.exprRewrite / GraftSqlParser text rewrites) under
    * the dialect or zoned flag. The registry shows the Spark builtin BY
    * DESIGN: Spark 4's `functions.log` etc. resolve through the registry
    * by name, so a registry override would rewire the DataFrame API too.
    */
  val parserSeam: Map[String, String] = Map(
    "log" -> "log(number, base) argument order (PrestoCallConventions; fuzz_math_parity lgb)",
    "ln" -> "raw Math out of domain: NaN/-Inf, not NULL (fuzz_math_parity lnx)",
    "log2" -> "raw Math out of domain (fuzz_math_parity l2x)",
    "log10" -> "raw Math out of domain (fuzz_math_parity l10x)",
    "trim" -> "2-arg source-first order (fn_string trimmed2)",
    "ltrim" -> "2-arg source-first order (fn_string ltrimmed)",
    "rtrim" -> "2-arg source-first order (fn_string rtrimmed)",
    "element_at" -> "|i| > cardinality returns NULL, index 0 errors (fuzz_array_parity ea_oob/ea_neg)",
    "regexp_extract" -> "default group 0; no-match/unmatched group NULL (fuzz_regex_parity grp0/nomatch)",
    "regexp_extract_all" -> "group-0 default, NULL elements, codepoint empty-match advance (fuzz_regex_parity all0)",
    "regexp_replace" -> "2-arg remove form (fuzz_regex_parity repl_rm)",
    "split_part" -> "index past fields returns NULL (fuzz_string_parity sp_oob)",
    "rand" -> "rand(n) = random integer in [0, n) (FnSpec random contract)",
    "random" -> "random(n) = random integer in [0, n) (FnSpec random contract)",
    "typeof" -> "reference display names: integer/varchar/row(..) (FnSpec)",
    "skewness" -> "NULL below 3 rows (fuzz_agg_parity)",
    "kurtosis" -> "sample-corrected G2, NULL below 4 rows (fuzz_agg_parity)",
    "map_concat" -> "duplicate keys keep the LAST map's value (fuzz_map_parity cat_*)",
    "normalize" -> "bare-keyword form NFC/NFD/NFKC/NFKD (FnSpec)",
    "split" -> "delimiter is a LITERAL, not a regex (PrestoOperators; FnSpec)",
    "date_add" -> "unit-string spelling via timestampadd rewrite (fuzz_datetime_parity dd/plus_m)",
    "date_diff" -> "unit-string spelling via timestampdiff rewrite (fuzz_datetime_parity dd)",
    "array_min" -> "NULL when the array CONTAINS a null (PrestoOperators; fuzz_array_parity mn pins null-free values)",
    "array_max" -> "NULL when the array CONTAINS a null (PrestoOperators; fuzz_array_parity mx)",
    "current_time" -> "bare keyword -> localtime / zoned TIME WITH TIME ZONE (rewriteBareTemporals; ZonedTimestampsSpec)",
    "get_json_object" -> "reference JsonFunctions.java:443 ObjectExtractor — subtree as JSON text, quotes kept (FnSpec); flag-off keeps Spark's unquoting builtin")

  /** Dispositions for collisions that resolve to UNTOUCHED Spark
    * builtins: either the definitions are identical, a named sweep pins
    * value identity, or a documented leniency applies. Reviewed against
    * the reference source round 12; machine-checked from round 13.
    */
  val dispositions: Map[String, (String, String)] = Map(
    // math: raw Java Math / identical definitions, mostly sweep-pinned
    "abs" -> ("SWEEP", "fuzz_math_parity abs_n"),
    "acos" -> ("IDENTICAL", "raw Math.acos both (MathFunctions.java)"),
    "asin" -> ("IDENTICAL", "raw Math.asin both"),
    "atan" -> ("SWEEP", "fuzz_math_parity at"),
    "atan2" -> ("SWEEP", "fuzz_math_parity at2"),
    "cbrt" -> ("SWEEP", "fuzz_math_parity cb"),
    "ceil" -> ("SWEEP", "fuzz_math_parity cl (ceiling alias)"),
    "ceiling" -> ("SWEEP", "fuzz_math_parity cl"),
    "cos" -> ("SWEEP", "fuzz_math_parity cs"),
    "cosh" -> ("IDENTICAL", "raw Math.cosh both"),
    "degrees" -> ("SWEEP", "fuzz_math_parity dg"),
    "e" -> ("IDENTICAL", "constant Math.E both"),
    "exp" -> ("SWEEP", "fuzz_math_parity ex"),
    "floor" -> ("SWEEP", "fuzz_math_parity flr"),
    "pi" -> ("IDENTICAL", "constant Math.PI both"),
    "pow" -> ("SWEEP", "fuzz_math_parity pw (power alias)"),
    "power" -> ("SWEEP", "fuzz_math_parity pw"),
    "radians" -> ("SWEEP", "fuzz_math_parity rd"),
    "round" -> ("SWEEP", "fuzz_math_parity rnd3 (HALF_UP away from zero both)"),
    // sign: auto-detected GRAFT-OVERRIDDEN since round 15 (typed
    // SignDispatch builder — operand-typed results); value parity still
    // swept by fuzz_math_parity sign_n
    "sin" -> ("SWEEP", "fuzz_math_parity sn"),
    "sqrt" -> ("SWEEP", "fuzz_math_parity sq (NaN on negative both)"),
    "tan" -> ("IDENTICAL", "raw Math.tan both"),
    "tanh" -> ("IDENTICAL", "raw Math.tanh both"),
    "crc32" -> ("IDENTICAL", "CRC-32 over bytes -> BIGINT both"),
    // aggregates: identical definitions, oracle rows pin values
    "avg" -> ("SWEEP", "q01_pricing_summary / agg_global_stats"),
    "count" -> ("SWEEP", "every TPC row"),
    "sum" -> ("SWEEP", "every TPC row"),
    "count_if" -> ("SWEEP", "agg_bool"),
    "bool_and" -> ("SWEEP", "agg_bool"),
    "bool_or" -> ("SWEEP", "agg_bool"),
    "every" -> ("SWEEP", "agg_bool (bool_and alias both)"),
    "corr" -> ("SWEEP", "agg_regression"),
    "covar_pop" -> ("SWEEP", "agg_regression"),
    "covar_samp" -> ("SWEEP", "agg_regression"),
    "regr_intercept" -> ("SWEEP", "agg_regression"),
    "regr_slope" -> ("SWEEP", "agg_regression"),
    "stddev" -> ("SWEEP", "agg_global_stats (sample default both)"),
    "stddev_pop" -> ("SWEEP", "agg_global_stats"),
    "stddev_samp" -> ("SWEEP", "agg_global_stats"),
    "variance" -> ("SWEEP", "agg_global_stats (sample default both)"),
    "var_pop" -> ("SWEEP", "agg_global_stats"),
    "var_samp" -> ("SWEEP", "agg_global_stats"),
    "percentile_approx" -> ("IDENTICAL",
      "approximate-percentile contract (reference alias of approx_percentile; the Presto signature resolves to the graft approx_percentile registration)"),
    // arrays / lambdas
    "array_distinct" -> ("SWEEP", "fuzz_array_parity n_dist (first-occurrence order both); NaN-multiplicity leniency documented in COVERAGE.md tranche 6 (reference TypedSet raw-equality never dedups NaNs — a 0.235 wart fixed upstream; we keep one)"),
    "array_except" -> ("LENIENCY", "distinct left-minus-right, first-occurrence order both (ArrayExceptFunction); same TypedSet NaN-multiplicity leniency as array_distinct"),
    "array_intersect" -> ("LENIENCY", "distinct intersection both (ArrayIntersectFunction); same TypedSet NaN-multiplicity leniency as array_distinct"),
    "array_union" -> ("LENIENCY", "distinct union both (ArrayUnionFunction); same TypedSet NaN-multiplicity leniency as array_distinct"),
    "arrays_overlap" -> ("LENIENCY", "true on common non-null; NULL when only nulls could match — both (ArraysOverlapFunction); NaN-common-element edge follows Spark (reference raw equality would miss it)"),
    "array_position" -> ("SWEEP", "fuzz_array_parity pos_m (1-based, 0 when absent both); dialect: reference EQUAL — NaN never found, structural-indeterminate errors (fuzz_cmp_parity c_pos, PrestoComparisonRule)"),
    "array_remove" -> ("SWEEP", "removes value-equal elements both (ArrayRemoveFunction); dialect: reference EQUAL — NaN never removed, structural-indeterminate errors (fuzz_cmp_parity c_rm_sz, PrestoComparisonRule)"),
    "array_sort" -> ("IDENTICAL", "1-arg natural order, nulls LAST both (ArraySortFunction; Spark's sort_array — nulls first — is a different name)"),
    "filter" -> ("SWEEP", "fuzz_array_parity n_even"),
    "slice" -> ("SWEEP", "fuzz_array_parity mid2 (1-based start + length both)"),
    "sequence" -> ("LENIENCY", "a > b auto-steps -1 where the reference errors without an explicit step (COVERAGE.md documented leniency)"),
    "shuffle" -> ("IDENTICAL", "uniform random permutation, multiset-preserving (value-nondeterministic by nature both)"),
    "concat" -> ("SWEEP", "fuzz_string_parity (strings) + fuzz_array_parity app/pre (arrays)"),
    "reverse" -> ("SWEEP", "fuzz_string_parity rev (string + array forms both)"),
    // maps
    "map" -> ("IDENTICAL", "empty-map ctor; duplicate keys ERROR both (session mapKeyDedupPolicy=EXCEPTION pins the reference ctor error; two-array MAP(a,b) is a parser rewrite to map_from_arrays)"),
    "map_entries" -> ("IDENTICAL", "row(key, value) array in map order both"),
    // map_from_entries: auto-detected GRAFT-OVERRIDDEN since round 14 —
    // EntriesCtorDispatch handles the NullType edge only (bare NULL →
    // NULL map, untyped empty array → {}, TestMapOperators.java:848-849);
    // typed inputs delegate to Spark's MapFromEntries (duplicate keys
    // ERROR both, same as the pre-override IDENTICAL disposition)
    "map_keys" -> ("SWEEP", "fuzz_map_parity keys_csv"),
    "map_values" -> ("SWEEP", "fuzz_map_parity vals_csv"),
    // strings
    "length" -> ("SWEEP", "fuzz_string_parity len (codepoint length both)"),
    "lower" -> ("SWEEP", "fuzz_string_parity lo"),
    "upper" -> ("SWEEP", "fuzz_string_parity up"),
    "lpad" -> ("SWEEP", "fuzz_string_parity lp"),
    "rpad" -> ("SWEEP", "fuzz_string_parity rp"),
    "replace" -> ("SWEEP", "fuzz_string_parity repl (2-arg remove form identical too)"),
    "substr" -> ("SWEEP", "fuzz_string_parity sub2/sub34 (substr(s, 0) edge probed identical r12)"),
    "like" -> ("SWEEP", "fuzz_regex_parity like_pfx/like_one_after_a"),
    "regexp_like" -> ("SWEEP", "fuzz_regex_parity is_match/odd_tail (RLIKE spelling; unanchored contains-match both)"),
    // datetime
    "current_date" -> ("IDENTICAL", "session-zone date (session pinned UTC)"),
    "current_timestamp" -> ("SEAM", "zoned_now rewrite under the zonedTimestamps conf (dialect_ztz_now); naive default = instant in session UTC, identical"),
    "now" -> ("SEAM", "zoned_now rewrite under the zonedTimestamps conf (dialect_ztz_now); naive default identical"),
    "localtimestamp" -> ("IDENTICAL", "naive session wall clock both — the reference's localtimestamp returns plain TIMESTAMP even with zoned types"),
    "current_timezone" -> ("IDENTICAL", "session zone id string (pinned UTC)"),
    "date" -> ("IDENTICAL", "cast-to-DATE shorthand both"),
    "date_trunc" -> ("SWEEP", "fuzz_datetime_parity mstart/wstart (+ zoned seam under the conf: ZonedTrunc)"),
    "year" -> ("SWEEP", "fuzz_datetime_parity yr"),
    "quarter" -> ("SWEEP", "fuzz_datetime_parity qtr"),
    "month" -> ("SWEEP", "fuzz_datetime_parity mo"),
    "day" -> ("SWEEP", "fuzz_datetime_parity dom"),
    "hour" -> ("SWEEP", "fuzz_datetime_parity hh"),
    "minute" -> ("SWEEP", "fuzz_datetime_parity mi"),
    "second" -> ("SWEEP", "fuzz_time_parity second columns"),
    // json / logic
    "json_array_length" -> ("IDENTICAL", "top-level array length, NULL on non-array/malformed both"),
    "not" -> ("SWEEP", "fuzz_null_logic_parity (three-valued logic)"))

  /** The full classification for a names file + live registry; returns
    * (rows, undispositioned) where rows are (owner, name, evidence).
    */
  def classify(refNames: Seq[String],
      reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
      : (Seq[(String, String, String)], Seq[String]) = {
    val builtin = org.apache.spark.sql.catalyst.analysis.FunctionRegistry
      .builtin.listFunction().map(_.funcName.toLowerCase).toSet
    val overlap = refNames.filter(builtin.contains).distinct.sorted
    val rows = overlap.map { n =>
      val cls = reg.lookupFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(n))
        .map(_.getClassName).getOrElse("?")
      if (cls.contains("graft"))
        ("GRAFT-OVERRIDDEN", n, cls)
      else if (parserSeam.contains(n))
        ("PARSER-SEAM", n, parserSeam(n))
      else dispositions.get(n) match {
        case Some((kind, ev)) => (kind, n, ev)
        case None => ("UNDISPOSITIONED", n, cls)
      }
    }
    (rows, rows.collect { case ("UNDISPOSITIONED", n, _) => n })
  }

  def render(rows: Seq[(String, String, String)]): String = {
    val byKind = rows.groupBy(_._1)
    def count(k: String) = byKind.getOrElse(k, Nil).size
    val header =
      s"""# Reference∩Spark builtin name collisions (machine-emitted — do not hand-edit)
         |
         |Written by `graft.tools.AuditNames`; SqlSurfaceSpec re-checks
         |coverage in the test gate (any collision without a disposition
         |fails). Round-12 context: this audit class caught log(8,2)=1/3,
         |2-arg trim order, regexp_extract group defaults, kurtosis
         |definition — same-name/different-semantics traps the name-only
         |check can never see.
         |
         |- collisions: **${rows.size}**
         |- GRAFT-OVERRIDDEN (registry resolves to a graft expression): **${count("GRAFT-OVERRIDDEN")}**
         |- PARSER-SEAM (dialect-flag SQL rewrite; functions API stays Spark): **${count("PARSER-SEAM")}**
         |- SEAM (conditional rewrite under the zoned conf): **${count("SEAM")}**
         |- SWEEP (value identity pinned by a named oracle sweep/column): **${count("SWEEP")}**
         |- IDENTICAL (same definition, reason recorded): **${count("IDENTICAL")}**
         |- LENIENCY (documented superset, COVERAGE.md): **${count("LENIENCY")}**
         |- UNDISPOSITIONED (must be 0): **${count("UNDISPOSITIONED")}**
         |
         || disposition | name | evidence |
         ||---|---|---|
         |""".stripMargin
    header + rows.sortBy(r => (r._1, r._2)).map { case (k, n, e) =>
      s"| $k | `$n` | $e |"
    }.mkString("\n") + "\n"
  }

  def main(args: Array[String]): Unit = {
    val refNames = Source.fromFile(args.headOption
      .getOrElse("tools/ref_all_names.txt")).getLines().map(_.trim)
      .filter(_.nonEmpty).toSeq

    val spark = GraftSession("graft-audit-names")
    val (rows, missing) = classify(refNames, spark.sessionState.functionRegistry)

    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("AUDIT_NAMES.md"), render(rows))
    println(s"[audit] ${refNames.size} reference names, ${rows.size} collide " +
      s"with Spark builtin names -> AUDIT_NAMES.md")
    rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, rs) =>
      println(f"[audit]   $k%-18s ${rs.size}")
    }
    // stale disposition entries (name no longer in the remainder) keep
    // the map tidy but are not fatal
    val remainder = rows.collect {
      case (k, n, _) if k != "GRAFT-OVERRIDDEN" && k != "PARSER-SEAM" => n
    }.toSet
    (dispositions.keySet -- remainder).toSeq.sorted.foreach(n =>
      println(s"[audit] STALE disposition (now overridden/seam/gone): $n"))
    spark.stop()
    if (missing.nonEmpty) {
      println(s"[audit] UNDISPOSITIONED (${missing.size}): ${missing.mkString(", ")}")
      sys.exit(1)
    }
  }
}
