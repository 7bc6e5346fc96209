package graft

import org.scalatest.funsuite.AnyFunSuite

/** Deployment-matrix discipline (mirrors the reference's re-running of
  * its suite distributed / local / spill-forced,
  * presto-tests/.../TestDistributedSpilledQueries.java): representative
  * queries must return IDENTICAL rows with AQE off and shuffle
  * parallelism forced to 2 — catching anything that silently depends on
  * partition count, partial/final split, or adaptive replanning.
  */
class ConfigMatrixSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private val queries = Seq(
    "q01_pricing_summary", "q05_local_supplier", "join_full_outer",
    "agg_grouping_sets", "win_ranking", "fn_checksum",
    "dd_exact", "ev_session_window",
    // round 3: imperative map aggregate, spatial grid join, verbatim text
    "fn_map_agg", "spatial_distance_join", "dialect_q01_verbatim",
    // round 4: correlated-min decorrelation over the synthesized
    // partsupp, and a partsupp-heavy verbatim text (count DISTINCT
    // through the synth views)
    "q02_min_cost_supplier", "dialect_q16_verbatim",
    // the multi-reference CTE texts that graft.plans.SharedCte shares:
    // each shared CTE runs as one shuffle that AQE reuses from its stage
    // cache and static planning from ReuseExchange, so pin that the
    // RESULT is identical either way — q14 (cross_items and avg_sales,
    // three references each), q75 (all_sales, two year-filtered
    // references), q23 (three shared CTEs, one of them feeding a scalar
    // subquery); and the clustering iteration, whose convergence must
    // not depend on partition count
    "tpcds_q14", "tpcds_q75", "tpcds_q23", "dd_jaccard_clusters",
    // round 6: the 17-table join (join order/strategy must not change
    // rows), the stream-stream join's batch twin, the embedding
    // bucket-join dedup path, and the SHOW STATS one-pass multi-distinct
    // aggregate (partial/final split sensitivity)
    "tpcds_q64", "ev_interval_join", "dd_embedding_lsh", "meta_show_stats",
    // round 8: scalar-subquery bloom + exact verify (partial bloom
    // OR-merge across partials), heap-bounded top-n (partial/merge
    // split), curve-histogram merge, the bounded-model broadcast join
    "dd_bloom_prefilter", "agg_minmax_n", "agg_classification_curves",
    "tx_perplexity",
    // round 9: the full grouping-sets family — EmptyGroupingSetsRule
    // rewrites every one of these plans (sentinel-row pass), so pin that
    // the rewrite is partition-/AQE-invariant on each shape, plus the
    // verbatim q27 whose empty grouping set re-admitted the rule
    "agg_rollup", "agg_cube", "tpcds_q27_verbatim",
    // round 9: the Presto operator dialect rows (rewrite happens at
    // parse time — results must not depend on partitions/AQE either)
    "dialect_int_division", "dialect_subscript",
    // round 9: the fuzz sweeps with real distribution sensitivity —
    // 17 grouped aggregates (streaming-moment partial/final merge under
    // forced 2-partition shuffles) and 13 window functions (partition
    // placement + frame evaluation must not depend on physical
    // parallelism); plus the BPE tokenize path (broadcast rank table +
    // UDF encode must be partition-invariant)
    "fuzz_agg_parity", "fuzz_window_parity", "pipe_bpe_tokenize",
    // round 9: as-of join — the union+window plan's running
    // last(ignore nulls) must see each key's full ordered timeline in
    // one window partition regardless of shuffle parallelism/AQE
    "join_asof",
    // round 9: overlap chunking (map-side explode — rows must not
    // depend on input split boundaries) and the cluster-keyed split
    // (scalar-subquery leak counters under partial/final agg splits)
    "pipe_chunk_overlap", "pipe_chunk_tokens", "pipe_leakage_safe_split",
    // round 10: the portable-oracle twins exercise census caps,
    // candidate joins, components, and survivor windows end-to-end —
    // their results must not depend on partition count or AQE replans
    // (the incremental twin additionally spans a persisted-index write
    // + read; the semdedup twin a per-cell centroid agg + rejoin)
    "dd_minhash_clusters_portable", "dd_semdedup_portable",
    // round 10: exhaustive IVF probe must equal brute-force under every
    // config (the k-means fit itself runs driver-coordinated; the probe
    // join + ranked cutoff are the partition-sensitive parts)
    "sim_ivf_exhaustive",
    // round 10: the zone-carrying dialect rows — parse-time rewrites
    // plus per-row zone dispatch (renderZoned/offset StaticInvokes)
    // must not depend on partitions/AQE, and the conf set/unset inside
    // the query lambda must leave the shared session clean either way
    "dialect_ztz_observe", "dialect_ztz_arith",
    // round 11: the TIME-wrap dialect row (parse-time rewrite + the
    // wrapTimeAdd StaticInvoke), the composed-key KD-B join (leaf +
    // grid-cell shuffle keys must partition identically at any
    // parallelism), and the new sweeps with per-row lambda/struct
    // evaluation
    "dialect_time_wrap", "dialect_greatest_null", "spatial_kdb_join",
    "fuzz_time_parity", "fuzz_map_parity", "fuzz_row_parity",
    "fuzz_interval_parity",
    // round 12: the zoned sweep (conf set/unset inside the lambda plus
    // per-row zone-dispatch StaticInvokes across DST boundaries must be
    // partition-/AQE-invariant and leave the shared session clean), and
    // the TIME-WTZ grid (parse-time literal rewrite + MillisecondOf
    // late-binding + wrap StaticInvokes)
    "fuzz_ztz_parity", "dialect_ttz_parity",
    // round 13: the comparison-semantics sweep (NaN-guarded float
    // comparisons, interpreted structural equality, member-search and
    // extremum rewrites — all per-row expressions that must be
    // partition-/AQE-invariant and leave the shared session clean)
    "fuzz_cmp_parity")

  private def snapshot(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, TestSession.sf)
      .collect().map(_.toString).sorted.toSeq

  // The EmptyGroupingSetsRule escape hatch only changes behavior on EMPTY
  // grouped input — on the (non-empty) fixture shapes, turning the rule
  // OFF must be a no-op, under the default AND the constrained config.
  // Divergence here would mean the sentinel-row rewrite leaks into
  // non-empty results.
  for (name <- Seq("agg_grouping_sets", "agg_rollup", "agg_cube")) {
    test(s"config matrix: $name invariant to the empty-grouping-sets escape hatch") {
      val key = graft.plans.EmptyGroupingSetsRule.EnabledKey
      val defaults = snapshot(name)
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set(key, "false")
        assert(snapshot(name) == defaults,
          s"$name diverges with $key=false on non-empty input")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        assert(snapshot(name) == defaults,
          s"$name diverges with $key=false under constrained config")
      } finally {
        spark.conf.unset(key)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
    }
  }

  // q27's grouped input IS empty in this fixture (the reason the rule
  // re-admitted the text) — the escape hatch must change its answer in
  // exactly one way: the standard grand-total row disappears. Pin the
  // direction and magnitude, and that the off-state is itself
  // config-invariant.
  test("config matrix: tpcds_q27_verbatim escape hatch drops only the grand-total row") {
    val key = graft.plans.EmptyGroupingSetsRule.EnabledKey
    val defaults = snapshot("tpcds_q27_verbatim")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set(key, "false")
      val off = snapshot("tpcds_q27_verbatim")
      assert(off.size == defaults.size - 1,
        s"rule-off must drop exactly the sentinel grand-total row (${defaults.size} -> ${off.size})")
      assert(off.toSet.subsetOf(defaults.toSet), "rule-off rows must be a subset")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      assert(snapshot("tpcds_q27_verbatim") == off,
        "rule-off state diverges under constrained config")
    } finally {
      spark.conf.unset(key)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  for (name <- queries) {
    test(s"config matrix: $name identical under AQE-off + 2 shuffle partitions") {
      val defaults = snapshot(name)
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        val constrained = snapshot(name)
        assert(constrained == defaults,
          s"$name diverges under constrained config")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
    }
  }
}
