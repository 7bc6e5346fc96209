package graft.operators

import graft.QueryGroup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Decision

/** Training-data text pipeline: deduplication + text analysis over the
  * `documents` table. These extend the reference's surface (it has no
  * text-pipeline operators) with the ops a 100 TB LLM-data curation run
  * needs.
  *
  * Scale design:
  *  - normalization/shingling/minhash signatures are computed entirely
  *    map-side — zero shuffle until the band-bucket join. The array
  *    lambdas (`transform`) run interpreted: `ArrayTransform` is
  *    `CodegenFallback` in Spark 4.1.2, so hot per-element work is kept
  *    out of lambdas where it can be (explode + codegen'd expressions);
  *  - MinHash-LSH shuffles only (band, signature) keys — candidate
  *    generation is linear, never all-pairs;
  *  - the exact-Jaccard verifier runs only on LSH candidates;
  *  - `dd_ngram_jaccard` (all-pairs within a partition key) exists as the
  *    small-data oracle twin that validates the LSH path.
  */
object TextOps extends QueryGroup {

  /** Census decisions for the exact-substring adaptive salt, keyed by
    * (input plan semanticHash, k, threshold) → (picked salt, decision
    * text): the probe is a real job (~0.3 s at bench scale — round-14
    * A/B), so repeated invocations over the same input reuse the
    * decision instead of re-probing.
    */
  private val censusCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), (Integer, String)]()

  /** Normalized token array: lowercase, strip non-alphanumerics, split.
    *
    * Spelled as ONE regex pass extracting maximal [a-z0-9] runs — exactly
    * the tokens the replace(non-alnum → space) + split(" +") + drop-empty
    * chain produces (every non-alnum char is a separator in both), at one
    * string traversal instead of three plus an interpreted HOF filter
    * (round-16 opt; lockstep-measured on the minhash/decontaminate/
    * tx_stats family, oracle texts unchanged — same token arrays).
    */
  private def tokensCol: Column =
    regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))

  /** Word 3-gram shingles of the normalized tokens; empty for docs with
    * fewer than 3 tokens (guard: sequence(1, n-2) would otherwise emit a
    * descending [1,0] and hit element_at(tokens, 0)).
    */
  private def shinglesCol(tokens: Column): Column =
    when(size(tokens) >= 3,
      transform(
        sequence(lit(1), size(tokens) - 2),
        i => concat_ws(" ", element_at(tokens, i), element_at(tokens, i + 1), element_at(tokens, i + 2))))
      .otherwise(lit(Array.empty[String]))

  /** (doc_id, tokens, shingles) for docs with ≥3 tokens.
    *
    * PERFORMANCE-CRITICAL SHAPE: the `filter` between the tokens
    * projection and the shingles projection keeps `tokens` a bound
    * attribute when the shingle lambda runs. Without it, Catalyst
    * collapses the projects and inlines the whole tokenize expression
    * into each `element_at(tokens, i)` inside the (interpreted) lambda —
    * re-running regexp+split ~3×shingle-count times per document. That
    * inlining was the actual 87-second bottleneck in round 1's bench
    * profile (measured: 60 s → 1.1 s at sf0.1 with the barrier).
    */
  def withShingles(docs: DataFrame): DataFrame =
    // size-gated scan spread (guide §2.5): the tokenize+shingle work is
    // map-side and the gate fixture is a one-split file — see Spread
    Spread.bySize(docs, col("doc_id"))
      .withColumn("tokens", tokensCol)
      .filter(size(col("tokens")) >= 3)
      .withColumn("shingles", array_distinct(shinglesCol(col("tokens"))))

  private val MinhashPerms = 64  // 16 bands x 4 rows
  private val MinhashBands = 16

  /** Per-band-bucket membership cap (skew guard). A duplicate-saturated
    * corpus can put millions of near-identical docs into ONE band bucket;
    * uncapped, that bucket alone costs bucket² candidate pairs and an
    * unbounded collect buffer. The cap bounds both (BoundedCollectListAgg
    * caps during update/merge, so the buffer never grows past it). Recall
    * cost is negligible: a doc dropped from a saturated band still pairs
    * through its 15 other bands, and a bucket this size means the docs
    * are duplicates of each other anyway — a dedup consumer keeps one
    * survivor per cluster, not every edge.
    */
  private val MinhashMaxBucket = 256

  /** MinHash-LSH near-duplicate candidate pairs verified by exact shingle
    * Jaccard — the 100 TB design:
    *
    *  1. explode shingles → ONE string hash per (doc, shingle), then 64
    *     cheap integer re-hashes `xxhash64(i, h)` — every step is a
    *     codegen'd fixed-width expression (no interpreted higher-order
    *     functions, the round-1 bottleneck);
    *  2. signature = groupBy(doc_id) with 64 min() aggregates →
    *     map-side partial aggregation, the shuffle carries ~one row per
    *     document;
    *  3. banding: 16 scalar band keys per doc via xxhash64 over 4
    *     signature columns — LONG join keys, not ARRAY;
    *  4. candidate pairs come from groupBy(band_key) + within-bucket pair
    *     expansion, so the signature subtree is evaluated ONCE (round 1
    *     evaluated it on both sides of a self-join);
    *  5. exact-Jaccard verification re-tokenizes only for the join against
    *     candidate pairs (linear, no 64-hash work).
    *
    * Candidate generation never goes all-pairs: cost is Σ bucket² over
    * band buckets, which stays linear while near-dup density is bounded.
    */
  /** (doc_id, band_key) LSH membership — steps 1–3 of the minhash
    * pipeline (codegen'd signature path, scalar LONG band keys). Shared
    * by the batch pair-finder and the incremental index.
    */
  def bandedDocKeys(docs: DataFrame, perms: Int = MinhashPerms,
      bands: Int = MinhashBands): DataFrame = {
    val sh = withShingles(docs).select(col("doc_id"), col("shingles"))
    // one string hash per shingle, then 64 integer permutation hashes
    val exploded = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    val permed = exploded.select(
      col("doc_id") +: (0 until perms).map(i => xxhash64(lit(i), col("h")).as(s"p$i")): _*)
    val sig = permed.groupBy("doc_id")
      .agg((0 until perms).map(i => min(s"p$i").as(s"s$i")).head,
           (1 until perms).map(i => min(s"p$i").as(s"s$i")): _*)
    // 16 scalar band keys: xxhash64(band, s[4b], s[4b+1], s[4b+2], s[4b+3])
    val rowsPerBand = perms / bands
    val bandKeys = (0 until bands).map { b =>
      xxhash64(lit(b) +: (0 until rowsPerBand).map(r => col(s"s${b * rowsPerBand + r}")): _*)
    }
    sig.select(col("doc_id"), explode(array(bandKeys: _*)).as("band_key"))
  }

  /** Portable LSH membership twin of [[bandedDocKeys]]: identical
    * pipeline shape (shingles → per-shingle hash → permutation minima →
    * folded scalar band keys → explode), but every hash is portable
    * integer arithmetic — the char-fold h = (h·31 + codepoint) mod 2³¹
    * and affine permutations mod 2³¹−1 of `dd_minhash_portable` — that
    * DuckDB replays bit-for-bit. Plugged into [[minhashPairs]] /
    * [[incrementalMinhashPairs]] via their `keyFn`, it lets the REAL
    * engine machinery (bucket census + cap, candidate join, incremental
    * index persistence, jaccard verify, components) run under a full SQL
    * oracle (`dd_incremental_minhash_portable`,
    * `dd_minhash_clusters_portable`). 8 permutations in 2 bands of 4
    * (vs production's 64×16) keep the oracle's per-row recompute cheap;
    * the banding algebra is the same.
    */
  def portableBandedDocKeys(docs: DataFrame): DataFrame = {
    val hs = withShingles(docs).select(col("doc_id"), expr(
      """transform(shingles, g ->
        |  aggregate(transform(split(g, ''), c -> CAST(ascii(c) AS BIGINT)),
        |    CAST(7 AS BIGINT), (a, c) -> (a * 31 + c) % 2147483648))""".stripMargin)
      .as("harr"))
    val sig = hs.select(col("doc_id") +: (0 until 8).map { j =>
      val mul = 12347 + j * 12344
      val off = 7L + j * 69069L
      expr(s"array_min(transform(harr, h -> (h * $mul + $off) % 2147483647))").as(s"s$j")
    }: _*)
    // seeded 4-minima fold per band; intermediate magnitude ≤ ~2^46, so
    // a single trailing mod is exact in BIGINT on both engines
    def band(b: Int): Column =
      ((((lit(b.toLong) * 31 + col(s"s${4 * b}")) * 31 + col(s"s${4 * b + 1}")) * 31 +
        col(s"s${4 * b + 2}")) * 31 + col(s"s${4 * b + 3}")) % 2147483648L
    sig.select(col("doc_id"), explode(array(band(0), band(1))).as("band_key"))
  }

  def minhashPairs(docs: DataFrame, threshold: Double = 0.5,
      keyFn: DataFrame => DataFrame = bandedDocKeys(_)): DataFrame =
    // presentation order only here: the clusters consumer takes the
    // UNORDERED pairs so its checkpoint never materializes a global sort
    // it immediately destroys (guide §2.4 "an orderBy used only to make
    // output deterministic")
    minhashPairsUnordered(docs, threshold, keyFn).orderBy("doc_a", "doc_b")

  private[graft] def minhashPairsUnordered(docs: DataFrame, threshold: Double = 0.5,
      keyFn: DataFrame => DataFrame = bandedDocKeys(_)): DataFrame = {
    // no size(shingles) filter here: withShingles already guarantees ≥1
    // shingle (≥3 tokens), and a filter on `shingles` would be pushed
    // below its projection with the full expression substituted in —
    // re-introducing the quadratic tokenize-per-shingle evaluation
    val sh = withShingles(docs).select(col("doc_id"), col("shingles"))
    val banded = keyFn(docs)
    // within-bucket pair expansion — signatures evaluated once, no
    // self-join; bucket membership hard-capped at MinhashMaxBucket
    val buckets = banded.groupBy("band_key")
      .agg(sort_array(expr(s"bounded_collect_list(doc_id, $MinhashMaxBucket)")).as("ids"))
      .filter(size(col("ids")) > 1)
    val pairs = buckets
      .select(posexplode(col("ids")).as(Seq("i", "doc_a")), col("ids"))
      .select(col("doc_a"), explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("doc_b"))
      .distinct()
    // exact-Jaccard verification on candidates only. The two shingle
    // sides are the SAME subtree joined on different keys: aliasing the
    // one DataFrame (instead of renaming columns below the exchange)
    // keeps the two broadcast subtrees canonically identical, so the
    // exchange is built once and REUSED — one tokenize+shingle pass for
    // the verify join instead of two (guide §2.4; ReusedExchange pinned
    // in plans/r16/dd_minhash_lsh_after.txt).
    val sa = sh.as("sa")
    val sb = sh.as("sb")
    pairs
      .join(sa, col("doc_a") === col("sa.doc_id"))
      .join(sb, col("doc_b") === col("sb.doc_id"))
      // |∪| derived from counts: shingle arrays are distinct (withShingles
      // applies array_distinct), so |A∪B| = |A|+|B|−|A∩B| — one set
      // operation per pair instead of two, bit-identical jaccard (the
      // dd_jaccard_clusters precedent, integer-valued arithmetic)
      .withColumn("inter",
        size(array_intersect(col("sa.shingles"), col("sb.shingles"))).cast("double"))
      .withColumn("jaccard", col("inter") /
        (size(col("sa.shingles")) + size(col("sb.shingles")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Build counter for the incremental index — the spec asserts a reuse
    * never re-signatures the historical corpus.
    */
  private[graft] val lshIndexBuilds = new java.util.concurrent.atomic.AtomicInteger

  /** Incremental near-dup ingestion — the day-N production shape. The
    * historical corpus's (band_key, doc_id) membership is persisted ONCE
    * as parquet; each new batch signatures only ITSELF, equi-joins its
    * band keys against index ∪ batch, and exact-verifies candidates. At
    * 100 TB the recurring cost is O(|batch|) signature work plus one
    * equi-join — the corpus is never re-read, let alone re-signatured.
    *
    * Skew guard: band keys whose total membership exceeds the batch
    * pipeline's bucket cap are dropped before the join (same saturation
    * semantics as bounded_collect_list there — docs in a bucket that hot
    * are duplicates of each other and still pair via their other bands).
    *
    * "Existing corpus" vs "new batch" is doc_id parity here (a
    * deterministic split at every scale factor); production would use
    * ingestion date.
    */
  /** Signature/banding formula version — bump whenever bandedDocKeys'
    * derivation changes shape. It is folded into every persisted index
    * path (with the perms/bands actually used) so a formula or parameter
    * change can NEVER silently reuse an index built under the old scheme:
    * the fingerprinted dir simply doesn't exist yet and a fresh build
    * runs. Query-time-only knobs (jaccard threshold, bucket cap) are
    * deliberately NOT in the fingerprint — they don't shape the persisted
    * (band_key, doc_id) content, and keying on them would force a
    * full-corpus re-index for a probe-time tuning change.
    */
  private val LshFormulaVersion = 1

  def incrementalMinhashPairs(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, indexKey: String, threshold: Double = 0.5,
      perms: Int = MinhashPerms, bands: Int = MinhashBands,
      keyFn: Option[DataFrame => DataFrame] = None,
      variant: String = "xx"): DataFrame = {
    // keyFn swaps the signature/banding derivation (the portable-oracle
    // twin) while everything downstream — index persistence + reuse,
    // census cap, candidate join, jaccard verify — is the SAME code;
    // `variant` lands in the index fingerprint so the two schemes can
    // never share a persisted index
    val kf = keyFn.getOrElse(bandedDocKeys(_: DataFrame, perms, bands))
    // root overridable (graft.index.root) so test JVMs get a fresh dir —
    // the reuse-if-exists semantics otherwise make rebuild specs
    // non-idempotent across runs; production leaves it at tmpdir
    val indexDir = sys.props.getOrElse("graft.index.root",
      sys.props("java.io.tmpdir")) + "/graft-lsh-index-" +
      s"v$LshFormulaVersion-$variant-p$perms-b$bands-" +
      indexKey.replaceAll("[^A-Za-z0-9.]", "_")
    if (!new java.io.File(s"$indexDir/_SUCCESS").exists) {
      lshIndexBuilds.incrementAndGet()
      kf(docs.filter(col("doc_id") % 2 === 0))
        .write.mode("overwrite").parquet(indexDir)
    }
    val index = spark.read.parquet(indexDir)
    // single consumer now (the union below), so no checkpoint needed —
    // the batch signature pipeline (shingle explode + 64 hashes +
    // min-agg) runs exactly once
    val fresh = kf(docs.filter(col("doc_id") % 2 === 1))
    val all = index.unionByName(fresh)
    // Round-16 shape (same rework as the embedding incremental path):
    // ONE bounded collect + in-bucket pair explosion replaces the
    // census + two joins + the new×other join. Drop semantics identical
    // (cap+1 collect fails the size ≤ cap filter exactly where the
    // census dropped); "at least one side is new" is doc_id parity —
    // the new batch IS the odd half, the same contract the old
    // id_other%2 filter keyed on. Sorted ids give the canonical
    // doc_a < doc_b orientation directly.
    val cands = all.groupBy("band_key")
      .agg(sort_array(expr(
        s"bounded_collect_list(doc_id, ${MinhashMaxBucket + 1})")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= MinhashMaxBucket)
      .select(posexplode(col("ids")).as(Seq("i", "doc_a")), col("ids"))
      .select(col("doc_a"),
        explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("doc_b"))
      .filter(col("doc_a") % 2 === 1 || col("doc_b") % 2 === 1)
      .distinct()
    val sh = withShingles(docs).select(col("doc_id"), col("shingles"))
    // same alias-shared broadcast subtree as minhashPairs: the verify
    // join's two shingle sides build ONE exchange, reused at runtime
    val sa = sh.as("sa")
    val sb = sh.as("sb")
    cands
      .join(sa, col("doc_a") === col("sa.doc_id"))
      .join(sb, col("doc_b") === col("sb.doc_id"))
      // count-derived |∪| — see minhashPairsUnordered (bit-identical)
      .withColumn("inter",
        size(array_intersect(col("sa.shingles"), col("sb.shingles"))).cast("double"))
      .withColumn("jaccard", col("inter") /
        (size(col("sa.shingles")) + size(col("sb.shingles")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Bloom-prefiltered exact dedup against a historical corpus — the
    * day-N EXACT-dedup analog of [[incrementalMinhashPairs]]. The corpus
    * is summarized ONCE into a Bloom filter over
    * xxhash64(text) — a distributed build (partial blooms per partition,
    * OR-merged by Spark's TypedImperativeAggregate) whose result is a
    * single small binary, attached to the probe as a scalar subquery.
    * Each new batch probes the bloom
    * MAP-SIDE: rows the bloom rejects are definitively not duplicates
    * (no false negatives) and never reach a shuffle; only the suspected
    * fraction (true dups + fpp of the rest) pays the exact-verify join.
    *
    * Exactness: bloom false POSITIVES are eliminated by the verify
    * join's text-equality condition, and false negatives don't exist, so
    * the output is bit-identical to the plain corpus⋈batch exact join —
    * which is exactly what the DuckDB oracle runs.
    *
    * 100 TB sizing: bits = −n·ln(p)/ln²2 ≈ 10 bits/item at p=1%. A 1e9-doc
    * corpus is ~1.2 GB of bloom — broadcastable; at 1e10+ items,
    * partition the sketch (bucket = digest mod B, one bloom per bucket,
    * probe joins on the bucket id) so each executor holds only the
    * buckets it probes. The fixture-scale demo keeps the single
    * broadcast sketch (1M items / 8M bits ≈ 1 MB).
    */
  /** The day-N ingest batch the demo dedups: a 10% re-crawl of the corpus
    * (guaranteed exact duplicates — offset ids model the crawler
    * re-fetching the same page) plus a disjoint 10% of synthesized fresh
    * documents (guaranteed non-duplicates the bloom must prune). Both
    * halves are deterministic functions of the fixture, so the DuckDB
    * oracle derives the identical batch.
    */
  def dayNBatch(docs: DataFrame): DataFrame = {
    val recrawl = docs.filter(col("doc_id") % 10 === 3)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val fresh = docs.filter(col("doc_id") % 10 === 7)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("fresh crawl "), col("doc_id").cast("string"), lit(" "),
          substring(col("text"), 1, 40)).as("text"))
    recrawl.unionByName(fresh)
  }

  def bloomPrefilterDedup(docs: DataFrame): DataFrame = {
    val corpus = docs.select(col("doc_id").as("corpus_id"), col("text"))
    val batch = dayNBatch(docs)
    // scalar subquery: might_contain requires its bloom input be a
    // constant or scalar subquery (the same shape Spark's own runtime
    // shuffle-join filters inject) — the subquery runs once and its 1 MB
    // result ships with the filter, never a per-row join
    val bloom = corpus.agg(expr("bloom_filter_agg(text, 1000000L)")).scalar()
    val suspects = batch
      .filter(call_function("bloom_might_contain", bloom, col("text")))
      .select(col("doc_id"), col("text"), xxhash64(col("text")).as("digest"))
    // equi-join on the LONG digest (cheap shuffle key); text equality in
    // the same condition removes both hash collisions and bloom false
    // positives, so the result is the exact join's.
    val corpusKeyed = corpus.withColumn("digest", xxhash64(col("text")))
    suspects.join(corpusKeyed,
        suspects("digest") === corpusKeyed("digest") &&
          suspects("text") === corpusKeyed("text"))
      .groupBy(suspects("doc_id"))
      .agg(min(col("corpus_id")).as("dup_of"), count(lit(1)).as("n_copies"))
      .orderBy("doc_id")
  }

  /** Number of bloom-index builds this JVM (spec observability — the
    * reuse path must NOT rebuild).
    */
  private[graft] val bloomIndexBuilds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Fingerprint version for the persisted bloom index — bump when the
    * probe-hash or digest derivation changes shape (same discipline as
    * [[LshFormulaVersion]]: a formula change can never silently reuse an
    * index built under the old scheme).
    */
  private val BloomFormulaVersion = 1

  /** Day-N exact dedup against a PERSISTED corpus index — the
    * incremental form of [[bloomPrefilterDedup]]. One corpus pass
    * persists (md5 digest, corpus_id) plus the bloom bytes; every
    * subsequent batch probes the bloom map-side and joins survivors
    * against the digest index on the 128-bit digest — the corpus text
    * is NEVER re-read. md5 stands in for the text-equality verify (a
    * 128-bit collision is ~2^-64 at any feasible corpus size, the same
    * contract content-addressed stores run on), which is what keeps the
    * index at ~48 bytes/doc instead of a corpus copy. Recurring cost:
    * O(batch) signatures + one equi-join against the index.
    */
  def incrementalBloomDedup(spark: SparkSession, docs: DataFrame,
      indexKey: String): DataFrame = {
    val root = sys.props.getOrElse("graft.index.root",
      sys.props("java.io.tmpdir"))
    val dir = s"$root/graft-bloom-index-v$BloomFormulaVersion-" +
      indexKey.replaceAll("[^A-Za-z0-9.]", "_")
    val digestsDir = s"$dir/digests"
    val bloomFile = java.nio.file.Paths.get(s"$dir/bloom.bin")
    if (!new java.io.File(s"$digestsDir/_SUCCESS").exists ||
        !java.nio.file.Files.exists(bloomFile)) {
      bloomIndexBuilds.incrementAndGet()
      docs.select(md5(col("text")).as("digest"), col("doc_id").as("corpus_id"))
        .write.mode("overwrite").parquet(digestsDir)
      val bytes = docs.agg(expr("bloom_filter_agg(text, 1000000L)"))
        .head.getAs[Array[Byte]](0)
      java.nio.file.Files.write(bloomFile, bytes)
    }
    val bloomBytes = java.nio.file.Files.readAllBytes(bloomFile)
    val index = spark.read.parquet(digestsDir)
    val suspects = dayNBatch(docs)
      .filter(call_function("bloom_might_contain", lit(bloomBytes), col("text")))
      .select(col("doc_id"), md5(col("text")).as("digest"))
    suspects.join(index, "digest")
      .groupBy("doc_id")
      .agg(min("corpus_id").as("dup_of"), count(lit(1)).as("n_copies"))
      .orderBy("doc_id")
  }

  /** Streaming bloom-prefiltered exact dedup — the continuous form of
    * [[bloomPrefilterDedup]]: the historical corpus's bloom is built
    * ONCE batch-side and embedded as a binary literal in the streaming
    * filter (the sketch is a broadcast-sized artifact by design — the
    * one driver-side collect here is the sketch itself, never data), so
    * the stream is prefiltered MAP-SIDE with zero streaming state;
    * survivors exact-verify through a stream-static equi-join on the
    * LONG digest with text equality in the same condition. Emits one
    * (doc_id, corpus_id) row per exact duplicate — append-mode safe;
    * StreamingSpec pins parity with the batch pipeline's aggregates.
    */
  def streamingBloomDedup(streamDocs: DataFrame, staticDocs: DataFrame): DataFrame = {
    val corpus = staticDocs.select(col("doc_id").as("corpus_id"), col("text"))
    val bloomBytes = corpus.agg(expr("bloom_filter_agg(text, 1000000L)"))
      .head.getAs[Array[Byte]](0)
    val suspects = streamDocs
      .filter(call_function("bloom_might_contain", lit(bloomBytes), col("text")))
      .select(col("doc_id"), col("text"), xxhash64(col("text")).as("digest"))
    val corpusKeyed = corpus.withColumn("digest", xxhash64(col("text")))
    suspects.join(corpusKeyed,
        suspects("digest") === corpusKeyed("digest") &&
          suspects("text") === corpusKeyed("text"))
      .select(suspects("doc_id"), col("corpus_id"))
  }

  /** Map-side minhash band keys: the same signature values as
    * bandedDocKeys (per shingle h = xxhash64(s); per permutation
    * p_i = xxhash64(i, h); sig_i = min over shingles; band key =
    * xxhash64(b, sig[4b..4b+3])) computed WITHOUT the explode+groupBy
    * shuffle — the min folds over the shingle array per row with array
    * HOFs. Stateless per row, which is what makes the STREAMING ingest
    * path possible (a streaming groupBy would need watermarked state);
    * the batch path keeps the explode shape because codegen'd partial
    * aggregation beats interpreted lambdas on a 100 TB scan, while a
    * per-batch stream is small by construction. Returns
    * (doc_id, shingles, band_key); shingles ride along for the exact
    * verification join downstream.
    */
  def mapSideBandKeys(docs: DataFrame, perms: Int = MinhashPerms,
      bands: Int = MinhashBands): DataFrame = {
    val sh = withShingles(docs).select(col("doc_id"), col("shingles"))
    // projection barrier (filter) keeps `hs` a bound attribute — same
    // collapse pitfall as withShingles, same fix
    val hashed = sh.withColumn("hs", transform(col("shingles"), s => xxhash64(s)))
      .filter(size(col("hs")) >= 1)
    val sigCols = (0 until perms).map(i =>
      array_min(transform(col("hs"), h => xxhash64(lit(i), h))).as(s"s$i"))
    val sig = hashed.select(col("doc_id") +: col("shingles") +: sigCols: _*)
    val rowsPerBand = perms / bands
    val bandKeys = (0 until bands).map { b =>
      xxhash64(lit(b) +: (0 until rowsPerBand).map(r => col(s"s${b * rowsPerBand + r}")): _*)
    }
    sig.select(col("doc_id"), col("shingles"),
      explode(array(bandKeys: _*)).as("band_key"))
  }

  /** Streaming near-dup ingestion — the continuous form of
    * incrementalMinhashPairs: a stream of new documents is signatured
    * map-side (no stateful aggregation), stream-static-joined against
    * the persisted (band_key, doc_id) index, and exact-verified against
    * the historical shingles, all inside one Structured Streaming query.
    * Every stage is stateless except the final dropDuplicates (pair
    * emission is at-least-once across bands; production would bound that
    * state with a watermark on ingestion time).
    *
    * Skew guard: band keys already saturated IN THE INDEX (membership >
    * MinhashMaxBucket) are dropped before the join — computed on the
    * static side, so it stays a plain batch aggregation. StreamingSpec
    * pins parity with the batch incremental pipeline's new↔old pairs.
    */
  def streamingMinhashPairs(streamDocs: DataFrame, staticDocs: DataFrame,
      indexDf: DataFrame, threshold: Double = 0.5): DataFrame = {
    val okIndex = {
      val counts = indexDf.groupBy("band_key").agg(count(lit(1)).as("m"))
        .filter(col("m") <= MinhashMaxBucket).select("band_key")
      indexDf.join(counts, "band_key")
        .select(col("band_key"), col("doc_id").as("doc_old"))
    }
    val oldSh = withShingles(staticDocs)
      .select(col("doc_id").as("doc_old"), col("shingles").as("sh_old"))
    mapSideBandKeys(streamDocs)
      .join(okIndex, "band_key")                     // stream-static, stateless
      .join(oldSh, "doc_old")                        // stream-static, stateless
      // count-derived |∪| — see minhashPairsUnordered (bit-identical)
      .withColumn("inter",
        size(array_intersect(col("shingles"), col("sh_old"))).cast("double"))
      .withColumn("jaccard", col("inter") /
        (size(col("shingles")) + size(col("sh_old")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(least(col("doc_id"), col("doc_old")).as("doc_a"),
        greatest(col("doc_id"), col("doc_old")).as("doc_b"),
        round(col("jaccard"), 4).as("jaccard"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** 64-bit SimHash near-dup pairs, same codegen-first shape: explode
    * tokens → one hash per token → 64 per-bit ±1 contributions summed in a
    * single grouped aggregation → simhash assembled with bitwise OR →
    * 4×16-bit bands → within-bucket pairs filtered by exact hamming ≤ 3
    * (banding by 16-bit quarters guarantees recall for hamming ≤ 3).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // NOT spread (A/B'd twice in round 16, incl. once after the one-pass
    // tokenizer landed: lockstep ratio 0.97 spread vs 0.78 unspread —
    // the extra exchange + stage costs more than the ~0.3 s single-task
    // map work it parallelizes at gate scale)
    val toks = docs.withColumn("tokens", tokensCol)
      .filter(size(col("tokens")) > 0)
      .select(col("doc_id"), array_distinct(col("tokens")).as("tokens"))
    val th = toks.select(col("doc_id"), explode(col("tokens")).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    // branch-free sign: bit 1 → +1, bit 0 → -1 as 2·bit - 1 (same value
    // as the when() form, no ~50%-mispredicted branch on a random bit)
    val contrib = th.select(
      col("doc_id") +: (0 until 64).map { b =>
        (shiftright(col("h"), b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"c$b")
      }: _*)
    val sums = contrib.groupBy("doc_id")
      .agg(sum("c0").as("b0"), (1 until 64).map(b => sum(s"c$b").as(s"b$b")): _*)
    val simhash = (0 until 64)
      .map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    val sh = sums.select(col("doc_id"), simhash.as("simhash"))
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(lit(65535L))
          .bitwiseOR(lit(b.toLong << 32))): _*)).as("band_key"))
    // Same skew guard as minhash: a duplicate-saturated (or low-entropy —
    // near-empty docs all land in one quarter) band bucket would otherwise
    // cost bucket² pairs and an unbounded collect buffer. Recall argument:
    // 4 bands, so a doc dropped from one saturated quarter still pairs
    // through its 3 other quarters, and a bucket that hot is mutual
    // near-dups anyway — a dedup consumer keeps survivors, not every edge.
    val buckets = banded.groupBy("band_key")
      .agg(sort_array(expr(
        s"bounded_collect_list(struct(doc_id, simhash), $MinhashMaxBucket)")).as("members"))
      .filter(size(col("members")) > 1)
    buckets
      .select(posexplode(col("members")).as(Seq("i", "a")), col("members"))
      .select(col("a"), explode(slice(col("members"), col("i") + 2, size(col("members")))).as("b"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Connected components over an undirected pair graph (doc_a, doc_b):
    * (id, label) with label = the smallest doc_id in the component.
    *
    * `driverMaxEdges` is the edge-count ceiling for the driver
    * union-find path — the order of magnitude Spark itself collects for
    * a broadcast relation (1M (long,long) edges ≈ 16 MB); 0 forces the
    * distributed path, which alternates large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): a path graph of diameter d converges in O(log d) rounds,
    * so adversarially long chains need no diameter-sized cap. Each round
    * is two grouped aggregations + joins; edges are kept canonical
    * (lo < hi) and deduped, so the edge set shrinks toward the star
    * forest and convergence is edge-set stability (count + an
    * order-independent hash fingerprint). `localCheckpoint` truncates
    * the growing lineage (on a real cluster: `checkpoint` to reliable
    * storage). A graph that does not stabilize within `maxIters` rounds
    * throws rather than return partial, wrong labels.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25,
      driverMaxEdges: Long = 1000000L): DataFrame = {
    // materialize the pair generation ONCE: the edge count and either
    // path both read it, and without this the (possibly quadratic) pair
    // join runs twice —
    // measured 11.6 s → 6 s at sf0.1 on the exact-Jaccard graph
    val p0 = pairs.select(col("doc_a").as("a"), col("doc_b").as("b")).localCheckpoint(true)
    // Small-graph fast path (round 16, guide §1.2: the distributed loop
    // costs several scheduler round-trips per round REGARDLESS of size —
    // pure latency when the pair graph is tiny). Counting the
    // checkpointed edges is one cheap job; under the broadcast-sized
    // ceiling the components close on the driver in one pass with
    // union-find. Same labels by construction (min doc_id reachable);
    // TextOpsSpec pins the two paths equal.
    val nEdges = p0.count()
    if (nEdges <= driverMaxEdges) {
      val spark = p0.sparkSession
      import spark.implicits._
      val es = p0.collect()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // roots carry the component minimum because union always keeps the
      // smaller root
      val labels = parent.keysIterator.map(id => (id, find(id))).toSeq
      return labels.toDF("id", "label")
    }

    def canon(e: DataFrame): DataFrame = e
      .select(least(col("a"), col("b")).as("lo"), greatest(col("a"), col("b")).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct()

    // large-star: every neighbor v > u links to min(Γ(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("lo").as("u"), col("hi").as("v"))
        .union(e.select(col("hi").as("u"), col("lo").as("v")))
      val m = nbrs.groupBy("u").agg(min(least(col("v"), col("u"))).as("m"))
      canon(nbrs.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b")))
    }

    // small-star: every neighbor v < u (and u itself) links to the
    // minimum of u's smaller neighborhood
    def smallStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("hi").as("u"), col("lo").as("v")) // v < u
      val m = nbrs.groupBy("u").agg(min("v").as("m"))
      canon(nbrs.join(m, "u").select(col("v").as("a"), col("m").as("b"))
        .union(m.select(col("u").as("a"), col("m").as("b"))))
    }

    def fingerprint(e: DataFrame): (Long, Long) = {
      // bit_xor: order-independent and overflow-free under ANSI mode
      // (sum would throw ARITHMETIC_OVERFLOW on long hash values)
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(lo, hi))"), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }

    var edges = canon(p0).localCheckpoint(true)
    var fp = fingerprint(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nfp = fingerprint(next)
      converged = nfp == fp
      edges = next
      fp = nfp
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters rounds; partial " +
        "labels would be incorrect, refusing to return them")
    // stable state is a star forest rooted at each component minimum
    edges.select(col("hi").as("id"), col("lo").as("label"))
      .union(edges.select(col("lo").as("id"), col("lo").as("label")))
      .groupBy("id").agg(min("label").as("label"))
  }

  /** Exact substring duplication signals — the span-level primitive of
    * ExactSubstr deduplication (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499): a character
    * k-gram occurring more than once in the corpus marks its start
    * position as duplicated, and runs of consecutive duplicated starts
    * merge into maximal duplicated spans (a gaps-and-islands rewrite of
    * the paper's suffix-array scan). Returns per-document span counts,
    * duplicated character totals, and the duplicated fraction.
    *
    * Scale: gram generation is a map-side explode (L rows per L-char
    * document — at real corpus scale use a stride > 1 and token-level
    * grams, both parameter changes, not plan changes); the duplicate-gram
    * census is one partially-aggregated hash shuffle on the gram; the
    * position join shuffles on the same key; the island merge is one
    * per-document window bounded by document length. A boilerplate gram
    * shared by millions of documents stays one aggregation row — the
    * count census never materializes pairs.
    */
  def duplicatedSpans(docs: DataFrame, k: Int = 20): DataFrame =
    duplicatedSpans(docs, k, None, CensusThreshold)

  /** Hottest-gram position count past which the census picks the salted
    * plan: the measured trigger where the unsplittable single-task
    * window sort dominates (BENCHLOG round 12 skew table). */
  private[graft] val CensusThreshold = 10000000L

  /** [[duplicatedSpans]] with its plan choice opened for specs: `salt`
    * forces the plan (0/1 = single window, > 1 = salted with that many
    * buckets) and skips the census; `threshold` moves the census
    * trigger. */
  private[graft] def duplicatedSpans(docs: DataFrame, k: Int,
      salt: Option[Int], threshold: Long): DataFrame = {
    // One shuffle, hashed keys (round-11 rework, A/B'd on the m10 stress
    // corpus: 17.0 → see BENCHLOG): the gram census + join-back pair
    // (two full-corpus shuffles carrying 20-char strings, with the
    // explode+substring subtree evaluated on both) collapses into a
    // single window count over xxhash64(gram) — the shuffle carries
    // (doc_id, p, gh) at 8-byte keys, the gram text never leaves the
    // map side, and the explode runs once. A 64-bit collision would
    // mark one stray position duplicated (~1e-6 birthday odds against
    // the FIXED gate/stress corpora — deterministic, verified green);
    // spark.graft.exactSubstring.wideHash=true keys on TWO independent
    // xxhash64 columns (128 bits — collision odds vanish) for corpora
    // where exactness must hold unconditionally.
    //
    // Skew (round 12; history: measured with a since-retired gram-skew
    // stress main): one ultra-hot gram (repeated boilerplate — real in
    // web data) puts ALL its positions in a single window partition;
    // the window cannot be split. A salt S > 1 switches to a salted
    // two-level window: ONE shuffle keyed (salt(doc_id,p) % S, gh) —
    // the hot gram spreads across S tasks — computes per-bucket counts
    // plus a per-bucket representative row. Rows whose bucket count
    // c > 1 are duplicated outright; the cross-salt residue (bucket
    // singletons, plus one representative per multi-row bucket so
    // "another bucket exists" is visible) is ≤ 2S rows per gram, so
    // its per-gh count window is skew-free by construction: a
    // singleton's gram is duplicated iff any other bucket row exists.
    // Same duplicated-position set (spec-pinned equal); the price is
    // the two branches re-running the window over the reused exchange.
    // On non-skewed corpora the single-window plan wins (BENCHLOG skew
    // table), so the salt must only engage when the skew is real.
    //
    // The census decides (round 13, VERDICT ask 6): a cheap probe
    // estimates the hottest gram's position count — per-gram counts
    // over a deterministic 1/16 document sample, max × 16 — and picks
    // the salted plan (S = 32) past `CensusThreshold`. The
    // probe is one sampled hash-aggregate job (map-side combined, 8-byte
    // keys) — measured ~0.3 s at bench scale (round-14 interleaved
    // auto-on/auto-off A/B: plan 0.40-0.46 s vs 0.10-0.19 s, exec
    // identical — the r13 "free at bench scale" claim was wrong, it was
    // ~10% of the query), and O(1/16 of one pass) at any scale. Since
    // round 14 the census is CACHED per (input plan semanticHash, k):
    // repeated invocations over the same input (bench reruns, iterative
    // pipelines) probe once; a new batch/path is a new plan hash and
    // re-probes. Caveat: same-path data overwritten mid-session reuses
    // the cached decision — consistent with Spark's own session-scoped
    // file-listing caches, and the decision only picks a plan SHAPE.
    // The decision is posted as a Decision event for graft.QueryTrace.
    val spark = docs.sparkSession
    val wideHash = spark.conf.getOption("spark.graft.exactSubstring.wideHash")
      .exists(_.toBoolean)
    val keyCols = if (wideHash) Seq("gh", "gh2") else Seq("gh")
    // size-gated scan spread (guide §2.5): the L-per-document gram
    // explode + hash is map-side work on a one-split gate fixture
    val sdocs = Spread.bySize(docs, col("doc_id"))
    val grams0 = sdocs.where(length(col("text")) >= k)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - (k - 1))).as("p"))
      .select(col("doc_id"), col("p"),
        col("text").substr(col("p"), lit(k)).as("g"))
    val grams = grams0.select(
      Seq(col("doc_id"), col("p"), xxhash64(col("g")).as("gh")) ++
        (if (wideHash) Seq(xxhash64(lit(0x9E3779B9L), col("g")).as("gh2"))
         else Nil): _*)
    val saltN = salt.getOrElse {
      val cacheKey = (docs.queryExecution.analyzed.semanticHash(), k, threshold)
      val cachedPick = censusCache.get(cacheKey)
      if (cachedPick != null) {
        Decision.post(spark.sparkContext, "exactSubstring.salt", cachedPick._2 + " (cached census)")
        cachedPick._1.intValue()
      } else {
        // DOCUMENT-level sample (filter BEFORE the explode, so the
        // probe scans 1/16 of the text — position-level sampling costs
        // a full explode pass, measured +15% on the bench query).
        // Blind spot: a hot gram confined to ONE giant document is
        // missed 15/16 of the time — acceptable because that shape's
        // single-task sort is bounded by max document length, not
        // corpus size; the cross-document boilerplate that actually
        // grows with corpus size spans thousands of docs and is
        // cluster-sampled accurately (stress: est 7.94M vs 7.96M true).
        val probe = sdocs.where(length(col("text")) >= k)
          .where(pmod(xxhash64(col("doc_id")), lit(16L)) === 0)
          .select(col("doc_id"),
            explode(sequence(lit(1), length(col("text")) - (k - 1))).as("p"),
            col("text"))
          .select(xxhash64(col("text").substr(col("p"), lit(k))).as("gh"))
          .groupBy("gh").agg(count(lit(1)).as("c"))
          .agg(max(col("c")).as("m")).collect()(0)
        val est = (if (probe.isNullAt(0)) 0L else probe.getLong(0)) * 16L
        val pick = if (est > threshold) 32 else 0
        val plan = s"${if (pick > 1) s"salted-$pick" else "window"}" +
          s" (hottest-gram census est ~$est positions, threshold $threshold)"
        Decision.post(spark.sparkContext, "exactSubstring.salt", plan)
        censusCache.put(cacheKey, (Integer.valueOf(pick), plan))
        pick
      }
    }
    val dpos =
      if (saltN <= 1) {
        grams
          .withColumn("n",
            count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
          .where(col("n") > 1).select("doc_id", "p")
      } else {
        val salted = grams.withColumn("salt",
          pmod(xxhash64(col("doc_id"), col("p")), lit(saltN.toLong)))
        val w1 = Window.partitionBy(("salt" +: keyCols).map(col): _*)
        val marked = salted
          .withColumn("c", count(lit(1)).over(w1))
          .withColumn("rn",
            row_number().over(w1.orderBy(col("doc_id"), col("p"))))
        val sure = marked.where(col("c") > 1).select("doc_id", "p")
        val w2 = Window.partitionBy(keyCols.map(col): _*)
        val fromSingles = marked
          .where(col("c") === 1 || col("rn") === 1)
          .withColumn("m", count(lit(1)).over(w2))
          .where(col("c") === 1 && col("m") > 1)
          .select("doc_id", "p")
        sure.union(fromSingles)
      }
    val w = Window.partitionBy("doc_id").orderBy("p")
    val spans = dpos.withColumn("grp", col("p") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min(col("p")).as("s"), (max(col("p")) + (k - 1)).as("e"))
    spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_chars"))
      .join(docs.select(col("doc_id"), length(col("text")).as("len")), "doc_id")
      .select(col("doc_id"), col("n_spans"), col("dup_chars"),
        round(col("dup_chars").cast("double") / col("len"), 4).as("dup_frac"))
  }

  /** Exact token-Jaccard ≥ 0.8 pairs within a source bucket (the
    * quadratic-within-group oracle twin of the LSH candidate path).
    */
  private def exactJaccardPairs(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("source"), array_distinct(tokensCol).as("tokens"))
      .withColumn("n", size(col("tokens")))
    val a = toks.select(col("doc_id").as("doc_a"), col("source").as("src_a"),
      col("tokens").as("tok_a"), col("n").as("n_a"))
    val b = toks.select(col("doc_id").as("doc_b"), col("source").as("src_b"),
      col("tokens").as("tok_b"), col("n").as("n_b"))
    // size-compatibility prefilter: jaccard >= 0.8 forces |∩| <= min and
    // |∩| >= 0.8·|∪| >= 0.8·max, so min >= 0.8·max — checked in exact
    // integer arithmetic (5·min >= 4·max; a float 0.8 would wrongly drop
    // the exact-0.8 boundary). Cuts the expensive per-pair intersect to
    // the few size-compatible candidates (30.6 s → measured rerun below),
    // and |∪| derives from counts (|A|+|B|−|∩|) instead of a second
    // array materialization. Pure optimizations: the emitted pair set
    // and jaccard doubles are bit-identical (integer-valued arithmetic).
    a.join(b, col("src_a") === col("src_b") && col("doc_a") < col("doc_b") &&
        col("n_b") * 4 <= col("n_a") * 5 && col("n_a") * 4 <= col("n_b") * 5)
      .withColumn("inter", size(array_intersect(col("tok_a"), col("tok_b"))).cast("double"))
      .withColumn("jaccard", col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= 0.8)
  }

  /** (doc_id, cluster, cluster_size) for every doc in the pair graph. */
  private def clustersOf(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("label").as("cluster"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster")))
      .orderBy("doc_id")

  /** Shared DuckDB derivation for the portable-banding oracles: the
    * bit-for-bit replay of [[portableBandedDocKeys]] — tokens, distinct
    * word-3-gram shingles, char-fold shingle hashes, 8 affine
    * permutation minima, and the two seeded 4-minima band folds. Ends
    * with CTEs `sig(doc_id, shingles, s0..s7)` and
    * `banded(doc_id, band_key)` for the per-query tail to consume.
    */
  private val PortableMinhashSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), t -> t <> '') AS tokens
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(tokens) - 1),
      |      i -> array_to_string(list_slice(tokens, i, i + 2), ' '))) AS shingles
      |  FROM toks WHERE len(tokens) >= 3),
      |hs AS (
      |  SELECT doc_id, shingles,
      |    list_transform(shingles, g ->
      |      list_reduce(list_prepend(CAST(7 AS BIGINT),
      |        list_transform(string_split(g, ''), c -> CAST(ascii(c) AS BIGINT))),
      |        (a, c) -> (a * 31 + c) % 2147483648)) AS harr
      |  FROM sh),
      |sig AS (
      |  SELECT doc_id, shingles,
      |    list_min(list_transform(harr, h -> (h * 12347 + 7) % 2147483647)) AS s0,
      |    list_min(list_transform(harr, h -> (h * 24691 + 69076) % 2147483647)) AS s1,
      |    list_min(list_transform(harr, h -> (h * 37035 + 138145) % 2147483647)) AS s2,
      |    list_min(list_transform(harr, h -> (h * 49379 + 207214) % 2147483647)) AS s3,
      |    list_min(list_transform(harr, h -> (h * 61723 + 276283) % 2147483647)) AS s4,
      |    list_min(list_transform(harr, h -> (h * 74067 + 345352) % 2147483647)) AS s5,
      |    list_min(list_transform(harr, h -> (h * 86411 + 414421) % 2147483647)) AS s6,
      |    list_min(list_transform(harr, h -> (h * 98755 + 483490) % 2147483647)) AS s7
      |  FROM hs),
      |banded AS (
      |  SELECT doc_id, unnest([
      |    ((((CAST(0 AS BIGINT) * 31 + s0) * 31 + s1) * 31 + s2) * 31 + s3) % 2147483648,
      |    ((((CAST(1 AS BIGINT) * 31 + s4) * 31 + s5) * 31 + s6) * 31 + s7) % 2147483648
      |  ]) AS band_key
      |  FROM sig)""".stripMargin

  def defs = Seq(
    // ── exact dedup: hash-groupBy on content digest (one shuffle) ──
    q("dd_exact",
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper,
        |  count(*) AS n_copies
        |FROM documents
        |GROUP BY md5(text)
        |HAVING count(*) > 0
        |ORDER BY content_hash""".stripMargin) { (s, _) =>
      s.table("documents")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("content_hash")
    },

    // exact-dedup survivor set (what a pipeline would pass downstream)
    q("dd_exact_survivors",
      """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
        |  count(*) - count(DISTINCT md5(text)) AS n_dropped
        |FROM documents""".stripMargin) { (s, _) =>
      s.table("documents").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dropped"))
    },

    // ── MinHash + LSH near-dup candidate pairs (16 bands × 4 rows) ──
    // Engine-specific hashing → no SQL oracle; TextOpsSpec validates the
    // candidates against exact Jaccard ground truth.
    qNoOracle("dd_minhash_lsh") { (s, _) =>
      minhashPairs(s.table("documents"))
    },
    // incremental ingestion against the persisted band index (parity
    // with the batch pairs pinned in TextOpsSpec)
    qNoOracle("dd_incremental_minhash") { (s, dir) =>
      incrementalMinhashPairs(s, s.table("documents"), dir)
    },

    // ── incremental-ingestion ORACLE twin: the row above is no_oracle
    // only because of xxhash64; this runs the SAME incremental machinery
    // (index persisted once for the even-doc_id "corpus", batch = odd
    // doc_ids signatured alone, band census + 256 cap, the
    // new-initiates candidate rule, exact-jaccard verify) with
    // [[portableBandedDocKeys]] plugged in, and DuckDB replays the
    // entire day-N semantics — census, candidate rule and all — from
    // the same arithmetic. ──
    q("dd_incremental_minhash_portable",
      PortableMinhashSql + """,
        |ok AS (SELECT band_key FROM banded GROUP BY band_key
        |       HAVING count(*) > 1 AND count(*) <= 256),
        |n AS (SELECT b.band_key, b.doc_id AS id_new
        |      FROM banded b JOIN ok USING (band_key) WHERE b.doc_id % 2 = 1),
        |o AS (SELECT b.band_key, b.doc_id AS id_other
        |      FROM banded b JOIN ok USING (band_key)),
        |cands AS (
        |  SELECT DISTINCT least(id_new, id_other) AS doc_a,
        |    greatest(id_new, id_other) AS doc_b
        |  FROM n JOIN o USING (band_key)
        |  WHERE id_other % 2 = 0 OR id_other < id_new),
        |j AS (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        |      / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
        |  FROM cands JOIN sig sa ON sa.doc_id = doc_a
        |             JOIN sig sb ON sb.doc_id = doc_b)
        |SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard
        |FROM j WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      incrementalMinhashPairs(s, s.table("documents"), dir,
        keyFn = Some(portableBandedDocKeys), variant = "portable8x2")
    },

    // ── Bloom-prefiltered exact dedup vs a historical corpus ──
    // The bloom is an internal prefilter with no false negatives, so the
    // result equals the plain exact join — which IS the oracle.
    q("dd_bloom_prefilter",
      """WITH batch AS (
        |  SELECT doc_id + 1000000 AS doc_id, text
        |  FROM documents WHERE doc_id % 10 = 3
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    'fresh crawl ' || doc_id || ' ' || substr(text, 1, 40) AS text
        |  FROM documents WHERE doc_id % 10 = 7
        |)
        |SELECT b.doc_id, min(o.doc_id) AS dup_of, count(*) AS n_copies
        |FROM batch b JOIN documents o ON b.text = o.text
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin) { (s, _) =>
      bloomPrefilterDedup(s.table("documents"))
    },

    // the persisted-index form: same result (md5 digest join ≡ text
    // equality at any feasible corpus size), but the recurring day-N
    // cost never re-reads the corpus — oracle identical to
    // dd_bloom_prefilter by construction
    q("dd_bloom_incremental",
      """WITH batch AS (
        |  SELECT doc_id + 1000000 AS doc_id, text
        |  FROM documents WHERE doc_id % 10 = 3
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    'fresh crawl ' || doc_id || ' ' || substr(text, 1, 40) AS text
        |  FROM documents WHERE doc_id % 10 = 7
        |)
        |SELECT b.doc_id, min(o.doc_id) AS dup_of, count(*) AS n_copies
        |FROM batch b JOIN documents o ON md5(b.text) = md5(o.text)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      incrementalBloomDedup(s, s.table("documents"), dir)
    },

    // ── SimHash (64-bit) + banded hamming-distance candidate pairs ──
    qNoOracle("dd_simhash") { (s, _) =>
      simhashPairs(s.table("documents"))
    },

    // ── SimHash algorithm-parity twin: the production path above uses
    // xxhash64 (engine-specific → no SQL oracle), so this twin replays
    // the ENTIRE simhash derivation — token hash, per-bit weight vote,
    // signature assembly, popcount — with a PORTABLE char-fold hash
    // (h = (h*31 + codepoint) mod 2^31) both engines compute from the
    // same arithmetic. The oracle is a bit-for-bit independent
    // reimplementation in DuckDB SQL (list_reduce vs aggregate()), the
    // same role dd_ngram_jaccard plays for the minhash family. 24-bit
    // signature keeps the weight votes small; w == 0 votes resolve to
    // bit 0 on both sides by the shared `w > 0` rule. ──
    q("dd_simhash_portable",
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), t -> t <> '')) AS tokens
        |  FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(7 AS BIGINT),
        |      list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      (a, c) -> (a * 31 + c) % 2147483648) AS h
        |  FROM (SELECT doc_id, unnest(tokens) AS tok FROM toks WHERE len(tokens) > 0)),
        |bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (h // CAST(power(2, b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS w
        |  FROM th CROSS JOIN range(0, 24) bt(b)
        |  GROUP BY doc_id, b),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN w > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
        |  FROM bits GROUP BY doc_id)
        |SELECT doc_id, sig, CAST(bit_count(sig) AS BIGINT) AS popcnt
        |FROM sig ORDER BY doc_id""".stripMargin) { (s, _) =>
      s.sql(
        """WITH toks AS (
          |  SELECT doc_id,
          |    array_distinct(filter(split(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' +'), t -> t != '')) AS tokens
          |  FROM documents),
          |th AS (
          |  SELECT doc_id,
          |    aggregate(transform(split(tok, ''), c -> CAST(ascii(c) AS BIGINT)),
          |      CAST(7 AS BIGINT), (a, c) -> (a * 31 + c) % 2147483648) AS h
          |  FROM (SELECT doc_id, explode(tokens) AS tok FROM toks WHERE size(tokens) > 0)),
          |bits AS (
          |  SELECT doc_id, b,
          |    sum(CASE WHEN (h div CAST(power(2, b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS w
          |  FROM th CROSS JOIN (SELECT id AS b FROM range(0, 24))
          |  GROUP BY doc_id, b),
          |sig AS (
          |  SELECT doc_id,
          |    CAST(sum(CASE WHEN w > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
          |  FROM bits GROUP BY doc_id)
          |SELECT doc_id, sig, CAST(bit_count(sig) AS BIGINT) AS popcnt
          |FROM sig ORDER BY doc_id""".stripMargin)
    },

    // ── MinHash algorithm-parity twin: like dd_simhash_portable, but
    // for the minhash signature path — shingle hash (portable
    // char-fold), 8 affine permutations, per-permutation minimum, and a
    // folded band key, all replayed bit-for-bit by an independent
    // DuckDB implementation (list_min/list_transform vs
    // array_min/transform — no explode: the permutation minima fold
    // over the shingle-hash array directly). The production path's
    // xxhash64 signatures stay spec-verified for recall; THIS pins the
    // signature/banding algebra itself. ──
    q("dd_minhash_portable",
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), t -> t <> '') AS tokens
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tokens) - 1),
        |      i -> array_to_string(list_slice(tokens, i, i + 2), ' '))) AS shingles
        |  FROM toks WHERE len(tokens) >= 3),
        |hs AS (
        |  SELECT doc_id,
        |    list_transform(shingles, g ->
        |      list_reduce(list_prepend(CAST(7 AS BIGINT),
        |        list_transform(string_split(g, ''), c -> CAST(ascii(c) AS BIGINT))),
        |        (a, c) -> (a * 31 + c) % 2147483648)) AS harr
        |  FROM sh)
        |SELECT doc_id,
        |  list_min(list_transform(harr, h -> (h * 12347 + 7) % 2147483647)) AS s0,
        |  list_min(list_transform(harr, h -> (h * 24691 + 69076) % 2147483647)) AS s1,
        |  list_min(list_transform(harr, h -> (h * 37035 + 138145) % 2147483647)) AS s2,
        |  list_min(list_transform(harr, h -> (h * 49379 + 207214) % 2147483647)) AS s3,
        |  list_min(list_transform(harr, h -> (h * 61723 + 276283) % 2147483647)) AS s4,
        |  list_min(list_transform(harr, h -> (h * 74067 + 345352) % 2147483647)) AS s5,
        |  list_min(list_transform(harr, h -> (h * 86411 + 414421) % 2147483647)) AS s6,
        |  list_min(list_transform(harr, h -> (h * 98755 + 483490) % 2147483647)) AS s7,
        |  ((list_min(list_transform(harr, h -> (h * 12347 + 7) % 2147483647)) * 31
        |    + list_min(list_transform(harr, h -> (h * 24691 + 69076) % 2147483647))) * 31
        |    + list_min(list_transform(harr, h -> (h * 37035 + 138145) % 2147483647))) % 2147483648 AS band0
        |FROM hs ORDER BY doc_id""".stripMargin) { (s, _) =>
      s.sql(
        """WITH toks AS (
          |  SELECT doc_id,
          |    filter(split(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' +'), t -> t != '') AS tokens
          |  FROM documents),
          |sh AS (
          |  SELECT doc_id,
          |    array_distinct(transform(sequence(1, size(tokens) - 2),
          |      i -> concat_ws(' ', element_at(tokens, i), element_at(tokens, i + 1), element_at(tokens, i + 2)))) AS shingles
          |  FROM toks WHERE size(tokens) >= 3),
          |hs AS (
          |  SELECT doc_id,
          |    transform(shingles, g ->
          |      aggregate(transform(split(g, ''), c -> CAST(ascii(c) AS BIGINT)),
          |        CAST(7 AS BIGINT), (a, c) -> (a * 31 + c) % 2147483648)) AS harr
          |  FROM sh)
          |SELECT doc_id,
          |  array_min(transform(harr, h -> (h * 12347 + 7) % 2147483647)) AS s0,
          |  array_min(transform(harr, h -> (h * 24691 + 69076) % 2147483647)) AS s1,
          |  array_min(transform(harr, h -> (h * 37035 + 138145) % 2147483647)) AS s2,
          |  array_min(transform(harr, h -> (h * 49379 + 207214) % 2147483647)) AS s3,
          |  array_min(transform(harr, h -> (h * 61723 + 276283) % 2147483647)) AS s4,
          |  array_min(transform(harr, h -> (h * 74067 + 345352) % 2147483647)) AS s5,
          |  array_min(transform(harr, h -> (h * 86411 + 414421) % 2147483647)) AS s6,
          |  array_min(transform(harr, h -> (h * 98755 + 483490) % 2147483647)) AS s7,
          |  ((array_min(transform(harr, h -> (h * 12347 + 7) % 2147483647)) * 31
          |    + array_min(transform(harr, h -> (h * 24691 + 69076) % 2147483647))) * 31
          |    + array_min(transform(harr, h -> (h * 37035 + 138145) % 2147483647))) % 2147483648 AS band0
          |FROM hs ORDER BY doc_id""".stripMargin)
    },

    // ── exact n-gram Jaccard, all pairs within a source bucket ──
    // (quadratic-within-group: the oracle twin of dd_minhash_lsh)
    // Exact-substring duplication (Lee et al. 2021 ExactSubstr): maximal
    // duplicated character-20-gram spans per document. The DuckDB twin
    // replays the identical gram census + gaps-and-islands merge.
    q("dd_exact_substring",
      """WITH pos0 AS (
        |  SELECT doc_id, text, unnest(range(1, length(text) - 18)) AS p
        |  FROM documents WHERE length(text) >= 20
        |),
        |pos AS (
        |  SELECT doc_id, CAST(p AS INT) AS p,
        |    substr(text, CAST(p AS INT), 20) AS gram
        |  FROM pos0
        |),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) > 1),
        |dpos AS (SELECT doc_id, p FROM pos WHERE gram IN (SELECT gram FROM dup)),
        |isl AS (SELECT doc_id, p,
        |  p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM dpos),
        |spans AS (SELECT doc_id, grp, min(p) AS s, max(p) + 19 AS e
        |  FROM isl GROUP BY doc_id, grp),
        |agg AS (SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS dup_chars
        |  FROM spans GROUP BY doc_id)
        |SELECT a.doc_id, CAST(n_spans AS BIGINT) AS n_spans,
        |  CAST(dup_chars AS BIGINT) AS dup_chars,
        |  round(CAST(dup_chars AS DOUBLE) / length(d.text), 4) AS dup_frac
        |FROM agg a JOIN documents d ON a.doc_id = d.doc_id
        |ORDER BY a.doc_id""".stripMargin) { (s, _) =>
      duplicatedSpans(s.table("documents"), k = 20)
        .select(col("doc_id"), col("n_spans"),
          col("dup_chars").cast("long").as("dup_chars"), col("dup_frac"))
        .orderBy("doc_id")
    },

    q("dd_ngram_jaccard",
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), t -> t <> '')) AS tokens
        |  FROM documents
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.tokens, b.tokens))), 4) AS jaccard
        |FROM toks a JOIN toks b
        |  ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.tokens, b.tokens))) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, _) =>
      exactJaccardPairs(s.table("documents"))
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // ── duplicate clusters: pairs → connected components → survivors ──
    // The step after pair generation in a production dedup run: the pair
    // graph collapses into components (cluster = min doc_id), and a
    // consumer keeps one survivor per cluster. Oracle: DuckDB computes
    // the same components as a recursive transitive closure over the
    // exact-Jaccard edges. The minhash variant of the same operator is
    // spec-verified (TextOpsSpec: synthetic-chain transitivity + planted
    // copies collapse onto their source through the real LSH pipeline).
    q("dd_jaccard_clusters",
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), t -> t <> '')) AS tokens
        |  FROM documents
        |),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM toks a JOIN toks b
        |    ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.tokens, b.tokens))) >= 0.8
        |),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (
        |  SELECT a AS src, b AS dst FROM edges
        |  UNION
        |  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a
        |),
        |labels AS (
        |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster
        |  FROM reach GROUP BY src
        |)
        |SELECT doc_id, cluster,
        |  CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
        |FROM labels ORDER BY doc_id""".stripMargin) { (s, _) =>
      clustersOf(exactJaccardPairs(s.table("documents"))
        .select(col("doc_a"), col("doc_b")))
    },

    // the production-path variant: components over the LSH candidate
    // pairs (linear candidate generation), not the quadratic exact twin.
    // No SQL oracle (minhash); TextOpsSpec pins chain transitivity and
    // planted-copy collapse through this exact pipeline.
    qNoOracle("dd_minhash_clusters") { (s, _) =>
      clustersOf(minhashPairsUnordered(s.table("documents"))
        .select("doc_a", "doc_b"))
    },

    // ── LSH-clusters ORACLE twin: the SAME production pipeline as the
    // row above — minhashPairs' capped band buckets → candidate pairs →
    // jaccard verify → connectedComponents — with the
    // portable banding plugged in, so DuckDB can derive the identical
    // candidate graph and close the components with a recursive CTE.
    // This oracles the batch bucket/pair/cluster algebra end-to-end;
    // dd_jaccard_clusters keeps covering the exact-pair graph. ──
    q("dd_minhash_clusters_portable",
      PortableMinhashSql.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
        |ok AS (SELECT band_key FROM banded GROUP BY band_key
        |       HAVING count(*) > 1 AND count(*) <= 256),
        |bk AS (SELECT b.band_key, b.doc_id FROM banded b JOIN ok USING (band_key)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bk x JOIN bk y ON x.band_key = y.band_key AND x.doc_id < y.doc_id),
        |pairs AS (
        |  SELECT doc_a AS a, doc_b AS b
        |  FROM cand JOIN sig sa ON sa.doc_id = doc_a
        |            JOIN sig sb ON sb.doc_id = doc_b
        |  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        |        / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.5),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (
        |  SELECT a AS src, b AS dst FROM edges
        |  UNION
        |  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a),
        |labels AS (
        |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster
        |  FROM reach GROUP BY src)
        |SELECT doc_id, cluster,
        |  CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
        |FROM labels ORDER BY doc_id""".stripMargin) { (s, _) =>
      clustersOf(minhashPairsUnordered(s.table("documents"),
          keyFn = portableBandedDocKeys)
        .select("doc_a", "doc_b"))
    },

    // ── quality-aware survivor selection: per duplicate cluster keep
    // the BEST document (longest, tiebreak lowest id), not an arbitrary
    // one — what a curation run actually passes downstream (near-dup
    // groups keep the most complete crawl). rank-1-per-cluster is the
    // WindowGroupLimit shape: each partial keeps one row per cluster
    // before the shuffle, so survivor selection moves |clusters| rows
    // at 100 TB, not the corpus. ──
    q("dd_survivors_quality",
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), t -> t <> '')) AS tokens
        |  FROM documents
        |),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM toks a JOIN toks b
        |    ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.tokens, b.tokens))) >= 0.8
        |),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (
        |  SELECT a AS src, b AS dst FROM edges
        |  UNION
        |  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a
        |),
        |labels AS (
        |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster
        |  FROM reach GROUP BY src
        |),
        |sel AS (
        |  SELECT l.cluster, l.doc_id, d.n_chars,
        |    row_number() OVER (PARTITION BY l.cluster
        |      ORDER BY d.n_chars DESC, l.doc_id) AS rk,
        |    count(*) OVER (PARTITION BY l.cluster) AS cluster_size
        |  FROM labels l JOIN documents d USING (doc_id))
        |SELECT cluster, doc_id AS survivor,
        |  CAST(cluster_size AS BIGINT) AS cluster_size,
        |  CAST(n_chars AS BIGINT) AS kept_chars
        |FROM sel WHERE rk = 1 ORDER BY cluster""".stripMargin) { (s, _) =>
      val cl = clustersOf(exactJaccardPairs(s.table("documents"))
        .select("doc_a", "doc_b"))
      val d = s.table("documents").select(col("doc_id"), col("n_chars"))
      val w = Window.partitionBy("cluster")
        .orderBy(col("n_chars").desc, col("doc_id"))
      cl.join(d, "doc_id")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("cluster"), col("doc_id").as("survivor"),
          col("cluster_size"), col("n_chars").as("kept_chars"))
        .orderBy("cluster")
    },

    // ── token counting + quality scoring ──
    q("tx_stats",
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tokens,
        |    len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
        |    len(regexp_extract_all(text, '[0-9]')) AS n_digits,
        |    len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in)\b')) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  len(tokens) AS n_tokens,
        |  len(list_distinct(tokens)) AS n_unique_tokens,
        |  round(CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens), 4) AS ttr,
        |  CAST(n_punct AS BIGINT) AS n_punct,
        |  CAST(n_digits AS BIGINT) AS n_digits,
        |  CAST(n_stop AS BIGINT) AS n_stop,
        |  round(CAST(n_stop AS DOUBLE) / len(tokens), 4) AS stop_ratio
        |FROM t
        |ORDER BY doc_id""".stripMargin) { (s, _) =>
      val t = s.table("documents").select(
        col("doc_id"), col("n_chars"), tokensCol.as("tokens"),
        size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0))).cast("bigint").as("n_punct"),
        size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0))).cast("bigint").as("n_digits"),
        size(regexp_extract_all(lower(col("text")), lit("\\b(the|a|and|of|to|in)\\b"), lit(0))).cast("bigint").as("n_stop"))
      t.select(
        col("doc_id"), col("n_chars"),
        size(col("tokens")).as("n_tokens"),
        size(array_distinct(col("tokens"))).as("n_unique_tokens"),
        round(size(array_distinct(col("tokens"))).cast("double") / size(col("tokens")), 4).as("ttr"),
        col("n_punct"), col("n_digits"), col("n_stop"),
        round(col("n_stop").cast("double") / size(col("tokens")), 4).as("stop_ratio"))
        .orderBy("doc_id")
    },

    // ── heuristic language ID by stopword-list voting ──
    // ── token counting: whitespace words vs a BPE-style pre-tokenizer
    // (the GPT-2 pattern family: contraction suffixes, space-prefixed
    // letter runs, digit runs, symbol runs) — the training-pipeline
    // token-budget estimate, computed scan-side with no UDF. The regex
    // subset used is valid in both Java regex (Spark) and RE2 (DuckDB);
    // chars_per_token is the usual compression diagnostic. ──
    q("tx_token_count", {
      val pat = raw"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n]+"
      s"""SELECT doc_id, n_chars,
         |  len(list_filter(string_split_regex(text, '[ \\t\\n]+'), x -> x <> '')) AS n_ws_tokens,
         |  len(regexp_extract_all(text, '${pat.replace("'", "''")}')) AS n_bpe_tokens,
         |  round(CAST(n_chars AS DOUBLE)
         |    / len(regexp_extract_all(text, '${pat.replace("'", "''")}')), 4) AS chars_per_token
         |FROM documents
         |ORDER BY doc_id""".stripMargin
    }) { (s, _) =>
      val pat = raw"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n]+"
      val bpe = size(regexp_extract_all(col("text"), lit(pat), lit(0)))
      s.table("documents").select(
        col("doc_id"), col("n_chars"),
        size(filter(split(col("text"), "[ \t\n]+"), x => x =!= "")).as("n_ws_tokens"),
        bpe.as("n_bpe_tokens"),
        round(col("n_chars").cast("double") / bpe, 4).as("chars_per_token"))
        .orderBy("doc_id")
    },

    // ── quality filter: Gopher-style keep/drop heuristics as one scan
    // (too-short, stopword-starved, implausible mean word length) with
    // per-rule flags so the drop REASON survives into the output — the
    // shape a pretraining filter pipeline audits. Thresholds sit inside
    // the fixture's distributions so both classes are non-empty. ──
    q("tx_quality_filter",
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tokens,
        |    len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in)\b')) AS n_stop
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len(tokens) AS n_tokens,
        |    CAST(n_stop AS DOUBLE) / len(tokens) AS stop_ratio,
        |    CAST(n_chars AS DOUBLE) / len(tokens) AS mean_word_len
        |  FROM t)
        |SELECT doc_id, n_tokens, round(stop_ratio, 4) AS stop_ratio,
        |  n_tokens < 20 AS too_short,
        |  stop_ratio < 0.02 AS stopword_starved,
        |  mean_word_len < 3 OR mean_word_len > 10 AS bad_word_length,
        |  NOT (n_tokens < 20 OR stop_ratio < 0.02
        |       OR mean_word_len < 3 OR mean_word_len > 10) AS keep
        |FROM m
        |ORDER BY doc_id""".stripMargin) { (s, _) =>
      val t = s.table("documents").select(
        col("doc_id"), col("n_chars"), tokensCol.as("tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("\\b(the|a|and|of|to|in)\\b"), lit(0))).as("n_stop"))
      val m = t.select(col("doc_id"), size(col("tokens")).as("n_tokens"),
        (col("n_stop").cast("double") / size(col("tokens"))).as("stop_ratio"),
        (col("n_chars").cast("double") / size(col("tokens"))).as("mean_word_len"))
      m.select(col("doc_id"), col("n_tokens").cast("bigint").as("n_tokens"),
        round(col("stop_ratio"), 4).as("stop_ratio"),
        (col("n_tokens") < 20).as("too_short"),
        (col("stop_ratio") < 0.02).as("stopword_starved"),
        (col("mean_word_len") < 3 || col("mean_word_len") > 10).as("bad_word_length"),
        (!(col("n_tokens") < 20 || col("stop_ratio") < 0.02 ||
          col("mean_word_len") < 3 || col("mean_word_len") > 10)).as("keep"))
        .orderBy("doc_id")
    },

    // ── the curation composite: quality filter → exact dedup → corpus
    // accounting, the whole linear pretraining pass as ONE declarative
    // query (near-dup runs separately via the dd_ LSH family — it is the
    // only non-oracle-able stage). Per source: surviving docs, total BPE
    // tokens (the training budget), mean chars/token. Every stage is a
    // projection or one hash-shuffle — the 100 TB shape. ──
    q("pipe_corpus_curation", {
      val pat = raw"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n]+"
        .replace("'", "''")
      s"""WITH m AS (
         |  SELECT doc_id, source, text, n_chars,
         |    len(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '')) AS n_tokens,
         |    len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in)\\b')) AS n_stop,
         |    len(regexp_extract_all(text, '$pat')) AS n_bpe
         |  FROM documents),
         |kept AS (
         |  SELECT * FROM m
         |  WHERE n_tokens >= 20 AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.02
         |    AND CAST(n_chars AS DOUBLE) / n_tokens BETWEEN 3 AND 10),
         |deduped AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM kept) x
         |  WHERE rn = 1)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
         |  round(avg(CAST(n_chars AS DOUBLE) / n_bpe), 4) AS chars_per_token
         |FROM deduped
         |GROUP BY source
         |ORDER BY source""".stripMargin
    }) { (s, _) =>
      val pat = raw"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n]+"
      // round 17 (guide §2.3 "aggregate before you shuffle"): the md5
      // dedup is a min_by hash aggregation with map-side partials
      // instead of a shuffle+sort+row_number window — doc_id is unique,
      // so "row with the smallest doc_id per md5" is exactly the old
      // rn = 1 row; only (source, n_chars, n_bpe) ride the shuffle, not
      // the text, and duplicate texts collapse map-side where the window
      // shipped and sorted every kept row. Lockstep-flat at sf0.1 (1.02;
      // the sort it removes is small there) — kept for the at-scale
      // shape. A/B'd and REJECTED in the same session: deferring the
      // 10-arm BPE alternation to post-dedup (1.33× — AQE coalesces the
      // dedup output to one partition, serializing the heaviest regex)
      // and a scan spread even at the round-17 width (1.12–1.18× — the
      // extra exchange ships the full text to save a ~0.3 s map job,
      // the same negative the round-16 32-wide A/B found).
      val m = s.table("documents").select(
        col("doc_id"), col("source"), col("text"), col("n_chars"),
        size(tokensCol).as("n_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("\\b(the|a|and|of|to|in)\\b"), lit(0))).as("n_stop"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("n_bpe"))
      val kept = m.filter(col("n_tokens") >= 20 &&
        col("n_stop").cast("double") / col("n_tokens") >= 0.02 &&
        (col("n_chars").cast("double") / col("n_tokens")).between(3, 10))
      // assumes doc_id is never NULL (true of the documents table):
      // min_by skips rows whose ordering key is NULL, so a NULL-doc_id
      // copy could never be the one kept
      val deduped = kept
        .groupBy(md5(col("text")).as("h"))
        .agg(min_by(struct(col("source"), col("n_chars"), col("n_bpe")),
          col("doc_id")).as("r"))
        .select(col("r.source").as("source"), col("r.n_chars").as("n_chars"),
          col("r.n_bpe").as("n_bpe"))
      deduped.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_bpe").cast("bigint").as("total_bpe_tokens"),
          round(avg(col("n_chars").cast("double") / col("n_bpe")), 4)
            .as("chars_per_token"))
        .orderBy("source")
    },

    q("tx_langid",
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS s_en,
        |    len(regexp_extract_all(lower(text), '\b(el|la|de|que|es)\b')) AS s_es,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS s_de,
        |    len(regexp_extract_all(lower(text), '\b(le|les|et|est|une)\b')) AS s_fr
        |  FROM documents)
        |SELECT doc_id, lang AS label,
        |  CASE
        |    WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |    WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |    WHEN s_de >= s_fr THEN 'de'
        |    ELSE 'fr' END AS predicted,
        |  CAST(s_en AS BIGINT) AS s_en, CAST(s_es AS BIGINT) AS s_es,
        |  CAST(s_de AS BIGINT) AS s_de, CAST(s_fr AS BIGINT) AS s_fr
        |FROM sc
        |ORDER BY doc_id""".stripMargin) { (s, _) =>
      def hits(pat: String): Column =
        size(regexp_extract_all(lower(col("text")), lit(pat), lit(0))).cast("bigint")
      val sc = s.table("documents").select(
        col("doc_id"), col("lang").as("label"),
        hits("\\b(the|and|of|to|is)\\b").as("s_en"),
        hits("\\b(el|la|de|que|es)\\b").as("s_es"),
        hits("\\b(der|die|das|und|ist)\\b").as("s_de"),
        hits("\\b(le|les|et|est|une)\\b").as("s_fr"))
      sc.select(
        col("doc_id"), col("label"),
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr").as("predicted"),
        col("s_en"), col("s_es"), col("s_de"), col("s_fr"))
        .orderBy("doc_id")
    },

    // ── document fingerprinting (normalized sorted-unique-token digest) ──
    q("tx_fingerprint",
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(
        |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), t -> t <> ''))), ' ')) AS fingerprint
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, _) =>
      s.table("documents").select(
        col("doc_id"),
        md5(array_join(array_sort(array_distinct(tokensCol)), " ")).as("fingerprint"))
        .orderBy("doc_id")
    },
  )
}
