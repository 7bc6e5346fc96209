package graft.operators

import graft.QueryGroup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators beyond dedup/quality (TextOps): benchmark
  * decontamination, deterministic stratified sampling, sequence packing,
  * and repetition-based quality signals — the remaining ops a pretraining
  * data pipeline runs between "raw crawl" and "token stream". The
  * reference has no text-pipeline surface; these extend it the same way
  * TextOps does, each with a DuckDB oracle twin.
  *
  * Scale design:
  *  - decontamination joins the corpus n-grams against the EVAL set's
  *    n-grams — the eval side is tiny by construction (benchmarks are
  *    MBs, the corpus is 100 TB), so it broadcasts and the corpus is
  *    touched in a single map-side pass (tokenize → shingle → probe);
  *  - stratified sampling is a rank-limit window: Spark rewrites it to
  *    WindowGroupLimit, so each stratum keeps only k rows per partial
  *    before the shuffle — no full sort of 100 TB;
  *  - sequence packing is a per-source running sum (one shuffle on the
  *    stream key, then a linear window walk) + one grouped agg;
  *  - repetition signals are explode + two-level hash agg with map-side
  *    partials; nothing is quadratic in document count.
  */
object CurationOps extends QueryGroup {

  /** Normalized token array (same normalization as TextOps — see the
    * equivalence note there: one extract-all pass ≡ replace+split+filter).
    */
  private def tokensCol: Column =
    regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))

  /** Word n-grams of a *bound* token attribute: callers compute
    * `tokens` in its own projection and call this inside a generator, so
    * the lambda reads the attribute instead of re-running the tokenize
    * expression per element (see TextOps.withShingles for the measured
    * collapse pitfall). Callers guard `size(tokens) >= n` inside the
    * generator — `explode(when(…))`, an explode of NULL emits no rows —
    * rather than with a row filter: a filter is pushed through Spread's
    * repartition and would tokenize every document once more below it.
    */
  private def ngramsCol(tokens: Column, n: Int): Column =
    transform(
      sequence(lit(1), size(tokens) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(tokens, i + o)): _*))

  /** DuckDB spelling of the same normalization + n-grams. */
  private def duckTokens: String =
    "list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), t -> t <> '')"
  private def duckNgrams(n: Int): String =
    s"list_transform(range(1, len(tokens)-${n - 2}), i -> array_to_string(list_slice(tokens, i, i+${n - 1}), ' '))"

  // BPE-style pre-tokenizer (same pattern family as tx_token_count);
  // valid in both Java regex (Spark) and RE2 (DuckDB).
  private val BpePat = raw"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n]+"

  /** Char-window chunking (C=120, stride 90): provenance-carrying
    * per-document windows, entirely stateless map-side expressions —
    * works identically over a batch table or a readStream source
    * (StreamingSpec pins the parity). No orderBy here: streaming append
    * mode forbids sorts; the query face adds the presentation order.
    */
  def chunkOverlap(docs: DataFrame): DataFrame = {
    val d = docs
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("bigint").as("len"))
    val chunk = substring(col("text"),
      (lit(1) + col("chunk_idx") * 90).cast("int"), lit(120))
    d.select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), floor((col("len") - 1) / 90))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (lit(1) + col("chunk_idx") * 90).as("start"),
        length(chunk).cast("bigint").as("chunk_chars"),
        substring(md5(chunk), 1, 8).as("chunk_md5"))
  }

  /** Token-budget chunking (64 BPE-pre-tokens, stride 48): the
    * pretraining twin of [[chunkOverlap]], cut at token boundaries.
    * Stateless map-side; streaming-safe for the same reason.
    */
  def chunkTokens(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"),
      regexp_extract_all(col("text"), lit(BpePat), lit(0)).as("toks"))
      .filter(size(col("toks")) >= 1)
      .withColumn("n", size(col("toks")).cast("bigint"))
    val sliced = slice(col("toks"), (lit(1) + col("chunk_idx") * 48).cast("int"),
      least(lit(64), (col("n") - col("chunk_idx") * 48).cast("int")))
    d.select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), floor((col("n") - 1) / 48))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (lit(1) + col("chunk_idx") * 48).as("tok_start"),
        size(sliced).cast("bigint").as("n_tokens"),
        substring(md5(concat_ws("", sliced)), 1, 8).as("chunk_md5"))
  }

  /** Context-window length for sequence packing. Production packing uses
    * the model context (2048–8192); 512 keeps multiple bins per source
    * alive at the sf0.01 gate so the boundary arithmetic is exercised.
    */
  val PackLen = 512

  /** Decontamination core over any (doc_id, text) frame: per non-eval
    * doc, the number of its distinct word 5-grams that appear anywhere
    * in the eval slice (doc_id % 20 = 0). Factored out so the spec can
    * run planted-contamination corpora through the real pipeline.
    */
  def decontaminate(docs: DataFrame): DataFrame = {
    // size-gated scan spread (guide §2.5): tokenize + 5-gram explode is
    // map-side work on a one-split gate fixture — see Spread
    val toks = Spread.bySize(docs, col("doc_id"))
      .withColumn("tokens", tokensCol)
    val grams = toks.select(
      col("doc_id"),
      explode(when(size(col("tokens")) >= 5,
        array_distinct(ngramsCol(col("tokens"), 5)))).as("gram"))
    val evalGrams = grams.filter(col("doc_id") % 20 === 0).select("gram").distinct()
    grams.filter(col("doc_id") % 20 =!= 0)
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_ngrams"))
      .orderBy("doc_id")
  }

  def defs = Seq(
    // ── benchmark decontamination: drop training docs that share a word
    // 5-gram with the held-out eval set (the GPT-3/Llama n-gram-overlap
    // rule; real pipelines use 8–13-grams — 5 keeps the fixture's
    // planted near-duplicates detectable). Eval set ≙ doc_id % 20 = 0;
    // in production it is a separate small table, which is exactly why
    // the eval n-gram set broadcasts: the 100 TB side streams through a
    // map-side probe, never shuffling on the gram key. ──
    q("dd_decontaminate",
      s"""WITH toks AS (
         |  SELECT doc_id, $duckTokens AS tokens FROM documents),
         |grams AS (
         |  SELECT doc_id, unnest(list_distinct(${duckNgrams(5)})) AS gram
         |  FROM toks WHERE len(tokens) >= 5),
         |eval_grams AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0)
         |SELECT g.doc_id, count(*) AS n_hit_ngrams
         |FROM grams g JOIN eval_grams e ON g.gram = e.gram
         |WHERE g.doc_id % 20 <> 0
         |GROUP BY g.doc_id
         |ORDER BY g.doc_id""".stripMargin) { (s, _) =>
      decontaminate(s.table("documents"))
    },

    // ── deterministic stratified sample: k docs per (lang, source)
    // stratum, ordered by a content-free hash of the key — the
    // reproducible "random" sample a data audit re-runs byte-identically
    // on any engine. The rank-limit shape becomes WindowGroupLimit
    // (pinned in CurationOpsSpec): each map task keeps ≤ k rows per
    // stratum before the shuffle, so sampling 100 TB moves k·|strata|
    // rows, not the corpus. ──
    q("sample_stratified",
      """SELECT lang, source, doc_id, rk FROM (
        |  SELECT lang, source, doc_id,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 3
        |ORDER BY lang, source, rk""".stripMargin) { (s, _) =>
      s.table("documents")
        .select(col("lang"), col("source"), col("doc_id"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang", "source")
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
          .cast("bigint"))
        .filter(col("rk") <= 3)
        .orderBy("lang", "source", "rk")
    },

    // ── sequence packing: concatenate each source's docs in doc_id
    // order and cut the token stream into PackLen-token context windows;
    // a doc lands in the bin where it STARTS (greedy contiguous packing,
    // the pretraining "pack then chunk" shape). One running sum per
    // source partition, then one grouped agg — linear, partition-
    // parallel across sources. ──
    q("pipe_pack_sequences", {
      val pat = BpePat.replace("'", "''")
      s"""WITH m AS (
         |  SELECT doc_id, source,
         |    len(regexp_extract_all(text, '$pat')) AS n_bpe
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_bpe,
         |    sum(n_bpe) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM m)
         |SELECT source, CAST((cum - n_bpe) // $PackLen AS BIGINT) AS seq_id,
         |  count(*) AS n_docs, CAST(sum(n_bpe) AS BIGINT) AS n_tokens
         |FROM c
         |GROUP BY source, (cum - n_bpe) // $PackLen
         |ORDER BY source, seq_id""".stripMargin
    }) { (s, _) =>
      val m = s.table("documents").select(
        col("doc_id"), col("source"),
        size(regexp_extract_all(col("text"), lit(BpePat), lit(0))).as("n_bpe"))
      val c = m.withColumn("cum",
        sum("n_bpe").over(Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      c.groupBy(col("source"),
          floor((col("cum") - col("n_bpe")) / PackLen).as("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_bpe").cast("bigint").as("n_tokens"))
        .orderBy("source", "seq_id")
    },

    // ── seeded global shuffle: the deterministic training-order
    // permutation every corpus build ends with. The sort key is a
    // portable multiplicative hash (Knuth 2654435761 mod 2^32) so the
    // DuckDB twin reproduces the exact permutation; doc_id tiebreak
    // makes it total. At 100 TB this is ONE total-order shuffle —
    // Spark's range partitioner samples the key space, so the sort
    // scales out; shard assignment (round-robin on position) is what a
    // sharded-writer would consume downstream. ──
    q("pipe_seeded_shuffle",
      """WITH k AS (
        |  SELECT doc_id,
        |    (doc_id * 2654435761 + 12345) % 4294967296 AS skey
        |  FROM documents)
        |SELECT doc_id,
        |  row_number() OVER (ORDER BY skey, doc_id) AS pos,
        |  CAST((row_number() OVER (ORDER BY skey, doc_id) - 1) % 8 AS BIGINT) AS shard
        |FROM k
        |ORDER BY pos""".stripMargin) { (s, _) =>
      import s.implicits._
      // position stamping in the scalable two-pass form: a
      // range-partitioned sort then zipWithIndex (per-partition counts
      // + offsets, two tiny jobs) — NOT a global row_number() window,
      // which would funnel the whole corpus through one partition
      val sorted = s.table("documents").select(
        col("doc_id"),
        pmod(col("doc_id") * lit(2654435761L) + lit(12345L),
          lit(4294967296L)).as("skey"))
        .orderBy("skey", "doc_id")
      sorted.rdd.zipWithIndex
        .map { case (r, i) => (r.getLong(0), i + 1L) }
        .toDF("doc_id", "pos")
        .withColumn("shard", pmod(col("pos") - 1, lit(8L)))
        .orderBy("pos")
    },

    // ── domain mixture resampling: reweight sources to target epoch
    // counts (the data-recipe step in GPT-3/LLaMA-style corpus builds:
    // high-quality domains are repeated, the remainder fractionally
    // sampled). Weights derive deterministically from the source id
    // (integer epochs 1 + n%3, fractional part (n%10)/10), and the
    // fractional epoch picks documents by a portable hash threshold —
    // so the DuckDB twin reproduces the exact output counts. The Spark
    // side MATERIALIZES the replication (explode over sequence — at
    // scale a map-side operation with no shuffle until the next stage)
    // and re-aggregates; the oracle sums the arithmetic directly. ──
    q("pipe_domain_mixture",
      """WITH d AS (
        |  SELECT doc_id, source, CAST(substring(source, 4) AS INT) AS sn
        |  FROM documents),
        |e AS (
        |  SELECT source, doc_id,
        |    (1 + sn % 3) + CASE WHEN (doc_id * 40503 + 7) % 1000 / 1000.0
        |                             < (sn % 10) / 10.0
        |                   THEN 1 ELSE 0 END AS copies
        |  FROM d)
        |SELECT source, count(*) AS n_in, CAST(sum(copies) AS BIGINT) AS n_out,
        |  round(CAST(sum(copies) AS DOUBLE) / count(*), 4) AS eff_epochs
        |FROM e
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, _) =>
      val d = s.table("documents").select(
        col("doc_id"), col("source"),
        expr("CAST(substring(source, 4) AS INT)").as("sn"))
      val e = d
        .withColumn("epochs", lit(1) + pmod(col("sn"), lit(3)))
        .withColumn("frac", pmod(col("sn"), lit(10)) / lit(10.0))
        .withColumn("extra",
          when(pmod(col("doc_id") * 40503 + 7, lit(1000)) / lit(1000.0)
            < col("frac"), 1).otherwise(0))
        .withColumn("copies", col("epochs") + col("extra"))
      // materialize the replicated corpus, then account for it
      e.select(col("source"), col("doc_id"),
          explode(expr("sequence(1, copies)")).as("k"))
        .groupBy("source")
        .agg(countDistinct("doc_id").as("n_in"), count(lit(1)).as("n_out"))
        .withColumn("eff_epochs",
          round(col("n_out").cast("double") / col("n_in"), 4))
        .select("source", "n_in", "n_out", "eff_epochs")
        .orderBy("source")
    },

    // ── fixed-window chunking with overlap: cut each document into
    // C-char windows advancing by stride S = C − overlap, keeping full
    // provenance (doc_id, chunk_idx, start offset) — the
    // context-window/RAG chunking step between curation and
    // tokenization (pack_sequences cuts the CONCATENATED stream; this
    // keeps per-document windows with overlap). Entirely map-side:
    // explode(sequence) + substring, NO shuffle at any corpus size —
    // chunking 100 TB is one pass. Chunk content is pinned by an
    // 8-hex md5 prefix so the oracle compares bytes without shipping
    // them. C=120/S=90 keeps several windows per fixture doc so the
    // boundary arithmetic (last partial window, single-window docs) is
    // exercised. ──
    q("pipe_chunk_overlap",
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS len FROM documents
        |  WHERE length(text) >= 1),
        |c AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0, (len - 1) // 90)) AS chunk_idx
        |  FROM d)
        |SELECT doc_id, chunk_idx, 1 + chunk_idx * 90 AS start,
        |  CAST(length(substring(text, CAST(1 + chunk_idx * 90 AS INT), 120)) AS BIGINT) AS chunk_chars,
        |  substring(md5(substring(text, CAST(1 + chunk_idx * 90 AS INT), 120)), 1, 8) AS chunk_md5
        |FROM c
        |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, _) =>
      chunkOverlap(s.table("documents")).orderBy("doc_id", "chunk_idx")
    },

    // ── token-budget chunking: the pretraining twin of
    // pipe_chunk_overlap — windows of C=64 BPE-style pre-tokens
    // advancing by stride S=48 (16-token overlap), cut at TOKEN
    // boundaries so no window ever splits a token (char windows do).
    // Same scale shape: tokenize + explode + slice are all map-side,
    // no shuffle at any corpus size. Both engines slice the identical
    // regexp_extract_all token list; the chunk content pin is the md5
    // of the joined slice. ──
    q("pipe_chunk_tokens", {
      val pat = BpePat.replace("'", "''")
      s"""WITH d AS (
         |  SELECT doc_id, regexp_extract_all(text, '$pat') AS toks
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, toks, len(toks) AS n,
         |    unnest(generate_series(0, greatest(len(toks) - 1, 0) // 48)) AS chunk_idx
         |  FROM d WHERE len(toks) >= 1)
         |SELECT doc_id, chunk_idx, 1 + chunk_idx * 48 AS tok_start,
         |  CAST(len(list_slice(toks, 1 + chunk_idx * 48,
         |    least(chunk_idx * 48 + 64, n))) AS BIGINT) AS n_tokens,
         |  substring(md5(array_to_string(list_slice(toks, 1 + chunk_idx * 48,
         |    least(chunk_idx * 48 + 64, n)), '')), 1, 8) AS chunk_md5
         |FROM c
         |ORDER BY doc_id, chunk_idx""".stripMargin
    }) { (s, _) =>
      chunkTokens(s.table("documents")).orderBy("doc_id", "chunk_idx")
    },

    // ── leakage-safe train/test split: route every document of a
    // duplicate cluster to the SAME side by hashing the CLUSTER key,
    // not the document id — the split a pretraining pipeline must use
    // or near-identical docs straddle train and eval and inflate
    // benchmark scores. The demo cluster key is a 64-char head
    // fingerprint (oracle-able; 23 of the fixture's 500 docs share
    // one); in production the same shape composes with
    // dd_minhash_clusters / dd_semdedup cluster ids. The output pins
    // BOTH properties: leak_clusters (clusters spanning sides under
    // the cluster-keyed split) is 0 by construction, and
    // naive_leak_clusters measures the doc_id-hash split leaking — 4
    // clusters on this fixture. One hash agg over the corpus + two
    // tiny scalar subqueries; the side column is a pure map-side
    // function of the cluster key. ──
    q("pipe_leakage_safe_split",
      """WITH b AS (
        |  SELECT doc_id, md5(substring(text, 1, 64)) AS ch FROM documents),
        |s AS (
        |  SELECT doc_id, ch,
        |    CASE WHEN substring(ch, 1, 1) IN ('0', '1')
        |         THEN 'test' ELSE 'train' END AS side,
        |    CASE WHEN doc_id % 8 = 0 THEN 'test' ELSE 'train' END AS naive
        |  FROM b)
        |SELECT side, count(*) AS n_docs, count(DISTINCT ch) AS n_clusters,
        |  (SELECT count(*) FROM (SELECT ch FROM s GROUP BY ch
        |     HAVING count(DISTINCT side) > 1) t) AS leak_clusters,
        |  (SELECT count(*) FROM (SELECT ch FROM s GROUP BY ch
        |     HAVING count(DISTINCT naive) > 1) t) AS naive_leak_clusters
        |FROM s GROUP BY side ORDER BY side""".stripMargin) { (s, _) =>
      val base = s.table("documents").select(
        col("doc_id"), md5(substring(col("text"), 1, 64)).as("ch"))
        .withColumn("side",
          when(substring(col("ch"), 1, 1).isin("0", "1"), "test")
            .otherwise("train"))
        .withColumn("naive",
          when(pmod(col("doc_id"), lit(8)) === 0, "test").otherwise("train"))
      def spanning(c: String) = base.groupBy("ch")
        .agg(countDistinct(col(c)).as("n"))
        .filter(col("n") > 1).agg(count(lit(1)).as(s"leak_$c"))
      base.groupBy("side")
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("ch")).as("n_clusters"))
        .crossJoin(broadcast(spanning("side").withColumnRenamed("leak_side", "leak_clusters")))
        .crossJoin(broadcast(spanning("naive").withColumnRenamed("leak_naive", "naive_leak_clusters")))
        .select("side", "n_docs", "n_clusters", "leak_clusters", "naive_leak_clusters")
        .orderBy("side")
    },

    // ── PII redaction: scrub phone numbers and emails from free text
    // before it enters a training corpus, keeping per-rule counts for
    // the audit trail. Pure map-side regexp (codegen'd, no UDF); the
    // customer table's c_phone gives every row a real redaction. Email
    // hits are structurally possible but zero in this fixture —
    // CurationOpsSpec pins the email rule on planted text. ──
    q("tx_redact_pii", {
      val phone = raw"[0-9]{2}-[0-9]{3}-[0-9]{4}"
      val email = raw"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
      s"""WITH t AS (
         |  SELECT c_custkey, c_name || ' (' || c_mktsegment || ') contact '
         |    || CAST(c_nationkey + 10 AS VARCHAR) || '-555-'
         |    || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS text
         |  FROM customer)
         |SELECT c_custkey,
         |  len(regexp_extract_all(text, '$phone')) AS n_phones,
         |  len(regexp_extract_all(text, '$email')) AS n_emails,
         |  regexp_replace(regexp_replace(text, '$phone', '[PHONE]', 'g'),
         |    '$email', '[EMAIL]', 'g') AS redacted
         |FROM t
         |ORDER BY c_custkey""".stripMargin
    }) { (s, _) =>
      val phone = raw"[0-9]{2}-[0-9]{3}-[0-9]{4}"
      val email = raw"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
      // same key-derived phone as TpchSynth.phone — the fixture customer
      // has no free-text columns, so the blob is built in-query
      val t = s.table("customer").select(col("c_custkey"),
        concat(col("c_name"), lit(" ("), col("c_mktsegment"), lit(") contact "),
          (col("c_nationkey") + 10).cast("string"), lit("-555-"),
          lpad((col("c_custkey") % 10000).cast("string"), 4, "0")).as("text"))
      t.select(col("c_custkey"),
          size(regexp_extract_all(col("text"), lit(phone), lit(0))).cast("bigint").as("n_phones"),
          size(regexp_extract_all(col("text"), lit(email), lit(0))).cast("bigint").as("n_emails"),
          regexp_replace(regexp_replace(col("text"), lit(phone), lit("[PHONE]")),
            lit(email), lit("[EMAIL]")).as("redacted"))
        .orderBy("c_custkey")
    },

    // ── URL-canonicalization dedup: the crawl-side dedup that runs
    // BEFORE content dedup (a page re-crawled under utm-tagged, mixed-
    // case, default-port, trailing-slash URL variants is one document).
    // The fixture has no URL column, so a deterministic per-doc URL is
    // synthesized in-query with all four variance classes; the engine
    // side canonicalizes with the Presto URL family (url_extract_host/
    // path/query — reference: presto-main/.../scalar/UrlFunctions.java)
    // plus array lambdas for param filtering; the DuckDB twin re-derives
    // the same canonical form with regexes. Canonical rules: lowercase
    // scheme+host, strip leading www., drop default port, strip trailing
    // slash, drop utm_*/fbclid/gclid params, sort surviving params, drop
    // the fragment. Map-side expression work + one hash agg — the same
    // one-shuffle shape as dd_exact at any scale. ──
    q("dd_url_canonical",
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://' || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
        |      || source || '.Example.COM'
        |      || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
        |      || '/Articles/P' || (doc_id % 13)
        |      || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
        |      || CASE WHEN doc_id % 5 = 0
        |           THEN '?utm_source=feed&id=' || (doc_id % 13)
        |           ELSE '?id=' || (doc_id % 13) END
        |      || CASE WHEN doc_id % 7 = 0 THEN '#top' ELSE '' END AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    'https://'
        |      || regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1)), '^www\.', '')
        |      || rtrim(lower(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)), '/')
        |      || CASE WHEN array_to_string(list_sort(list_filter(
        |               string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        |               p -> NOT (p LIKE 'utm_%' OR p LIKE 'fbclid=%' OR p LIKE 'gclid=%'))), '&') <> ''
        |           THEN '?' || array_to_string(list_sort(list_filter(
        |               string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        |               p -> NOT (p LIKE 'utm_%' OR p LIKE 'fbclid=%' OR p LIKE 'gclid=%'))), '&')
        |           ELSE '' END AS canonical_url
        |  FROM u)
        |SELECT canonical_url, min(doc_id) AS keeper, count(*) AS n_copies
        |FROM c GROUP BY canonical_url
        |ORDER BY canonical_url""".stripMargin) { (s, _) =>
      val u = s.table("documents").select(col("doc_id"),
        concat(lit("HTTPS://"),
          when(col("doc_id") % 2 === 0, "WWW.").otherwise(""),
          col("source"), lit(".Example.COM"),
          when(col("doc_id") % 3 === 0, ":443").otherwise(""),
          lit("/Articles/P"), (col("doc_id") % 13).cast("string"),
          when(col("doc_id") % 4 === 0, "/").otherwise(""),
          when(col("doc_id") % 5 === 0,
            concat(lit("?utm_source=feed&id="), (col("doc_id") % 13).cast("string")))
            .otherwise(concat(lit("?id="), (col("doc_id") % 13).cast("string"))),
          when(col("doc_id") % 7 === 0, "#top").otherwise("")).as("url"))
      val canonParams = array_join(array_sort(filter(
        split(coalesce(expr("url_extract_query(url)"), lit("")), "&"),
        p => !(p.startsWith("utm_") || p.startsWith("fbclid=") || p.startsWith("gclid=")))), "&")
      val c = u.select(col("doc_id"),
        concat(lit("https://"),
          regexp_replace(lower(expr("url_extract_host(url)")), "^www\\.", ""),
          regexp_replace(lower(expr("url_extract_path(url)")), "/$", ""),
          when(canonParams =!= "", concat(lit("?"), canonParams)).otherwise(""))
          .as("canonical_url"))
      c.groupBy("canonical_url")
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("canonical_url")
    },

    // ── character-trigram LM perplexity (the CCNet-style quality
    // signal): score each document under a trigram language model
    // trained on the corpus itself. The model side is INTRINSICALLY
    // BOUNDED — the normalized alphabet is [a-z0-9 ], so the gram table
    // can never exceed 37³ ≈ 50k rows no matter how large the corpus —
    // which is what makes the scoring join a broadcast at 100 TB: one
    // map-side explode + bounded-table probe + per-doc agg, the corpus
    // is never shuffled on the gram key. Production trains the model on
    // a clean reference corpus (KenLM in CCNet); self-scoring keeps the
    // demo closed over the fixture while exercising the identical plan
    // shape. ──
    q("tx_perplexity",
      """WITH norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, length(t) - 1),
        |    i -> substr(t, CAST(i AS INT), 3))) AS g
        |  FROM norm WHERE length(t) >= 3),
        |model AS (
        |  SELECT g, ln(CAST(count(*) AS DOUBLE)
        |    / (SELECT count(*) FROM grams)) AS logp
        |  FROM grams GROUP BY g)
        |SELECT d.doc_id, count(*) AS n_trigrams,
        |  round(exp(-sum(m.logp) / count(*)), 4) AS perplexity
        |FROM grams d JOIN model m ON d.g = m.g
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, _) =>
      // Perf shape (measured 6.6 s → see BENCHLOG): trigram extraction is
      // explode(index) + codegen'd substring — NOT a transform() lambda
      // (interpreted, the round-1 HOF lesson) — and everything downstream
      // runs on per-doc gram COUNTS (≤37³ distinct per doc), so the
      // explode is scanned twice (model build, probe) and never more; the
      // grand total needs no explode at all (Σ len(t)−2 off the base).
      // size-gated scan spread (guide §2.5): the regex normalize + chunk
      // + trigram explode below is all map-side on a one-split fixture
      // normalize = tokens joined by single spaces: trim(replace(runs →
      // one space)) ≡ array_join(extract-all runs, " ") — one regex pass
      val norm = Spread.bySize(s.table("documents"), col("doc_id"))
        .select(col("doc_id"),
          array_join(regexp_extract_all(lower(col("text")),
            lit("[a-z0-9]+"), lit(0)), " ").as("t"))
      // two-level extraction: a tiny interpreted lambda cuts t into
      // ~len/64 overlapping 66-char chunks, then a codegen'd
      // explode+substring walks each chunk — so no interpreted work is
      // O(len) and no exploded row carries more than 66 chars. The
      // length(t) >= 3 guard sits in the generator, not in a row filter
      // that would be pushed below the spread and normalize twice.
      val chunks = norm.select(col("doc_id"), explode(expr(
        "CASE WHEN length(t) >= 3 THEN transform(sequence(1, " +
          "CAST(ceil((length(t) - 2) / 64.0) AS INT)), " +
          "j -> substring(t, (j - 1) * 64 + 1, 66)) END")).as("ck"))
        .filter(length(col("ck")) >= 3)
      val grams = chunks
        .select(col("doc_id"), col("ck"),
          explode(sequence(lit(1), length(col("ck")) - 2)).as("i"))
        .select(col("doc_id"), expr("substring(ck, i, 3)").as("g"))
      // materialize the (doc, gram, c) counts once — both the model build
      // and the scoring probe consume them (on a cluster this is the
      // checkpoint/CTAS between the "train LM" and "score corpus" passes)
      val docGram = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      // grand total off the CHECKPOINTED counts, not a second corpus
      // pass: every one of a document's len(t)−2 gram positions lands in
      // exactly ONE chunk (64-stride, 66-char overlap), so Σc over
      // docGram ≡ Σ(len(t)−2) — same value, and the regex-normalize scan
      // runs once per query instead of twice (guide §2.4: remove
      // redundant passes; measured in plans/r16/tx_perplexity_after.txt:
      // one documents scan instead of two). Round 17: the total is an
      // unpartitioned window over the MODEL (Σ_g cnt ≡ Σ c — grouping
      // preserves the sum, integer-exact so the double is bit-identical),
      // which folds the former driver-scalar job into the broadcast
      // build; the single-partition window is safe at any corpus size
      // because the model is alphabet-bounded (≤ 37³ rows).
      val model = docGram.groupBy("g").agg(sum("c").as("cnt"))
        .select(col("g"), log(col("cnt").cast("double") /
          sum(col("cnt")).over(Window.partitionBy()).cast("double")).as("logp"))
      docGram.join(broadcast(model), "g")
        .groupBy("doc_id")
        .agg(sum("c").cast("bigint").as("n_trigrams"),
          round(exp(-sum(col("c") * col("logp")) / sum("c")), 4).as("perplexity"))
        .orderBy("doc_id")
    },

    // ── repetition signals (the Gopher rep_* family): fraction of the
    // doc covered by its most frequent word 2-gram, plus the duplicate-
    // token fraction. Explode + hash agg with map-side partials; the
    // token-level stats stay map-side and join back on doc_id. ──
    q("tx_repetition",
      s"""WITH toks AS (
         |  SELECT doc_id, $duckTokens AS tokens FROM documents),
         |g2 AS (
         |  SELECT doc_id, len(tokens) AS n_tokens,
         |    len(list_distinct(tokens)) AS n_unique,
         |    unnest(${duckNgrams(2)}) AS gram
         |  FROM toks WHERE len(tokens) >= 2),
         |cnt AS (
         |  SELECT doc_id, any_value(n_tokens) AS n_tokens,
         |    any_value(n_unique) AS n_unique, gram, count(*) AS c
         |  FROM g2 GROUP BY doc_id, gram)
         |SELECT doc_id,
         |  CAST(sum(c) AS BIGINT) AS n_2grams,
         |  CAST(max(c) AS BIGINT) AS max_2gram_count,
         |  round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_2gram_frac,
         |  round(1.0 - CAST(any_value(n_unique) AS DOUBLE)
         |        / any_value(n_tokens), 4) AS dup_token_frac
         |FROM cnt
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (s, _) =>
      val toks = Spread.bySize(s.table("documents"), col("doc_id"))
        .withColumn("tokens", tokensCol)
      // docs under 2 tokens have no 2-gram, so the inner join with `rep`
      // drops their stats row
      val tokStats = toks.select(col("doc_id"),
        size(col("tokens")).as("n_tokens"),
        size(array_distinct(col("tokens"))).as("n_unique"))
      val gramCnt = toks
        .select(col("doc_id"),
          explode(when(size(col("tokens")) >= 2, ngramsCol(col("tokens"), 2))).as("gram"))
        .groupBy("doc_id", "gram")
        .agg(count(lit(1)).as("c"))
      val rep = gramCnt.groupBy("doc_id").agg(
        sum("c").cast("bigint").as("n_2grams"),
        max("c").cast("bigint").as("max_2gram_count"),
        round(max("c").cast("double") / sum("c"), 4).as("top_2gram_frac"))
      tokStats.join(rep, Seq("doc_id"))
        .select(col("doc_id"), col("n_2grams"), col("max_2gram_count"),
          col("top_2gram_frac"),
          round(lit(1.0) - col("n_unique").cast("double") / col("n_tokens"), 4)
            .as("dup_token_frac"))
        .orderBy("doc_id")
    },
  )
}
