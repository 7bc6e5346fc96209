package graft.operators

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryGroup

/** Byte-pair-encoding vocabulary training + tokenization over the corpus
  * — the step a pretraining pipeline runs between curation and the token
  * stream. The reference has no tokenizer surface; this extends the
  * text-pipeline family (TextOps/CurationOps) with the standard
  * train-from-word-counts design (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units"; same architecture as
  * SentencePiece/HF trainers):
  *
  *  1. ONE distributed pass computes word frequencies — a map-side
  *     tokenize + hash agg with partial aggregation. This is the only
  *     corpus-scale operation: at 100 TB it is exactly one shuffle whose
  *     output is VOCABULARY-bounded (unique words), not corpus-bounded.
  *  2. The merge loop runs on the driver over the top-K word-frequency
  *     table (K bounded below — the standard trainer memory model: HF
  *     tokenizers/SentencePiece also reduce the corpus to word counts
  *     before merging). Cost is O(merges × Σ|word|) on ≤K rows.
  *  3. Encoding broadcasts the rank table (merges × ~20 bytes — KBs) and
  *     tokenizes map-side with zero further shuffles: greedy
  *     lowest-rank-pair merging per word, the canonical BPE encoder.
  *
  * Correctness surface:
  *  - `pipe_bpe_train` emits the merge table; no SQL oracle can compute
  *    BPE (driver records rows-only), so BpeSpec proves the merge
  *    sequence equal to an independently-written from-scratch recount
  *    trainer, plus tie-break determinism.
  *  - `pipe_bpe_tokenize` IS oracle-compared on its lossless-ness: the
  *    detokenized reconstruction must equal the DuckDB-computed
  *    normalization of the raw text, cell-for-cell per document.
  */
object BpeOps extends QueryGroup {

  /** End-of-word marker symbol (Sennrich's `</w>`): distinct from the
    * [a-z0-9] normalized alphabet, so decode is a plain replace. */
  val EndMark = "</w>"

  /** Normalization shared by trainer, encoder, and the DuckDB oracle:
    * lowercase, non-alphanumerics to spaces, whitespace-split — that is,
    * the maximal `[a-z0-9]` runs of the lowercased text, found in one
    * pass with no regex (a `replaceAll`/`split` pair compiles two
    * `Pattern`s per document). */
  def words(text: String): Array[String] = {
    val s = text.toLowerCase(java.util.Locale.ROOT)
    val out = Array.newBuilder[String]
    var start = -1
    var i = 0
    while (i <= s.length) {
      val c = if (i < s.length) s.charAt(i) else ' '
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) { if (start < 0) start = i }
      else if (start >= 0) { out += s.substring(start, i); start = -1 }
      i += 1
    }
    out.result()
  }

  /** One BPE merge step applied to a symbol sequence (all non-overlapping
    * occurrences, left to right — the canonical rule). */
  def applyMerge(sym: Vector[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < sym.length) {
      if (i + 1 < sym.length && sym(i) == l && sym(i + 1) == r) { out += (l + r); i += 2 }
      else { out += sym(i); i += 1 }
    }
    out.result()
  }

  /** Train `numMerges` merges from a word-frequency table. Deterministic:
    * ties on pair count break on the lexicographically smallest (l, r).
    * Returns (rank, left, right, pairCountAtMerge). */
  def train(wordFreq: Seq[(String, Long)], numMerges: Int): Vector[(Int, String, String, Long)] = {
    var syms: Array[(Vector[String], Long)] =
      wordFreq.map { case (w, f) => (w.map(_.toString).toVector :+ EndMark, f) }.toArray
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      syms.foreach { case (s, f) =>
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        merges += ((rank, l, r, c))
        syms = syms.map { case (s, f) => (applyMerge(s, l, r), f) }
        rank += 1
      }
    }
    merges.result()
  }

  /** Canonical BPE encoder: repeatedly merge the present pair with the
    * lowest rank until none applies. */
  def encode(word: String, ranks: Map[(String, String), Int]): Vector[String] = {
    var sym = word.map(_.toString).toVector :+ EndMark
    var done = false
    while (!done && sym.length > 1) {
      var bestIdx = -1
      var bestRank = Int.MaxValue
      var i = 0
      while (i < sym.length - 1) {
        val rk = ranks.getOrElse((sym(i), sym(i + 1)), Int.MaxValue)
        if (rk < bestRank) { bestRank = rk; bestIdx = i }
        i += 1
      }
      if (bestIdx < 0 || bestRank == Int.MaxValue) done = true
      else sym = applyMerge(sym, sym(bestIdx), sym(bestIdx + 1))
    }
    sym
  }

  /** Detokenize: concatenate and turn end-of-word markers back into
    * spaces — the lossless-ness invariant the oracle checks. */
  def decode(tokens: Seq[String]): String =
    tokens.mkString("").replace(EndMark, " ").trim

  /** Per-thread word→tokens memo, keyed by the rank table's broadcast
    * id (unique per broadcast for a SparkContext's lifetime — an
    * identity hashCode is NOT: two rank tables can collide in a
    * long-lived executor and serve tokens from the wrong vocabulary). Word frequency is Zipf-distributed, so almost every encode
    * is a repeat — the standard tokenizer fast path (HF tokenizers keep
    * the same cache). Per-thread means no locks on the 32-task hot path;
    * the size cap bounds executor memory on adversarial vocabularies. */
  private val encodeCacheMax = 65536
  private val encodeCache: ThreadLocal[mutable.HashMap[(Long, String), Vector[String]]] =
    ThreadLocal.withInitial(() => mutable.HashMap.empty)

  def encodeCached(word: String, ranksId: Long, ranks: Map[(String, String), Int]): Vector[String] = {
    val cache = encodeCache.get()
    if (cache.size > encodeCacheMax) cache.clear()
    cache.getOrElseUpdate((ranksId, word), encode(word, ranks))
  }

  /** Merge count for the gate corpus. Production vocabularies use
    * 30k-100k; 200 keeps the sf0.01 Verify run fast while exercising
    * multi-level merges (merged symbols re-merging). */
  val NumMerges = 200

  /** Driver-side vocabulary bound: the merge loop sees at most this many
    * distinct words (by frequency, ties broken on the word for
    * determinism). The standard trainer memory model — word counts, not
    * the corpus, cross into driver memory. */
  val TopWords = 50000

  private val cache = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
    (Vector[(Int, String, String, Long)], Broadcast[Map[(String, String), Int]])]()

  /** Word counts → driver → merge loop, cached per (session, dir) with
    * the merges' rank table, broadcast once: every tokenize build shares
    * its broadcast id, and with it the executors' warm encode memo. */
  def trained(s: SparkSession, dir: String) =
    cache.computeIfAbsent((s, dir), _ => {
      val wordsUdf = udf((t: String) => words(if (t == null) "" else t))
      val freq = Spread.bySize(s.table("documents"), col("doc_id"))
        .select(explode(wordsUdf(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("w"))
        .limit(TopWords)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .toSeq
      val merges = train(freq, NumMerges)
      (merges, s.sparkContext.broadcast(merges.map { case (rank, l, r, _) => (l, r) -> rank }.toMap))
    })

  def defs = Seq(

    // merge-table training; rows-only driver check, BpeSpec proves the
    // sequence against an independent recount trainer
    qNoOracle("pipe_bpe_train") { (s, dir) =>
      import s.implicits._
      trained(s, dir)._1
        .map { case (rank, l, r, c) => (rank, l, r, l + r, c) }
        .toDF("rank", "left", "right", "merged", "pair_count")
    },

    // map-side encode of every document with the trained merges; the
    // oracle pins per-document lossless-ness: detokenized output ==
    // DuckDB's independently-computed normalization. Token counts (not
    // SQL-expressible) are spec-territory; the emitted booleans pin the
    // per-word token bounds 1 <= |tokens(w)| <= |w|+1 in-query.
    q("pipe_bpe_tokenize",
      """SELECT doc_id,
        |  CAST(len(tokens) AS BIGINT) AS n_words,
        |  array_to_string(tokens, ' ') AS recon,
        |  true AS tokens_bounded
        |FROM (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
        |                t -> t <> '') AS tokens
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val bc = trained(s, dir)._2
      val tokenizeUdf = udf((t: String) => {
        val ws = words(if (t == null) "" else t)
        var bounded = true
        val ranksId = bc.id
        val toks = ws.flatMap { w =>
          val e = encodeCached(w, ranksId, bc.value)
          if (e.isEmpty || e.length > w.length + 1) bounded = false
          e
        }
        (ws.length.toLong, decode(toks.toIndexedSeq), bounded)
      })
      s.table("documents")
        .select(col("doc_id"), tokenizeUdf(col("text")).as("t"))
        .select(col("doc_id"), col("t._1").as("n_words"),
          col("t._2").as("recon"), col("t._3").as("tokens_bounded"))
        .orderBy("doc_id")
    },
  )
}
