package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BpeOps

/** BPE trainer/encoder contracts. The tokenize query's lossless-ness is
  * oracle-compared by the driver; what no SQL oracle can check — that
  * the merge sequence is the canonical BPE one — is proven here against
  * an independently-written trainer (different structure: string-join
  * symbol representation, from-scratch pair recount per round via
  * sliding windows over joined strings).
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  /** Independent reference trainer: symbols kept as a space-joined
    * string, pairs recounted from scratch each round. */
  private def naiveTrain(wordFreq: Seq[(String, Long)], numMerges: Int): Vector[(String, String)] = {
    var state: Seq[(List[String], Long)] =
      wordFreq.map { case (w, f) => (w.map(_.toString).toList :+ BpeOps.EndMark, f) }
    var out = Vector.empty[(String, String)]
    var continue = true
    while (out.length < numMerges && continue) {
      val counts = state
        .flatMap { case (s, f) => s.zip(s.tail).map(p => (p, f)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      if (counts.isEmpty) continue = false
      else {
        val best = counts.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.head._1
        out :+= best
        state = state.map { case (s, f) =>
          var cur = s
          val buf = List.newBuilder[String]
          while (cur.nonEmpty) cur match {
            case a :: b :: rest if (a, b) == best => buf += (a + b); cur = rest
            case a :: rest => buf += a; cur = rest
            case Nil => ()
          }
          (buf.result(), f)
        }
      }
    }
    out
  }

  private val corpus: Seq[(String, Long)] = Seq(
    "low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L,
    "low2" -> 1L, "a" -> 7L, "ab" -> 4L, "abc" -> 2L)

  test("train matches an independent from-scratch recount trainer") {
    val got = BpeOps.train(corpus, 40).map { case (_, l, r, _) => (l, r) }
    val want = naiveTrain(corpus, 40)
    assert(got == want)
  }

  test("train is deterministic and pair counts are consistent") {
    val a = BpeOps.train(corpus, 25)
    val b = BpeOps.train(corpus, 25)
    assert(a == b)
    // the classic Sennrich example: 'newest'(6) + 'widest'(3) make
    // ("es", frequency 9) an early merge once e/s are adjacent
    assert(a.exists { case (_, l, r, c) => l + r == "es" && c == 9L })
    a.foreach { case (_, _, _, c) => assert(c >= 1L) }
  }

  test("encode/decode round-trips every corpus word and respects ranks") {
    val merges = BpeOps.train(corpus, 40)
    val ranks = merges.map { case (rank, l, r, _) => (l, r) -> rank }.toMap
    corpus.foreach { case (w, _) =>
      val toks = BpeOps.encode(w, ranks)
      assert(BpeOps.decode(toks) == w, s"round-trip failed for $w")
      assert(toks.nonEmpty && toks.length <= w.length + 1)
    }
    // a fully-merged frequent word collapses to a single token
    assert(BpeOps.encode("newest", ranks).length == 1)
    // unseen characters survive as singletons, still lossless
    assert(BpeOps.decode(BpeOps.encode("zq9", ranks)) == "zq9")
  }

  test("encode/decode round-trips 500 seeded-random words, incl. unseen chars") {
    val merges = BpeOps.train(corpus, 40)
    val ranks = merges.map { case (rank, l, r, _) => (l, r) -> rank }.toMap
    val rng = new scala.util.Random(0xb9e)
    (1 to 500).foreach { _ =>
      val len = 1 + rng.nextInt(12)
      val w = Seq.fill(len)("abcdefglownest0123456789".charAt(
        rng.nextInt(24))).mkString
      val toks = BpeOps.encode(w, ranks)
      assert(BpeOps.decode(toks) == w, s"round-trip failed for $w")
      assert(toks.length <= w.length + 1)
    }
  }

  test("words equals the regex normalization on 2000 seeded-random strings") {
    def regexWords(text: String): Array[String] =
      text.toLowerCase(java.util.Locale.ROOT).replaceAll("[^a-z0-9 ]", " ").split(" +").filter(_.nonEmpty)
    // upper case, digits, punctuation, whitespace other than ' ', and
    // non-ASCII letters — 'İ' lowercases to two chars ("i" + U+0307)
    val alphabet = "aZz09 Q.,-_!?\t\n  éÉßİΣσЖ€✓".toVector
    val rng = new scala.util.Random(7)
    (0 until 2000).foreach { _ =>
      val text = Seq.fill(rng.nextInt(40))(alphabet(rng.nextInt(alphabet.length))).mkString
      assert(BpeOps.words(text).toSeq == regexWords(text).toSeq, s"words differ for '$text'")
    }
    assert(BpeOps.words("İstanbul").toSeq == Seq("i", "stanbul"))
    assert(BpeOps.words("").isEmpty && BpeOps.words(" .. ").isEmpty)
  }

  test("queries run on the fixture: train rows and tokenize lossless") {
    val train = SparkEntry.queries("pipe_bpe_train")(spark, TestSession.sf).collect()
    assert(train.length > 50)
    assert(train.map(_.getInt(0)).toSeq == (0 until train.length))
    val tok = SparkEntry.queries("pipe_bpe_tokenize")(spark, TestSession.sf).collect()
    assert(tok.nonEmpty)
    tok.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("tokens_bounded")))
      val recon = r.getString(r.fieldIndex("recon"))
      assert(recon == recon.trim && !recon.contains("  "))
    }
  }

  test("tokenize builds of one vocabulary share one broadcast rank table and give equal rows") {
    val tokenize = SparkEntry.queries("pipe_bpe_tokenize")
    val first = tokenize(spark, TestSession.sf).collect().toSeq
    val id = BpeOps.trained(spark, TestSession.sf)._2.id
    val second = tokenize(spark, TestSession.sf).collect().toSeq
    assert(BpeOps.trained(spark, TestSession.sf)._2.id == id,
      "a second build broadcast its own rank table, so the executors' encode memo starts cold")
    assert(second == first)
  }
}
