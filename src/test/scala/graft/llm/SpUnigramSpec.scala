package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

/** SentencePiece-unigram trainer: hand-computed Viterbi-EM goldens and
  * corpus-level invariants. */
class SpUnigramSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  test("kernel: hand-computed seed, two EM iterations, final prune") {
    // words: aaab x3, ab x2; maxPieceLen 3.
    // seed counts: a:11 b:5 aa:6 ab:5 aaa:3 aab:3 (T=33).
    // iter1 Viterbi: 'aaab' -> [a, aab] (score -3496509 beats aa|ab
    // -3591819 and aaa|b -4284966); 'ab' -> [ab].
    // M-step: a:3 aab:3 ab:2, b floored to 1. iter2: fixed point.
    // final vocab=3 keeps (a,3) (aab,3) (ab,2); single b floors in.
    val words = Array(("aaab", 3L), ("ab", 2L))
    val got = SpUnigram.kernel(words, vocab = 3, iters = 2,
      maxPieceLen = 3, seedVocab = 100)
    assert(got.toSeq === Seq(("a", 3L), ("aab", 3L), ("ab", 2L), ("b", 1L)))
    // iters = 0: the pruned SEED is the model
    val seed = SpUnigram.kernel(words, vocab = 3, iters = 0,
      maxPieceLen = 3, seedVocab = 100)
    assert(seed.toSeq === Seq(("a", 11L), ("aa", 6L), ("ab", 5L),
      ("b", 5L)))
  }

  test("soft-EM ≡ hard-EM on single-segmentation lattices; deterministic " +
      "and singles-covered with real alternatives") {
    // maxPieceLen = 1: every word has exactly ONE lattice path (chars),
    // so every edge posterior is exactly 1 — exp(0) = 1 and ln(1) = 0
    // are exact in IEEE, the rounded soft counts equal the hard Viterbi
    // recount bit for bit (the spec the rounded-integer contract pins)
    val words = Array(("abc", 5L), ("ab", 3L), ("dd", 2L))
    val hard = SpUnigram.kernel(words, vocab = 10, iters = 2,
      maxPieceLen = 1, seedVocab = 100)
    val soft = SpUnigram.kernel(words, vocab = 10, iters = 2,
      maxPieceLen = 1, seedVocab = 100, softEm = true)
    assert(soft.toSeq === hard.toSeq)
    // real alternatives: mass splits across segmentations — still a
    // valid, deterministic, singles-covered model
    val w2 = Array(("aaab", 3L), ("ab", 2L))
    val s1 = SpUnigram.kernel(w2, vocab = 3, iters = 1, maxPieceLen = 3,
      seedVocab = 100, softEm = true)
    val s2 = SpUnigram.kernel(w2, vocab = 3, iters = 1, maxPieceLen = 3,
      seedVocab = 100, softEm = true)
    assert(s1.toSeq === s2.toSeq)
    assert(s1.nonEmpty && s1.forall(_._2 >= 1L))
    val vocabSet = s1.map(_._1).toSet
    assert(Set("a", "b").subsetOf(vocabSet), "singles floored in")
  }

  test("encode: hand-computed segmentation, trainer parity, <unk>, " +
      "empty-doc row") {
    val spark2 = spark
    import spark2.implicits._
    // the hand-golden model from the kernel test: a:3 aab:3 ab:2 b:1
    val model = Seq(("a", 3L), ("aab", 3L), ("ab", 2L), ("b", 1L))
      .toDF("piece", "cnt")
    val docs = Seq(
      (1L, "aaab ab"),   // 'aaab' -> a|aab (the trainer's choice), 'ab' -> ab
      (2L, "zzz"),       // no 'z' in vocab -> <unk>
      (3L, ""),          // phantom empty token excluded -> word-less doc
      (4L, "AAAB")       // lowercases before segmenting
    ).toDF("doc_id", "text")
    val out = SpUnigram.encode(docs, "doc_id", "text", model).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    def fp(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L) === ((3L, fp("a aab ab"))))
    assert(out(2L) === ((1L, fp("<unk>"))))
    assert(out(3L) === ((0L, fp(""))))
    assert(out(4L) === ((2L, fp("a aab"))))
  }

  test("encode: reproduces the trainer's final segmentation on the " +
      "training corpus (count identity)") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val model = SpUnigram.train(docs, "doc_id", "text", vocab = 120,
      iters = 2, maxPieceLen = 3, seedVocab = 200, maxWordLen = 8)
    val out = SpUnigram.encode(docs, "doc_id", "text", model)
    // every doc encodes (the coverage guarantee: all corpus chars are
    // vocab singles at maxWordLen >= corpus max word length), and no
    // word falls to <unk>, so Σ n_pieces ≥ Σ words and > 0
    val nDocs = docs.filter(col("doc_id").isNotNull &&
      col("text").isNotNull).count()
    assert(out.count() === nDocs)
    assert(out.filter(col("n_pieces") <= 0).count() === 0L)
    // determinism
    val a = out.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(2))).sortBy(_._1).toSeq
    val b = SpUnigram.encode(docs, "doc_id", "text", model).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(a === b)
  }

  test("kernel: determinism and character coverage on the corpus") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    def run() = SpUnigram.train(docs, "doc_id", "text", vocab = 120,
      iters = 2, maxPieceLen = 3, seedVocab = 200, maxWordLen = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val a = run()
    assert(a === run(), "trainer is bit-deterministic")
    assert(a.nonEmpty && a.forall(_._2 >= 1L))
    // every single character of every (capped) word is in the vocab —
    // the coverage guarantee that keeps all words segmentable
    val chars = SpUnigram.wordFreqs(docs, "doc_id", "text")
      .filter(length(col("w")) <= 8)
      .select(explode(split(col("w"), "")).as("c"))
      .distinct().collect().map(_.getString(0)).toSet
    val vocabSet = a.map(_._1).toSet
    assert(chars.subsetOf(vocabSet), s"missing chars: ${chars -- vocabSet}")
  }

  test("train refuses more than driverTypeCap word types") {
    import spark.implicits._
    // four word types: 'a' 'b' 'c' 'd'
    val docs = Seq((1L, "a b c d a"), (2L, "b c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      SpUnigram.train(docs, "doc_id", "text", vocab = 10, driverTypeCap = 3L))
    assert(e.getMessage.contains("more than 3 word types"), e.getMessage)
    intercept[IllegalArgumentException](
      SpUnigram.train(docs, "doc_id", "text", vocab = 10, driverTypeCap = -1L))
    // at the cap the whole type table reaches the kernel
    val atCap = SpUnigram.train(docs, "doc_id", "text", vocab = 10, driverTypeCap = 4L)
    assert(atCap.collect().map(_.getString(0)).toSet === Set("a", "b", "c", "d"))
  }
}
