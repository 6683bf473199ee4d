package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** SentencePiece-style UNIGRAM tokenizer trainer (Kudo 2018) in its
  * deterministic hard-EM (Viterbi) form — the second production
  * tokenizer family next to [[Bpe]]: seed a substring vocabulary from
  * the word-type table, then alternate (segment every word type by its
  * max-probability segmentation) and (re-estimate piece counts from the
  * chosen segmentations), finally prune to the target vocab.
  *
  * Runs on the [[BpeKernel]] driver split: tokenizer training state is
  * vocab-scale and the word-TYPE table is driver-bounded
  * (require-guarded), while corpus-scale work stays in one distributed
  * aggregation (the word-frequency count). The whole EM is
  * integer-exact and SQL-replayable (the differential contract):
  *
  *   - piece scores are MICRO-NAT fixed points:
  *     lsc(s) = round(ln(cnt(s))·10⁶) − round(ln(T)·10⁶) with
  *     T = Σ cnt — only vocab-many distinct ln evaluations, identical
  *     doubles in any engine;
  *   - the Viterbi DP maximizes the integer score sum, ties broken by
  *     the GREATER segmentation-path string in binary (UTF-8) order —
  *     the path is the pieces joined by ``, so both engines pick
  *     the same segmentation bit for bit;
  *   - seed and final pruning order is (cnt DESC, piece ASC), single
  *     characters always kept (the character-coverage guarantee: every
  *     word stays segmentable), with count floored at 1 when EM assigns
  *     a character zero uses.
  *
  * `maxWordLen` (when > 0) excludes longer word types from TRAINING —
  * the knob that lets an oracle unroll the DP position by position;
  * production runs leave it 0 (a length-L word costs O(L·maxPieceLen)).
  *
  * Output: (piece, cnt) — the trained vocabulary with its final EM
  * counts, ≤ max(vocab, distinct single chars) rows; self-contained
  * like [[Quality.unigramLm]]'s model table. */
object SpUnigram {

  /** Word-type frequencies: lowercased `' '`-split ([[Dedup.tokens]]
    * semantics), empty tokens excluded, one (word, freq) row per type.
    * The one corpus-scale aggregation in training. */
  def wordFreqs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(explode(Dedup.tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))

  def train(docs: DataFrame, idCol: String, textCol: String,
      vocab: Int, iters: Int = 2, maxPieceLen: Int = 4,
      seedVocab: Int = 4000, maxWordLen: Int = 0,
      driverTypeCap: Long = 2000000L, softEm: Boolean = false): DataFrame = {
    require(vocab >= 1, s"vocab must be >= 1, got $vocab")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(seedVocab >= 1, s"seedVocab must be >= 1, got $seedVocab")
    val spark = docs.sparkSession
    import spark.implicits._
    // word types containing U+0001 are excluded from TRAINING: the EM
    // kernel's Viterbi path joins pieces on that separator, so a piece
    // containing it would fragment on the recount split and silently
    // skew counts/tie-breaks. Real tokenizer corpora normalize control
    // bytes away first ([[Quality.normalizeText]] strips C0 controls);
    // the exclusion makes the contract explicit instead of silent.
    val freqs0 = wordFreqs(docs, idCol, textCol)
      .filter(!col("w").contains(""))
    val freqs = if (maxWordLen > 0) freqs0.filter(length(col("w")) <= maxWordLen)
      else freqs0
    // one pass over the type table: at most one row past the cap comes back
    val cap = math.max(-1L, math.min(driverTypeCap, Int.MaxValue - 1L)).toInt
    val words = freqs.as[(String, Long)].limit(cap + 1).collect()
    require(words.length <= driverTypeCap,
      s"spUnigramTrain: more than $driverTypeCap word types (driverTypeCap) " +
        "— the trainer is a driver kernel over the vocab-scale type table")
    val pieces = kernel(words.sortBy(_._1), vocab, iters, maxPieceLen, seedVocab, softEm)
    pieces.toSeq.toDF("piece", "cnt")
  }

  /** Tokenize a corpus with a trained [[train]] vocabulary — the encode
    * half that makes the SP tier usable (a trained vocab without an
    * encoder cannot produce token streams, token counts, or packing
    * inputs; [[Bpe.encode]] is the sibling contract). Per WORD, the
    * IDENTICAL integer micro-nat Viterbi the trainer runs — same
    * lsc(c) = round(ln c·10⁶) − round(ln T·10⁶) scores over the model's
    * own counts, same greater-path-string tie-break — so encoding a
    * training-corpus word reproduces the trainer's final segmentation
    * bit for bit (spec-pinned; the sp2 oracle replays the DP in
    * DuckDB). A word with NO segmentation under the vocab (a character
    * outside it — impossible for training-corpus words, whose singles
    * are coverage-floored) emits the single piece `<unk>`, the
    * SentencePiece unknown convention.
    *
    * Scale shape: the model is driver-bounded (require-guarded) and
    * broadcast via the task closure; the corpus side is one typed scan,
    * Viterbi memoized per DISTINCT word per partition (the Zipfian
    * cache contract of [[Bpe.encode]], bounded + droppable). Words are
    * the lowercased `' '`-split with empties skipped ([[wordFreqs]]
    * semantics). Output: (doc_id, n_pieces, fp) per input document with
    * non-null id and text — fp = md5 of the piece stream joined by
    * `' '` (word-less docs keep a (0, md5('')) row). */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame): DataFrame = {
    require(docs.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"encode requires a numeric id column; '$idCol' is " +
        docs.schema(idCol).dataType.simpleString)
    val spark = docs.sparkSession
    import spark.implicits._
    val cap = (1 << 21) - 1
    val rows = model.select(col("piece").cast("string"),
      col("cnt").cast("long")).limit(cap + 1).collect()
    require(rows.length <= cap,
      s"spEncode: model has > $cap rows — not a trained SP vocab")
    val pieces = rows.filter(!_.isNullAt(0))
      .map(r => (r.getString(0), r.getLong(1)))
    require(pieces.map(_._1).distinct.length == pieces.length,
      "spEncode: duplicate pieces in the model table")
    var t = 0L
    pieces.foreach { case (_, c) => t += c }
    val lnT6 = math.round(math.log(t.toDouble) * 1e6)
    val lscMap = new java.util.HashMap[String, java.lang.Long](
      math.max(8, pieces.length * 2))
    var maxPieceLen = 1
    pieces.foreach { case (p, c) =>
      lscMap.put(p, java.lang.Long.valueOf(
        math.round(math.log(c.toDouble) * 1e6) - lnT6))
      if (p.length > maxPieceLen) maxPieceLen = p.length
    }
    val mpl = maxPieceLen
    val in = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        lower(col(textCol)).as("_t"))
      .as[(Long, String)]
    in.mapPartitions { it =>
      val cache = scala.collection.mutable.HashMap.empty[String, String]
      def segmentWord(w: String): String = {
        if (cache.size >= 2000000) cache.clear()
        cache.getOrElseUpdate(w, {
          val n = w.length
          val sc = new Array[Long](n + 1)
          val path = new Array[String](n + 1)
          path(0) = ""
          var i = 1
          while (i <= n) {
            var bestSc = Long.MinValue
            var bestPath: String = null
            var l = 1
            while (l <= mpl && l <= i) {
              val piece = w.substring(i - l, i)
              val lsc = lscMap.get(piece)
              if (lsc != null && path(i - l) != null) {
                val s2 = sc(i - l) + lsc.longValue()
                val p2 = if (i - l == 0) piece
                  else path(i - l) + '\u0001' + piece
                if (s2 > bestSc || (s2 == bestSc && (bestPath == null ||
                    UTF8String.fromString(p2).compareTo(
                      UTF8String.fromString(bestPath)) > 0))) {
                  bestSc = s2; bestPath = p2
                }
              }
              l += 1
            }
            sc(i) = bestSc
            path(i) = bestPath
            i += 1
          }
          val chosen = path(n)
          if (chosen == null) "<unk>"
          else chosen.replace('\u0001', ' ')
        })
      }
      // one digest + hex table per PARTITION (getInstance and
      // per-byte format allocated per row before); words iterate in
      // place — no split array per document
      val md = java.security.MessageDigest.getInstance("MD5")
      val hexDigits = "0123456789abcdef".toCharArray
      it.map { case (id, t) =>
        val sb = new java.lang.StringBuilder(t.length + 8)
        var start = 0
        var i = 0
        while (i <= t.length) {
          if (i == t.length || t.charAt(i) == ' ') {
            if (i > start) {
              if (sb.length() > 0) sb.append(' ')
              sb.append(segmentWord(t.substring(start, i)))
            }
            start = i + 1
          }
          i += 1
        }
        val stream = sb.toString
        var n = 0L
        if (stream.nonEmpty) {
          n = 1L
          var j = 0
          while (j < stream.length) {
            if (stream.charAt(j) == ' ') n += 1L
            j += 1
          }
        }
        md.reset()
        val dig = md.digest(stream.getBytes("UTF-8"))
        val hex = new Array[Char](dig.length * 2)
        var b = 0
        while (b < dig.length) {
          hex(b * 2) = hexDigits((dig(b) >> 4) & 0xF)
          hex(b * 2 + 1) = hexDigits(dig(b) & 0xF)
          b += 1
        }
        (id, n, new String(hex))
      }
    }.toDF("doc_id", "n_pieces", "fp")
  }

  /** The driver kernel (deterministic; spec-pinned against hand goldens
    * and the unrolled DuckDB replay). */
  private[llm] def kernel(words: Array[(String, Long)], vocab: Int,
      iters: Int, maxPieceLen: Int, seedVocab: Int,
      softEm: Boolean = false): Array[(String, Long)] = {
    // ---- seed: substring counts, Σ freq · occurrences ----
    val seedCnt = new java.util.HashMap[String, Long]()
    words.foreach { case (w, f) =>
      var i = 0
      while (i < w.length) {
        var l = 1
        while (l <= maxPieceLen && i + l <= w.length) {
          val s = w.substring(i, i + l)
          seedCnt.merge(s, f, java.lang.Long.sum _)
          l += 1
        }
        i += 1
      }
    }
    val singles: Set[String] = {
      val b = Set.newBuilder[String]
      words.foreach { case (w, _) =>
        var i = 0
        while (i < w.length) { b += w.substring(i, i + 1); i += 1 }
      }
      b.result()
    }
    def topPlusSingles(cnt: java.util.HashMap[String, Long], k: Int)
        : java.util.HashMap[String, Long] = {
      import scala.jdk.CollectionConverters._
      val sorted = cnt.entrySet().asScala.toArray
        .map(e => (e.getKey, e.getValue))
        .sortBy { case (p, c) =>
          (-c, UTF8String.fromString(p))
        }(Ordering.Tuple2(Ordering.Long,
          implicitly[Ordering[UTF8String]]))
      val kept = new java.util.HashMap[String, Long]()
      sorted.take(k).foreach { case (p, c) => kept.put(p, c) }
      // character coverage: singles always survive, floored at 1
      singles.foreach { s =>
        if (!kept.containsKey(s))
          kept.put(s, math.max(1L, cnt.getOrDefault(s, 1L)))
      }
      kept
    }
    var model = topPlusSingles(seedCnt, seedVocab)

    // ---- EM iterations: Viterbi segment, recount ----
    val Sep = ''
    var it = 0
    while (it < iters) {
      var t = 0L
      model.forEach((_, c) => t += c)
      val lnT6 = math.round(math.log(t.toDouble) * 1e6)
      def lsc(c: Long): Long = math.round(math.log(c.toDouble) * 1e6) - lnT6
      val next = new java.util.HashMap[String, Long]()
      if (softEm) {
        // SOFT E-step (Kudo's full EM, the ROUNDED integer form):
        // forward/backward micro-nat sums with a DEFINED log-sum-exp —
        // terms combine max-shifted, exp'd, summed in ASCENDING piece
        // length (the order the oracle's ordered list fold replays),
        // ln'd and re-fixed-pointed. A node with one incoming edge
        // reduces to an exact integer sum (exp(0) = 1, ln(1) = 0 — no
        // roundtrip drift), so a single-segmentation lattice reproduces
        // hard-EM counts bit for bit (spec-pinned). Edge posteriors
        // exp((α + lsc + β − Z)/10⁶) fix-point to micro-units; expected
        // counts accumulate as freq × weight_micro integers and round
        // HALF-UP back to whole counts for the M-step, keeping the
        // model table's (piece, cnt) contract and making every
        // iteration SQL-replayable.
        val micro = new java.util.HashMap[String, Long]()
        def lse(terms: Array[Long], nTerms: Int): Long = {
          var mx = Long.MinValue
          var i = 0
          while (i < nTerms) { if (terms(i) > mx) mx = terms(i); i += 1 }
          var sum = 0.0
          i = 0
          while (i < nTerms) {
            sum += math.exp((terms(i) - mx).toDouble / 1e6); i += 1
          }
          mx + math.round(math.log(sum) * 1e6)
        }
        words.foreach { case (w, f) =>
          val n = w.length
          val a6 = new Array[Long](n + 1)
          val b6 = new Array[Long](n + 1)
          val terms = new Array[Long](maxPieceLen)
          var i = 1
          while (i <= n) {
            var k = 0
            var l = 1
            while (l <= maxPieceLen && l <= i) {
              val c = model.getOrDefault(w.substring(i - l, i), 0L)
              if (c > 0L) { terms(k) = a6(i - l) + lsc(c); k += 1 }
              l += 1
            }
            // singles coverage: every position reachable, k >= 1
            a6(i) = lse(terms, k)
            i += 1
          }
          i = n - 1
          while (i >= 0) {
            var k = 0
            var l = 1
            while (l <= maxPieceLen && i + l <= n) {
              val c = model.getOrDefault(w.substring(i, i + l), 0L)
              if (c > 0L) { terms(k) = lsc(c) + b6(i + l); k += 1 }
              l += 1
            }
            b6(i) = lse(terms, k)
            i -= 1
          }
          val z6 = a6(n)
          i = 0
          while (i < n) {
            var l = 1
            while (l <= maxPieceLen && i + l <= n) {
              val piece = w.substring(i, i + l)
              val c = model.getOrDefault(piece, 0L)
              if (c > 0L) {
                val w6 = a6(i) + lsc(c) + b6(i + l) - z6
                val wMicro = math.round(math.exp(w6.toDouble / 1e6) * 1e6)
                micro.merge(piece, f * wMicro, java.lang.Long.sum _)
              }
              l += 1
            }
            i += 1
          }
        }
        // micro-units -> whole counts, half-up; zero-rounded pieces drop
        micro.forEach { (p, c) =>
          val whole = (c + 500000L) / 1000000L
          if (whole > 0L) next.put(p, whole)
        }
      } else words.foreach { case (w, f) =>
        val n = w.length
        val sc = new Array[Long](n + 1)
        val path = new Array[String](n + 1)
        path(0) = ""
        var i = 1
        while (i <= n) {
          var bestSc = Long.MinValue
          var bestPath: String = null
          var l = 1
          while (l <= maxPieceLen && l <= i) {
            val piece = w.substring(i - l, i)
            val c = model.getOrDefault(piece, 0L)
            if (c > 0L && path(i - l) != null) {
              val s2 = sc(i - l) + lsc(c)
              val p2 = if (i - l == 0) piece else path(i - l) + Sep + piece
              // max by (score, path-binary) — the cross-engine tie-break
              if (s2 > bestSc || (s2 == bestSc && (bestPath == null ||
                  UTF8String.fromString(p2).compareTo(
                    UTF8String.fromString(bestPath)) > 0))) {
                bestSc = s2; bestPath = p2
              }
            }
            l += 1
          }
          sc(i) = bestSc
          path(i) = bestPath
          i += 1
        }
        // singles guarantee completion; count the chosen pieces
        val chosen = path(n)
        if (chosen != null) {
          chosen.split(Sep).foreach { p =>
            next.merge(p, f, java.lang.Long.sum _)
          }
        }
      }
      // drop unused pieces (chars floored back in by topPlusSingles)
      model = topPlusSingles(next, Int.MaxValue)
      it += 1
    }

    // ---- final prune to the target vocab ----
    val fin = topPlusSingles(model, vocab)
    import scala.jdk.CollectionConverters._
    fin.entrySet().asScala.toArray.map(e => (e.getKey, e.getValue))
      .sortBy { case (p, c) => (-c, UTF8String.fromString(p)) }(
        Ordering.Tuple2(Ordering.Long, implicitly[Ordering[UTF8String]]))
  }
}
