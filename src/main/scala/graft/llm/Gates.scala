package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The document gate stack of the corpus-curation pipeline, one value for
  * both the batch [[Corpus.prepare]] and the streaming
  * [[graft.streaming.PipelineStream.pollIngest]]. Each field is one gate;
  * `None` / `false` leaves it off, so `Gates()` gates nothing. Each config
  * validates itself in its constructor: a gate the caller believes is on
  * never silently no-ops on a default threshold.
  *
  * Both paths apply the gates in one order: normalize ∘ semantic ∘ span ∘
  * repetition ∘ gopher ∘ perplexity ∘ classifier ∘ contamination ∘
  * quality ∘ language. Semantic and span judge a document against the
  * rest of the corpus, so each path runs them its own way (batch: over
  * the whole input; stream: against accumulated state). Everything after
  * them is doc-local and runs through [[filter]], the one implementation
  * both paths share.
  *
  * @param normalize canonicalize text first ([[Quality.normalizeText]]:
  *   control-strip, whitespace collapse, trim), so transport noise (CRLF
  *   vs LF, tab indentation, trailing blanks) cannot split an
  *   exact-duplicate group, and every gate below sees the canonical token
  *   stream. Per-row column math; deterministic, so a stream replay
  *   re-lands identical bytes.
  * @param gopher the Gopher/MassiveText rule floor ([[Quality.gopherPass]]
  *   at its published defaults): documents failing any of the seven rules
  *   drop. A scan filter, no join and no shuffle; custom thresholds
  *   compose by filtering with `gopherPass` ahead of the pipeline.
  */
final case class Gates(
    normalize: Boolean = false,
    semantic: Option[Gates.Semantic] = None,
    span: Option[Gates.Span] = None,
    repetition: Option[Gates.Repetition] = None,
    gopher: Boolean = false,
    perplexity: Option[Gates.Perplexity] = None,
    classifier: Option[Gates.Classifier] = None,
    contamination: Option[Gates.Contamination] = None,
    quality: Option[Gates.QualityFloor] = None,
    language: Option[Gates.Language] = None) {

  /** The `normalize` gate over `docs`. */
  def normalized(docs: DataFrame, textCol: String): DataFrame =
    if (!normalize) docs
    else docs.withColumn(textCol, Quality.normalizeText(col(textCol)))

  /** The doc-local gates, repetition through language, over `docs`.
    *
    * The scan filters (repetition, gopher) come first. Every scorer gate
    * (perplexity, classifier, contamination, trained language id) then
    * scores that SAME base, not the previous gate's output, and the drop
    * or keep lists meet the base by doc-id anti/semi joins. Each score is a
    * pure per-document function under a frozen broadcast model, so this
    * equals the chained composition, while chaining each scorer over the
    * previous gate's join would repeat the scan subtree 2^k times in the
    * physical plan with k gates on.
    *
    * Rows with a null id or text pass the scan filters and the drop lists
    * (they are unscorable); the quality floor, the language gate or the
    * caller decides their fate. */
  def filter(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def pass(df: DataFrame, p: Column) =
      df.filter(col(idCol).isNull || t.isNull || p)
    def byId(df: DataFrame, scored: DataFrame, how: String) =
      df.join(scored.select(col("doc_id").as(idCol)), Seq(idCol), how)
    val repFloored = repetition match {
      case Some(r) if r.maxDupWordFrac < 1.0 || r.maxTopBigramFrac < 1.0 =>
        pass(docs, Quality.repetitionPass(t, r.maxDupWordFrac,
          r.maxTopBigramFrac))
      case _ => docs
    }
    val base =
      if (!gopher) repFloored else pass(repFloored, Quality.gopherPass(t))
    val dropLists = perplexity.map(_.drops(base, idCol, textCol)) ++
      classifier.map(_.drops(base, idCol, textCol)) ++
      contamination.map(_.drops(base, idCol, textCol))
    val floored = dropLists.foldLeft(base)(byId(_, _, "left_anti"))
    val qualityFloored = quality.fold(floored)(q =>
      floored.filter(round(TextStats.qualityScore(t, q.stops), 6) >=
        q.minQuality))
    language.fold(qualityFloored) { l =>
      l.langClassifier match {
        case Some(w) => byId(qualityFloored,
          Quality.langIdTrained(base, idCol, textCol, w, l.langClassifierDim)
            .filter(col("lang").isin(l.langs: _*)), "left_semi")
        case None => qualityFloored.filter(
          TextStats.langId(t, l.langMarkers).isin(l.langs: _*))
      }
    }
  }
}

object Gates {

  /** SemDeDup's embedding near-dup floor ([[Similarity.semDedup]]): every
    * non-min member of a within-cell cosine-≥-`semMinCos` component drops,
    * before any text gate. Documents without a scorable embedding (no row,
    * zero or NaN norm) pass.
    *
    * Batch: [[Corpus.prepare]]'s `embeddings` table (keyed by the same ids)
    * and `semCentroids`, scored by [[Similarity.semDedupDropped]] and
    * applied as a doc-id left-anti; the quadratic term is bounded per
    * coarse cell ([[Similarity.semDedupPairs]]).
    *
    * Stream: the index's stored coarse centroids. A delivery document drops
    * when its embedding is within `semMinCos` of a surviving lower-id
    * document of the same delivery, or of any earlier delivery's
    * survivor (the `sem/b<id>` state, with [[graft.streaming.DedupStream]]'s
    * exactly-once discipline). The delivery side broadcasts and the state
    * scan is pruned to the delivery's cells, so nothing corpus-sized
    * shuffles. Deviation: components never merge across deliveries, so a
    * document near an already-dropped one (but no survivor) survives
    * where batch would drop it;
    * [[graft.streaming.PipelineStream.repairSem]] repairs that offline. */
  final case class Semantic(semMinCos: Double) {
    require(semMinCos < 1.0,
      s"semantic: semMinCos is $semMinCos (floor off) — set semMinCos " +
        "< 1.0, or drop the gate")
  }

  /** The span-duplication floor (the Lee-et-al recipe as a threshold
    * drop): a document drops when more than `maxDupFrac` of its
    * `spanTokens`-token windows occur in at least two distinct documents.
    * Documents shorter than the span have no windows and pass. Span
    * EXCISION (clean the spans, keep the doc) is [[Dedup.removeDupSpans]],
    * composed upstream instead.
    *
    * Batch: [[Dedup.spanDupStats]] over the whole input; the join
    * shuffles only (doc_id, counters). Stream:
    * [[graft.streaming.SpanDupStream.processBatch]] scores the delivery
    * against the accumulated window state, which holds every landed
    * document, dropped ones included, as the batch floor counts them. A
    * document is judged against the corpus as of its delivery. */
  final case class Span(spanTokens: Int, maxDupFrac: Double) {
    require(spanTokens >= 1, s"span: spanTokens must be >= 1, got $spanTokens")
  }

  /** The within-document repetition floor (the Gopher-style filters of
    * [[Quality.repetitionStats]]): a document drops when its duplicate-word
    * fraction exceeds `maxDupWordFrac` or its top-bigram fraction exceeds
    * `maxTopBigramFrac`. One compiled scan filter
    * ([[Quality.repetitionPass]]); both at 1.0 is a no-op. */
  final case class Repetition(maxDupWordFrac: Double,
      maxTopBigramFrac: Double)

  /** The CCNet-shaped reference-LM floor: a document drops when its
    * smoothed perplexity exceeds `maxPpl` — under the unigram model `lm`
    * ([[Quality.lmPerplexity]] over a [[Quality.unigramLm]]), or with
    * `biLm` under the stupid-backoff bigram model backing off to `lm`
    * ([[Quality.ngramPerplexity]]). The model is vocab-sized and
    * broadcasts; the scoring join shuffles (doc_id, counters), never text. */
  final case class Perplexity(lm: DataFrame,
      maxPpl: Double = Double.MaxValue, biLm: Option[DataFrame] = None) {
    require(maxPpl < Double.MaxValue,
      "perplexity: lm given but maxPpl is unset (floor off) — set maxPpl, " +
        "or drop the gate")

    private[llm] def drops(base: DataFrame, idCol: String,
        textCol: String): DataFrame = (biLm match {
      case Some(bi) => Quality.ngramPerplexity(base, lm, bi, idCol, textCol)
      case None => Quality.lmPerplexity(base, lm, idCol, textCol)
    }).filter(col("ppl") > maxPpl)
  }

  /** The fastText-shaped "looks like the reference corpus" floor: a
    * document drops when its exact integer logit
    * ([[Quality.scoreTextClassifier]] under the frozen
    * [[Quality.trainTextClassifier]] table `weights`) is below
    * `minLogitMicro`. The dim-bounded model broadcasts and scoring is a
    * zero-shuffle typed scan; `classifierDim` must equal the dim the table
    * was trained at. Integer logits make any threshold bit-stable. */
  final case class Classifier(weights: DataFrame,
      minLogitMicro: Long = Long.MinValue, classifierDim: Int = 1 << 18) {
    require(minLogitMicro > Long.MinValue,
      "classifier: weights given but minLogitMicro is unset (gate off) — " +
        "set the logit floor, or drop the gate")

    private[llm] def drops(base: DataFrame, idCol: String,
        textCol: String): DataFrame =
      Quality.scoreTextClassifier(base, idCol, textCol, weights,
        classifierDim).filter(col("logit_micro") < minLogitMicro)
  }

  /** Benchmark decontamination (the GPT-3/PaLM recipe,
    * [[Dedup.contaminationStats]] as a threshold drop): a document drops
    * when more than `maxContamFrac` of its distinct `contamN`-token
    * shingles occur in `benchDocs` (a `text` table). The benchmark set
    * broadcasts, so nothing corpus-sized shuffles. `contamHash = false`
    * keys shingles by string, for a differential replay that needs no
    * hash parity (hashed ≡ string is spec-pinned). */
  final case class Contamination(benchDocs: DataFrame,
      maxContamFrac: Double = 1.0, contamN: Int = 5,
      contamHash: Boolean = true) {
    require(maxContamFrac < 1.0,
      "contamination: benchDocs given but maxContamFrac is 1.0 (gate off) " +
        "— set maxContamFrac < 1.0 to decontaminate, or drop the gate")

    private[llm] def drops(base: DataFrame, idCol: String,
        textCol: String): DataFrame =
      Dedup.contaminationStats(base, benchDocs, idCol, textCol, contamN,
        hashShingles = contamHash).filter(col("contam_frac") > maxContamFrac)
  }

  /** The quality floor: [[TextStats.qualityScore]] under `stops`, rounded
    * to 6 decimals (the fixed point the differential oracles compare at,
    * so the boundary is bit-stable across engines), at least `minQuality`.
    * Null text scores null and drops. */
  final case class QualityFloor(minQuality: Double, stops: Seq[String]) {
    // an empty stop list zeroes the score's 0.3 stopword band: a floor
    // above 0.7 would drop everything, any positive floor would skew
    require(minQuality <= 0.0 || stops.nonEmpty,
      "quality: minQuality set but stops is empty — the quality score's " +
        "stopword band would be zero for every document; pass a stop list")
  }

  /** Language selection: keep documents whose predicted language is in
    * `langs` — the argmax marker vote over `langMarkers`
    * ([[TextStats.langId]]), or, with `langClassifier` (a
    * [[Quality.trainTextClassifierMulti]] table whose labels are language
    * codes, at `langClassifierDim`), [[Quality.langIdTrained]]'s argmax,
    * which makes the markers inert. */
  final case class Language(langs: Seq[String],
      langMarkers: Seq[(String, Seq[String])] = Seq.empty,
      langClassifier: Option[DataFrame] = None,
      langClassifierDim: Int = 1 << 18) {
    require(langs.nonEmpty,
      "language: langs is empty, which would keep no document — select " +
        "the languages to keep, or drop the gate")
    require(langMarkers.nonEmpty || langClassifier.nonEmpty,
      "language: langs needs a language identifier — pass langMarkers or " +
        "langClassifier")
  }
}
