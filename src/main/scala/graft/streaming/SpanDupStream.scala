package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Ingest-time SPAN-duplication scoring: a checkpointed poller that
  * computes every newly-landed document's duplicate-text fraction
  * ([[graft.llm.Dedup.spanDupStats]]'s Lee-et-al signal — the fraction of
  * its `spanTokens`-token windows appearing verbatim in ≥ `minDocs`
  * distinct documents) against the ENTIRE accumulated corpus, at the
  * moment the document lands — the quality gate
  * [[graft.llm.Corpus.prepare]]'s span floor applies in batch, available
  * per delivery so boilerplate-heavy documents can be floored at ingest
  * instead of in a later corpus-wide pass.
  *
  * Disk-resident state, one [[StateLog]] per table (per-batch dirs,
  * replays rewrite bit-identically, snapshot compaction):
  *   - `wins/b<id>`: (window key, distinct-doc count) — this delivery's
  *     contribution to each window's corpus-wide document frequency. Doc
  *     ids are globally unique and land once (the [[DedupStream]] landing
  *     contract), so corpus-wide distinct-docs-per-window = the SUM of
  *     per-delivery distinct counts — state folds by aggregation.
  *   - `stats/b<id>`: the delivery's (doc_id, n_windows, n_dup_windows,
  *     dup_frac) rows, scored against corpus-so-far (this delivery
  *     included).
  *
  * Per micro-batch, all DataFrame ops: ONE explode of the delivery into
  * hashed window keys (the [[graft.llm.Dedup.spanDupStats]] scale path —
  * 8-byte `xxhash64` keys, window text never shuffles), one (window, doc)
  * aggregation, then the accumulated `wins` state is probed with the
  * delivery's window set BROADCAST (the poll chunk is the small side —
  * the corpus-scale state is scanned, never shuffled), exactly
  * [[DedupStream]]'s index-probe shape. Per-poll work = delivery size +
  * matched state rows + one sequential state scan.
  *
  * Incremental contract (the inherent streaming deviation, same shape as
  * [[DedupStream]]'s no-cross-batch-merge): a document's stats are FINAL
  * at its landing time — a LATER delivery that pushes one of its windows
  * over the `minDocs` threshold does not retroactively re-score it.
  * Stream ≡ batch exactly when no window crosses the threshold via a
  * later delivery (boilerplate duplicated within or before its holders'
  * deliveries — the dominant crawl shape, spec-pinned); [[rescoreStats]]
  * is the offline repair that closes the rest, committing a corrected
  * snapshot the same way [[DedupStream.repairMerges]] does.
  */
object SpanDupStream {

  /** `compactEvery`: fold per-batch state dirs every this many
    * micro-batches (0 disables) — [[DedupStream.Params]] semantics. */
  case class Params(spanTokens: Int = 5, minDocs: Int = 2,
      compactEvery: Int = 16)

  val landingSchema: StructType = DedupStream.landingSchema

  private val winsSchema = StructType(Seq(
    StructField("_w", LongType), StructField("nd", LongType)))
  private val statsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("n_windows", LongType),
    StructField("n_dup_windows", LongType), StructField("dup_frac", DoubleType)))

  private def winsLog(workDir: String) = StateLog(s"$workDir/wins", winsSchema)
  private[streaming] def statsLog(workDir: String) =
    StateLog(s"$workDir/stats", statsSchema)

  /** One incremental poll: score every document file new to the
    * checkpoint against the accumulated window state under `workDir`.
    * Landing layout: parquet files of [[landingSchema]] one level below
    * `landingDir`. */
  def pollSpanDup(spark: SparkSession, landingDir: String, workDir: String,
      p: Params = Params()): Unit = {
    spark.readStream.schema(landingSchema).parquet(s"$landingDir/*")
      .writeStream.option("checkpointLocation", s"$workDir/ckpt")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, batch, workDir, p, batchId)
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
  }

  /** The accumulated per-document stats — each row scored as of its
    * delivery (see the incremental contract above).
    * Read through [[StateLog.read]]: the DataFrame fixes its file list
    * when it is built, so re-read it after a poll that compacts. */
  def stats(spark: SparkSession, workDir: String): DataFrame =
    statsLog(workDir).read(spark)

  /** Offline repair closing the stats-final-at-landing deviation: every
    * ALREADY-SCORED document is re-scored against the FINAL corpus and
    * the result committed as a repaired stats snapshot
    * ([[StateLog.commitRepair]], which wins the same-id tie over a plain
    * compaction fold), so [[stats]] serves corrected rows and subsequent
    * polls append beyond it. Run with the poller STOPPED, like every
    * offline repair here.
    *
    * The re-score is the BATCH operator over the landed documents, on
    * purpose: a per-document re-score needs each document's window SET,
    * which the state deliberately does not store (per-doc windows are
    * the exploded corpus — state would grow L×token-count-proportional
    * instead of distinct-window-proportional; re-reading the landing
    * pays that explode only when a repair actually runs). Documents
    * restricted to those already scored (semi-join against the current
    * stats), so files landed but not yet polled neither gain premature
    * rows nor double up when their poll replays. `wins` is untouched —
    * per-delivery window counts are already final at write (doc ids
    * land once), only the scoring snapshot was time-dependent.
    *
    * Fold cap is [[StateLog.repairFrontier]], as in
    * [[DedupStream.repairMerges]]: only checkpoint-committed batches bake
    * into the snapshot; uncommitted batch dirs stay for their replay to
    * overwrite. Idempotent — a crashed rescore reruns; an existing
    * repaired snapshot short-circuits. */
  def rescoreStats(sp: SparkSession, landingDir: String, workDir: String,
      p: Params = Params()): Unit = {
    val log = statsLog(workDir)
    val maxId = StateLog.repairFrontier(sp, workDir, log).getOrElse(return)
    val scored = log.read(sp, maxId + 1).select("doc_id")
    val docs = sp.read.schema(landingSchema).parquet(s"$landingDir/*")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .join(scored, Seq("doc_id"), "left_semi")
    val re = graft.llm.Dedup.spanDupStats(docs, "doc_id", "text",
      p.spanTokens, p.minDocs)
    StateLog.commitRepair(maxId, log -> re)
  }

  /** Fold every state dir below `uptoExclusive` into one snapshot per
    * table and sweep the folded dirs ([[StateLog.compactIfDue]], every id
    * due). `wins` folds BY AGGREGATION (summing each window's
    * per-delivery counts — the only consumer is a sum, so the fold
    * shrinks state to one row per distinct window); `stats` folds by
    * plain union. */
  def compactState(sp: SparkSession, workDir: String,
      uptoExclusive: Long): Unit = compact(sp, workDir, uptoExclusive, every = 1)

  private def compact(sp: SparkSession, workDir: String, batchId: Long,
      every: Int): Unit = {
    winsLog(workDir).compactIfDue(sp, batchId, every,
      _.groupBy("_w").agg(sum("nd").as("nd")))
    statsLog(workDir).compactIfDue(sp, batchId, every)
  }

  private[streaming] def processBatch(sp: SparkSession, batch: DataFrame,
      workDir: String, p: Params, batchId: Long): Unit = {
    compact(sp, workDir, batchId, p.compactEvery)
    val docs = batch
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
    // the spanDupStats hashed-path window keying, via the ONE shared
    // helper (state dirs persist these keys — batch and stream must
    // never derive them from different code). The split needs no bound
    // column here: WindowHashes evaluates its child once per row, unlike
    // the HOF-lambda form it replaced.
    val winKey = graft.functions.Cols.windowHashes(
      split(col("text"), " "), p.spanTokens)
    // (window, doc, occurrences) — localCheckpoint: feeds the state write,
    // the probe, and the stats aggregation (three jobs; the explode is
    // the dominant cost and must run once). The delivery is the SMALL
    // side — bounded by the poll chunk.
    val g = docs.select(col("doc_id"), explode(winKey).as("_w"))
      .groupBy("_w", "doc_id").agg(count(lit(1)).as("_c"))
      .localCheckpoint()
    // this delivery's distinct-doc count per window (= the state delta)
    val gcnt = g.groupBy("_w").agg(count(lit(1)).as("nd")).localCheckpoint()
    // probe the accumulated state with the delivery's window set
    // BROADCAST — the corpus-scale wins table is scanned under it, never
    // shuffled; only matched rows aggregate
    val prevNd = winsLog(workDir).read(sp, batchId)
      .join(broadcast(gcnt.select("_w")), Seq("_w"), "left_semi")
      .groupBy("_w").agg(sum("nd").as("_ndPrev"))
    val tot = gcnt.join(prevNd, Seq("_w"), "left")
      .select(col("_w"),
        (col("nd") + coalesce(col("_ndPrev"), lit(0L))).as("_nd"))
    statsLog(workDir).write(batchId, g.join(tot, Seq("_w"))
      .groupBy("doc_id").agg(
        sum("_c").as("n_windows"),
        sum(when(col("_nd") >= p.minDocs, col("_c")).otherwise(lit(0L)))
          .as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows") / col("n_windows"), 6).as("dup_frac")))
    winsLog(workDir).write(batchId, gcnt)
  }
}
