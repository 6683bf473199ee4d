package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.behavior.Detectors
import graft.behavior.Detectors.{Roi, TubeParams, TubeTestEvent}

/** End-to-end INCREMENTAL tube-test detection — [[FightStream]]'s
  * medallion design applied to the reference's second detector
  * (`social_behavior_detection/social_behaviour_detection.py:100-390`),
  * in TWO stages: tube tests have no forward-fill and no empty-frame
  * bridging, so no stateful stage is needed at all.
  *
  *   1. bronze→silver: the shared per-(epoch, frame-slot) pivot + features
  *      ([[Poll.pivotFeatures]] — the same expression tree as the batch
  *      wide table) with the shared batch start condition
  *      ([[Detectors.tubeStartCond]]) folded into an `isCand` flag,
  *      dispatched per epoch (each epoch has its own ROI configuration);
  *   2. silver→gold: `session_window` over candidate frames keyed by
  *      epoch, with the SUPER gap = max(maxFrameGap, search window). No
  *      batch candidate session can cross a super boundary (super gap ≥
  *      maxFrameGap), a closed span's search window cannot reach the next
  *      span's candidates (super gap ≥ window), and session closure
  *      implies the watermark passed the whole search window, so every
  *      span frame is final. Per closed span — in `foreachBatch` — the
  *      EXACT batch tail [[Detectors.tubeTail]] runs over the silver sink
  *      slice, densified to the batch spine shape: interior camera-gap
  *      slots become all-NaN rows, and the spine clips at the sink's last
  *      real frame OF THAT EPOCH. Trailing all-NaN frames are verdict
  *      no-ops (no cleanup vote, no end-condition hit, NaN movement
  *      samples are nanmean-skipped — see
  *      [[graft.behavior.Kernels.greedyCleanup]]/`tubeVerdict`), so the
  *      clip is exact whether the epoch ended at the last real frame or
  *      continues beyond the frontier.
  *
  * Frontier markers, the poll/discovery contract, the multi-epoch
  * one-poller design (ONE checkpoint per stage, state keyed by epoch,
  * global frontier), and exactly-once event emission (idempotent
  * per-micro-batch event dirs) are identical to [[FightStream]]. The ROI
  * gate is static per-epoch configuration and evaluates inside the silver
  * plan, exactly where batch evaluates it.
  */
object TubeStream {

  /** One epoch (rig/session) in a multi-epoch poll: its own pose source
    * dir, frame-grid origin `t0us`, identity pair, and optional ROI.
    * `epoch` keys all state and output. */
  case class TubeEpoch(epoch: String, poseDir: String, t0us: Long,
      ids: Seq[String], roi: Option[Roi] = None)

  /** [[TubeTestEvent]] tagged with its epoch (multi-epoch gold output). */
  case class EpochTubeEvent(epoch: String,
      start_ts: java.sql.Timestamp, end_ts: java.sql.Timestamp,
      winner_identity: String)

  /** Silver rows: one per observed (epoch, frame slot) — tube-test feature
    * columns (NaN = missing), the batch start condition as `isCand`, and
    * the frontier-marker flag. */
  case class TubeSilver(epoch: String, frame: Long, tsUs: Long,
      c0x: Double, c0y: Double, c1x: Double, c1y: Double,
      o0: Double, o1: Double, e2: Double, e3: Double, cdist: Double,
      isCand: Boolean, isMarker: Boolean)

  private val silverSchema = org.apache.spark.sql.Encoders.product[TubeSilver].schema
  private val eventSchema = org.apache.spark.sql.Encoders.product[EpochTubeEvent].schema

  /** Stage 1 plan: N per-epoch pose streams → ONE epoch-keyed per-frame-
    * slot feature pivot + candidate flag. Each epoch's ROI is its own
    * static configuration, so `isCand` dispatches on the epoch key — a
    * when-chain over N literal-ROI conditions (constant-folded per row;
    * the conditions share every feature subexpression via codegen CSE). */
  def silverQueryMulti(spark: SparkSession, epochs: Seq[TubeEpoch],
      markerDirs: Seq[String], parts: Map[String, String], p: TubeParams): DataFrame = {
    import Detectors.nn
    val branches = epochs.zip(markerDirs).map { case (e, md) =>
      val pose = spark.readStream.schema(Poll.poseSchema).parquet(e.poseDir)
        .unionByName(
          spark.readStream.schema(Poll.poseSchema).parquet(md))
      Poll.prePivot(pose, e.epoch, parts, p.fps, e.t0us, e.ids)
    }
    val cand = epochs.foldLeft(lit(false)) { (acc, e) =>
      when(col("epoch") === e.epoch,
        coalesce(Detectors.tubeStartCond(p, e.roi), lit(false))).otherwise(acc)
    }
    Poll.pivotFeatures(branches.reduce(_.unionByName(_)), p.fps).select(
      col("epoch"), col("frame"), col("tsUs"),
      nn(col("m0_centroid_x")).as("c0x"), nn(col("m0_centroid_y")).as("c0y"),
      nn(col("m1_centroid_x")).as("c1x"), nn(col("m1_centroid_y")).as("c1y"),
      nn(col("o0")).as("o0"), nn(col("o1")).as("o1"),
      nn(col("e2")).as("e2"), nn(col("e3")).as("e3"),
      nn(col("cdist")).as("cdist"),
      cand.as("isCand"),
      (col("nReal") === 0).as("isMarker"))
  }

  /** The candidate-run super gap in frames: dominates the batch candidate
    * sessionization gap AND the search window. */
  private def superGap(p: TubeParams): Long =
    math.max(p.maxFrameGap, math.ceil(p.fps * p.searchWindowSeconds).toLong)

  /** Stage 2a plan: candidate frames → closed super-session spans
    * (epoch, minF, maxF), keyed by epoch. */
  def goldSessions(silver: DataFrame, p: TubeParams,
      t0ByEpoch: Map[String, Long]): DataFrame = {
    val durUs = Poll.frameDurUs(p.fps)
    // merge iff frame diff <= superGap, like the batch cumulative-sum form
    // (session_window splits at >= gap, so +0.5 frame)
    val gapUs = math.round((superGap(p) + 0.5) * durUs.toDouble)
    val t0Expr = element_at(typedLit(t0ByEpoch), col("epoch"))
    silver
      .withColumn("tFrame", timestamp_micros(t0Expr + col("frame") * durUs))
      .withWatermark("tFrame", "0 seconds")
      // the never-true watermark-column disjunct keeps this filter ABOVE
      // the EventTimeWatermark node (see FightStream.goldSessions): markers
      // and non-candidate slots must still advance the watermark, or open
      // sessions never close
      .filter(col("isCand") || unix_micros(col("tFrame")) < lit(Long.MinValue + 1))
      .groupBy(col("epoch"), session_window(col("tFrame"), s"$gapUs microseconds"))
      .agg(min(col("frame")).as("minF"), max(col("frame")).as("maxF"))
      .select(col("epoch"), col("minF"), col("maxF"))
  }

  /** Stage 2b (foreachBatch body): closed candidate spans → the EXACT
    * batch tail ([[Detectors.tubeTail]] — same candidate sessionization,
    * min-size filter, kernel span [firstF, lastF + window) and winner
    * resolution as `detectTubeTests`) over the silver sink densified to
    * the batch spine shape, ONE distributed job for all epochs' spans
    * (shard key `epoch:spanStart`). Each epoch's spine clips at ITS OWN
    * last real frame. */
  def eventsFromSpans(spark: SparkSession, spans: Array[(String, Long, Long)],
      silverDir: String, p: TubeParams,
      epochs: Seq[TubeEpoch]): Dataset[EpochTubeEvent] = {
    import spark.implicits._
    val byEpoch = epochs.map(e => e.epoch -> e).toMap
    val idsByEpoch = epochs.map(e => e.epoch -> e.ids.sorted).toMap
    idsByEpoch.foreach { case (k, v) => require(v.length == 2,
      s"epoch '$k': expected exactly 2 identities, got ${v.length}") }
    val durUs = Poll.frameDurUs(p.fps)
    val window = math.ceil(p.fps * p.searchWindowSeconds).toLong
    val real = spark.read.schema(silverSchema).parquet(silverDir)
      // rows written before the epoch column existed read back as null =
      // the single-epoch key "" — null would silently drop a legacy
      // deployment's pre-upgrade frames from the spine and slice
      .withColumn("epoch", coalesce(col("epoch"), lit("")))
      .filter(!col("isMarker"))
    // batch spine end = the sink's last real frame PER EPOCH (footer
    // min/max scan, one row per epoch): span frames beyond it would be
    // rows the batch spine does not have — and trailing all-NaN rows are
    // verdict no-ops anyway
    val spineEnd = real.groupBy(col("epoch")).agg(max("frame").as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val lo = spans.map(_._2).min
    val hi = spans.map { case (e, _, s1) =>
      math.min(s1 + (window - 1), spineEnd(e)) }.max
    // densify each span to the batch spine: one grid row per frame in
    // [minF, min(maxF + window − 1, spineEnd)], all-NaN where the sink has
    // no slot. Spans are event-scale (bounded by the candidate run + the
    // search window), so a per-span sequence() is safe — and span ranges
    // are provably disjoint within an epoch (consecutive spans > superGap
    // ≥ window apart), so no dedup pass is needed on the exploded grid.
    val spanRows = spans.toSeq.map { case (e, s0, s1) =>
      (e, s0, math.min(s1 + (window - 1), spineEnd(e)), byEpoch(e).t0us)
    }
    val grid = spanRows.toDF("_e", "_lo", "_end", "_t0us")
      .select(col("_e"), col("_lo"), col("_t0us"),
        explode(sequence(col("_lo"), col("_end"))).as("frame"))
    val slice = real.filter(col("frame") >= lo && col("frame") <= hi)
      .withColumnRenamed("epoch", "_se")
    def nnc(c: String) = coalesce(col(c), lit(Double.NaN)).as(c)
    val flagged = grid.join(slice,
        col("_e") === col("_se") && grid("frame") === slice("frame"), "left")
      .select(grid("frame").as("frame"),
        coalesce(col("tsUs"), col("_t0us") + grid("frame") * durUs).as("tsUs"),
        nnc("c0x"), nnc("c0y"), nnc("c1x"), nnc("c1y"),
        nnc("o0"), nnc("o1"), nnc("e2"), nnc("e3"), nnc("cdist"),
        coalesce(col("isCand"), lit(false)).as("isCand"),
        concat(col("_e"), lit(":"), col("_lo").cast("string")).as(Detectors.G))
    Detectors.tubeTail(flagged, p).map { t =>
      val epoch = t.g.substring(0, t.g.lastIndexOf(':'))
      EpochTubeEvent(epoch, t.start_ts, t.end_ts, idsByEpoch(epoch)(t.winner_idx))
    }
  }

  /** One incremental poll over N epochs (the reference's 30-minute loop
    * body, one poller for the whole deployment): ingest all pose chunk
    * files under each epoch's `poseDir` with event time < `upToUs`,
    * advance both stages, and append newly-closed tube-test events under
    * `workDir/events` tagged with their epoch. Re-running with no new data
    * is a no-op (checkpoints); events are emitted exactly once. The
    * poll/frontier contract (global frontier, fixed epoch set per
    * `workDir`) is [[FightStream.pollFightsMulti]]'s; the emission horizon
    * is `lastF + superGap + 2` frames past a candidate run's end. */
  def pollTubeTestsMulti(spark: SparkSession, epochs: Seq[TubeEpoch],
      workDir: String, parts: Map[String, String], p: TubeParams,
      upToUs: Long): Unit = {
    require(epochs.nonEmpty, "at least one epoch")
    require(epochs.map(_.epoch).distinct.length == epochs.length,
      "epoch keys must be unique")
    // the stage checkpoints and per-epoch dirs are positional — the epoch
    // sequence must be byte-identical on every poll of this workDir
    Poll.checkEpochManifest(spark, workDir, epochs.map(_.epoch))
    val durUs = Poll.frameDurUs(p.fps)
    val markerRoot = s"$workDir/markers"
    val silverDir = s"$workDir/silver"
    val eventsDir = s"$workDir/events"
    // single-epoch workDirs keep the pre-multi layout (markers/ directly
    // under workDir): the stage-1 checkpoint pins its source PATHS
    val markerDirs =
      if (epochs.lengthCompare(1) == 0) Seq(markerRoot)
      else epochs.indices.map(i => s"$markerRoot/m$i")
    Seq(silverDir, eventsDir).foreach(Poll.ensureDir(spark, _))
    val t0ByEpoch = epochs.map(e => e.epoch -> e.t0us).toMap
    markerDirs.foreach { md =>
      Poll.ensureDir(spark, md)
      Poll.writeMarkers(spark, md, upToUs, durUs)
    }
    Poll.drain(silverQueryMulti(spark, epochs, markerDirs, parts, p),
      silverDir, s"$workDir/ckpt_silver")
    val silver = spark.readStream.schema(silverSchema).parquet(silverDir)
      // pre-epoch-column rows read back as the single-epoch key ""
      .withColumn("epoch", coalesce(col("epoch"), lit("")))
    // gold: closed spans → exact batch tail over the densified silver
    // slice, written per micro-batch under an id-keyed subdir — overwrite
    // of the same subdir makes checkpoint replays idempotent
    goldSessions(silver, p, t0ByEpoch).writeStream
      .option("checkpointLocation", s"$workDir/ckpt_gold")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spans = batch.select("epoch", "minF", "maxF").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        if (spans.nonEmpty)
          eventsFromSpans(batch.sparkSession, spans, silverDir, p, epochs)
            .toDF()
            .write.mode("overwrite").parquet(s"$eventsDir/b$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
  }

  /** Single-epoch poll (epoch key `""`): the multi-epoch poller with one
    * [[TubeEpoch]]. */
  def pollTubeTests(spark: SparkSession, poseDir: String, workDir: String,
      parts: Map[String, String], p: TubeParams, t0us: Long,
      ids: Seq[String], upToUs: Long, roi: Option[Roi] = None): Unit =
    pollTubeTestsMulti(spark, Seq(TubeEpoch("", poseDir, t0us, ids, roi)),
      workDir, parts, p, upToUs)

  /** Events emitted so far, tagged by epoch (batch read of the
    * per-micro-batch gold dirs). */
  def tubeEventsByEpoch(spark: SparkSession,
      workDir: String): Dataset[EpochTubeEvent] = {
    import spark.implicits._
    val dirs = Poll.eventParquetDirs(spark, workDir)
    if (dirs.isEmpty) spark.emptyDataset[EpochTubeEvent]
    else spark.read.schema(eventSchema).parquet(dirs: _*)
      // pre-epoch-column events read back as the single-epoch key ""
      .withColumn("epoch", coalesce(col("epoch"), lit("")))
      .as[EpochTubeEvent]
  }

  /** Events emitted so far (single-epoch form, epoch column dropped). */
  def tubeEvents(spark: SparkSession, workDir: String): Dataset[TubeTestEvent] = {
    import spark.implicits._
    tubeEventsByEpoch(spark, workDir)
      .map(e => TubeTestEvent(e.start_ts, e.end_ts, e.winner_identity))
  }
}
