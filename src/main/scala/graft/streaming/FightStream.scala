package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._
import graft.behavior.Detectors
import graft.behavior.Detectors.{FightEvent, FightParams}
import graft.functions.Cols
import scala.collection.mutable.ArrayBuffer

/** End-to-end INCREMENTAL fight detection — the reference's operational
  * mode (`combine_pose_id_automated.py:149-185`: a 30-minute polling loop
  * over newly-landed chunk files), rebuilt on Structured Streaming as a
  * three-stage medallion pipeline, each stage one streaming query with its
  * own checkpoint (exactly-once file tracking replaces the reference's
  * processed-set bookkeeping):
  *
  *   1. bronze→silver: per-frame wide pivot (time-window aggregation on the
  *      frame slot) + columnar features — [[Detectors.withFeatures]], the
  *      same expression tree the batch detector uses;
  *   2. silver→filled: `flatMapGroupsWithState` forward-fill of the
  *      centroid distance ACROSS micro-batches (the cross-chunk carry the
  *      reference loses at its per-chunk job boundaries) + candidate /
  *      bridge flags + dense-spine synthesis (interior slot gaps become
  *      empty frames, exactly like the batch frame tensor);
  *   3. filled→gold: `session_window` assembly of candidate∪bridge frames
  *      into SUPER-SESSIONS (gap ≥ both batch sessionization gaps, so no
  *      cross-super interaction exists), then — per closed super-session,
  *      in `foreachBatch` — the EXACT batch tail [[Detectors.fightsTail]]
  *      over the filled sink slice: same two-phase sessionization, same
  *      min-size counts, same kernel span [firstF−1, lastF], same event
  *      timestamps. One shared implementation; batch and stream cannot
  *      drift. Events are written exactly once (append-mode closed
  *      sessions + idempotent per-micro-batch output dirs).
  *
  * End-of-data flush: a poll writes two marker rows at the frontier
  * `upToUs` into a side channel unioned with the pose source. Markers
  * advance the event-time watermark (flushing every frame slot strictly
  * before the frontier through all three stages) without contributing pose
  * data — the reference's "watch until period end + slack" in watermark
  * form. The poll contract is the file-discovery contract: `upToUs` must
  * not exceed the earliest event time that could still arrive.
  *
  * Condition 3 (blob speed): stage 0, a fourth checkpointed query drained
  * before stage 2, carries the batch recipe [[Detectors.blobSpeed]]
  * across polls in `flatMapGroupsWithState` keyed by epoch
  * ([[carryBlobSpeed]]): per poll it reads only the newly landed blob
  * files. Its sink holds each frame's speed once as a final row when the
  * frame's smoothing windows are complete, plus per poll a provisional
  * set for the pending tail (at most four kept samples' windows still
  * open, truncated at the newest sample). Stage 2 stream-static-joins
  * every final row plus each epoch's newest provisional set
  * ([[blobSpeeds]]), which is exactly the recipe over all blob rows landed
  * so far, the end of an epoch's blob stream included. Omitting `blobDir`
  * disables condition 3, exactly like `blob = None` in batch.
  *
  * Deviations from batch [[Detectors.detectFights]] (documented): a camera
  * gap that SPANS a poll frontier gets
  * its synthesized empty frames one poll late, where the watermark drops
  * them — a session the batch mode would bridge across such a gap may
  * close early or split (graceful; the reference's own chunked incremental
  * mode has the same boundary artifact, without the cross-chunk ffill
  * carry). Interior gaps — any dropout that does not straddle a frontier —
  * are exact.
  *
  * Scale: stage 1 and 3a are keyed stateful aggregations (parallel across
  * (epoch, frame slot) / (epoch, session)); stage 2's sequential carry is
  * inherently serial PER EPOCH but parallel ACROSS epochs — every stage's
  * state and frame grid is keyed by epoch, so a multi-rig deployment runs
  * ONE poller over all its epochs ([[pollFightsMulti]]): one streaming
  * query and ONE checkpoint per stage, each epoch with its own `t0us`
  * frame grid, identity pair, and optional blob source. Multiple silver
  * files per poll land in ONE micro-batch (AvailableNow, no
  * maxFilesPerTrigger) and are ordered inside the stateful closure, so
  * shuffle-randomized file layout cannot reorder the carry. Stage 3b's
  * slice read prunes the filled sink to the closed spans' frame range via
  * parquet min/max stats before the broadcast range join.
  */
object FightStream {

  /** One epoch (rig/session) in a multi-epoch poll: its own pose source
    * dir, frame-grid origin `t0us`, identity pair, and optional blob
    * source (condition 3). `epoch` keys all state and output. */
  case class FightEpoch(epoch: String, poseDir: String, t0us: Long,
      ids: Seq[String], blobDir: Option[String] = None)

  /** [[FightEvent]] tagged with its epoch (multi-epoch gold output). */
  case class EpochFightEvent(epoch: String,
      start_ts: java.sql.Timestamp, end_ts: java.sql.Timestamp,
      duration_sec: Double, end_x: Double, end_y: Double)

  /** Silver rows: one per observed (epoch, frame slot), reference feature
    * columns (NaN = missing, exactly like the batch wide table).
    * `isMarker` flags frontier-marker-only slots (no real pose row landed
    * in the slot) — they advance watermarks but carry no data. */
  case class SilverRow(epoch: String, frame: Long, tsUs: Long,
      c0x: Double, c0y: Double, c1x: Double, c1y: Double,
      cdist: Double, nh0: Double, nh1: Double, is0: Double, is1: Double,
      isEmpty: Boolean, isMarker: Boolean)

  /** Silver row + the per-frame smoothed blob speed (stage 2 input after
    * the stream-static speed join; `Double.MaxValue` = condition 3 disabled,
    * NaN = no blob sample for the frame → not a candidate, like batch's
    * null-left-join semantics). */
  case class SilverSpeed(epoch: String, frame: Long, tsUs: Long,
      c0x: Double, c0y: Double, c1x: Double, c1y: Double,
      cdist: Double, nh0: Double, nh1: Double, is0: Double, is1: Double,
      isEmpty: Boolean, isMarker: Boolean, speed: Double)

  /** Filled rows: silver + forward-filled centroid distance folded into the
    * candidate (`isFight`) and empty-frame bridge (`isBridge`) flags, plus
    * the synthesized dense-spine empty frames for interior slot gaps.
    * Marker rows pass through with both flags false. */
  case class FilledRow(epoch: String, frame: Long, tsUs: Long,
      c0x: Double, c0y: Double, c1x: Double, c1y: Double,
      isFight: Boolean, isBridge: Boolean, isMarker: Boolean)

  private def frameDurUs(fps: Double): Long = Poll.frameDurUs(fps)

  val poseSchema: StructType = Poll.poseSchema

  val blobSchema: StructType = StructType(Seq(
    StructField("time", TimestampType), StructField("x", DoubleType),
    StructField("y", DoubleType)))

  /** Stage-0 input: one blob sample of an epoch, null/NaN x/y already
    * dropped, `frame` on the epoch's pose frame grid. */
  case class BlobSample(epoch: String, tUs: Long, frame: Long, x: Double, y: Double)

  /** Stage-0 output: one frame's smoothed blob speed. A final row is
    * written once, when every sample of its frame has its full smoothing
    * window. A provisional row is a frame of the pending tail, its windows
    * truncated at the newest sample like the batch recipe's at the end of
    * a stream; it is superseded by the epoch's next provisional set
    * (`asOfUs` = the newest sample time when the set was written). */
  case class BlobSpeedRow(epoch: String, frame: Long, blob_speed: Double,
      isFinal: Boolean, asOfUs: Long)

  /** Stage-0 carry of one epoch: the newest raw sample time (the
    * dt-anomaly predecessor), the last kept sample (the lag predecessor),
    * the lag speeds of up to five kept samples before the pending ones
    * (their smoothing context) and the pending kept samples, those of the
    * frames not yet written as final. */
  case class BlobCarry(lastRawUs: Long, lastUs: Long, lastX: Double, lastY: Double,
      hist: Seq[Double], pendFrame: Seq[Long], pendLag: Seq[Double])

  /** Stage 1 plan: N per-epoch pose streams (each unioned with its marker
    * channel and tagged by [[Poll.prePivot]] with its OWN `t0us` grid and
    * identity pair as literals) → ONE epoch-keyed per-frame-slot wide
    * pivot + features. One streaming query, one checkpoint; plan size is
    * linear in epochs (2 file sources each), state is keyed by
    * (epoch, slot). */
  def silverQueryMulti(spark: SparkSession, epochs: Seq[FightEpoch],
      markerDirs: Seq[String], parts: Map[String, String], fps: Double): DataFrame = {
    import Detectors.nn
    val branches = epochs.zip(markerDirs).map { case (e, md) =>
      val pose = spark.readStream.schema(poseSchema).parquet(e.poseDir)
        .unionByName(spark.readStream.schema(poseSchema).parquet(md))
      Poll.prePivot(pose, e.epoch, parts, fps, e.t0us, e.ids)
    }
    Poll.pivotFeatures(branches.reduce(_.unionByName(_)), fps).select(
      col("epoch"), col("frame"), col("tsUs"),
      nn(col("m0_centroid_x")).as("c0x"), nn(col("m0_centroid_y")).as("c0y"),
      nn(col("m1_centroid_x")).as("c1x"), nn(col("m1_centroid_y")).as("c1y"),
      nn(col("cdist")).as("cdist"),
      nn(col("nh0")).as("nh0"), nn(col("nh1")).as("nh1"),
      nn(col("is0")).as("is0"), nn(col("is1")).as("is1"),
      col("isEmpty"), (col("nReal") === 0).as("isMarker"))
  }

  /** Stage 2 plan: forward-fill `cdist` across frames AND micro-batches,
    * fold the fight conditions into flags, and SYNTHESIZE the batch dense
    * spine — every interior slot gap (no pose rows delivered at all)
    * becomes empty frames with the forward-filled centroid distance, so
    * camera dropouts bridge sessions exactly as the batch detector's dense
    * frame tensor does. State = (last observed frame, last non-NaN cdist)
    * PER EPOCH (`groupByKey(_.epoch)`): the carry is sequential within an
    * epoch, parallel across epochs.
    *
    * Marker-only slots pass through with both flags false (watermark
    * carriers, never data) and do not advance the spine: a marker slot
    * below a later real frame is re-synthesized as a true empty frame and
    * the duplicate marker row is dropped by the gold-stage candidate
    * filter and the `!isMarker` slice filter. */
  def fillAndFlag(silver: Dataset[SilverSpeed], p: FightParams,
      t0ByEpoch: Map[String, Long]): Dataset[FilledRow] = {
    val spark = silver.sparkSession
    import spark.implicits._
    val durUs = frameDurUs(p.fps)
    silver.groupByKey(_.epoch)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (epoch: String, it: Iterator[SilverSpeed], state: GroupState[(Long, Double)]) =>
          // fail with the CONTRACT, not a bare NoSuchElementException deep
          // in a task: a sink row keyed by an epoch outside the configured
          // set means the fixed-epoch-set contract was broken (an epoch
          // was dropped from the Seq, or a foreign file landed in the sink)
          val t0us = t0ByEpoch.getOrElse(epoch, throw new IllegalStateException(
            s"silver sink contains rows for epoch '$epoch', which is not in " +
              s"this poll's epoch set ${t0ByEpoch.keys.mkString("[", ", ", "]")}" +
              " — the epoch set of a workDir is fixed for its lifetime " +
              "(removing an epoch requires a new workDir)"))
          var (lastF, lastCd) =
            if (state.exists) state.get else (Long.MinValue, Double.NaN)
          // chunks of lazy iterators: synthesized gaps never materialize an
          // array (an hour-long camera gap is 180 k rows), snapshot locals
          // keep them correct after the state vars move on
          val chunks = scala.collection.mutable.ArrayBuffer.empty[Iterator[FilledRow]]
          it.toArray.sortBy(_.frame).foreach { r =>
            if (r.isMarker) {
              chunks += Iterator.single(FilledRow(epoch, r.frame, r.tsUs,
                Double.NaN, Double.NaN, Double.NaN, Double.NaN,
                isFight = false, isBridge = false, isMarker = true))
            } else {
              if (lastF != Long.MinValue && r.frame > lastF + 1) {
                val (f0, f1, cd) = (lastF + 1, r.frame - 1, lastCd)
                val bridge = cd < p.maxDistance // NaN compares false
                chunks += (f0 to f1).iterator.map(f =>
                  FilledRow(epoch, f, t0us + f * durUs,
                    Double.NaN, Double.NaN, Double.NaN, Double.NaN,
                    isFight = false, isBridge = bridge, isMarker = false))
              }
              val cd = if (!r.cdist.isNaN) r.cdist else lastCd
              val cond1 = cd < p.maxDistance
              // Scala NaN > t is FALSE — the same NaN-drops-the-frame
              // semantics as the batch core's gtNanFalse (numpy parity)
              val cond2 = r.nh0 > p.maxNoseHeadDistance ||
                r.nh1 > p.maxNoseHeadDistance ||
                r.is0 > p.maxInterspinalDistance ||
                r.is1 > p.maxInterspinalDistance
              val cond3 = r.speed > p.minBlobSpeed // NaN (no sample) → false
              chunks += Iterator.single(FilledRow(epoch, r.frame, r.tsUs,
                r.c0x, r.c0y, r.c1x, r.c1y,
                isFight = cond1 && cond2 && cond3,
                isBridge = cond1 && r.isEmpty, isMarker = false))
              lastF = r.frame
              if (!r.cdist.isNaN) lastCd = r.cdist
            }
          }
          if (lastF != Long.MinValue) state.update((lastF, lastCd))
          chunks.iterator.flatten
      }
  }

  /** Stage 3a plan: candidate∪bridge frames → closed SUPER-SESSION spans,
    * keyed by epoch. The super gap = max(maxFrameGap,
    * maxFrameGapWEmptyFrames) dominates both batch sessionization phases,
    * so every set of frames that either phase could chain lands inside ONE
    * super-session — running the exact batch tail per closed super-session
    * is then exact. The watermark node sits BEFORE the candidate filter so
    * every frame (markers included) advances it. Emits one
    * (epoch, minF, maxF) span per closed super-session. */
  def goldSessions(filled: DataFrame, p: FightParams,
      t0ByEpoch: Map[String, Long]): DataFrame = {
    val durUs = frameDurUs(p.fps)
    // merge iff frame diff <= superGap, like the batch cumulative-sum form
    // (session_window splits at >= gap, so +0.5 frame)
    val superGap = math.max(p.maxFrameGap, p.maxFrameGapWEmptyFrames)
    val gapUs = math.round((superGap + 0.5) * durUs.toDouble)
    val t0Expr = element_at(typedLit(t0ByEpoch), col("epoch"))
    filled
      .withColumn("tFrame", timestamp_micros(t0Expr + col("frame") * durUs))
      .withWatermark("tFrame", "0 seconds")
      // The never-true third disjunct REFERENCES THE WATERMARK COLUMN, which
      // is the one thing PushPredicateThroughNonJoin refuses to push below
      // an EventTimeWatermark node. Without it the candidate filter is
      // pushed under the watermark exec, which then only ever sees candidate
      // rows — frontier markers and trailing empty frames are dropped before
      // the max-event-time stat, the watermark freezes at the last
      // candidate, and open sessions never close. (Verified: a plain filter
      // froze the watermark at the fight's final frame; a rand() guard gets
      // optimized away.)
      .filter(col("isFight") || col("isBridge") ||
        unix_micros(col("tFrame")) < lit(Long.MinValue + 1))
      .groupBy(col("epoch"), session_window(col("tFrame"), s"$gapUs microseconds"))
      .agg(min(col("frame")).as("minF"), max(col("frame")).as("maxF"))
      .select(col("epoch"), col("minF"), col("maxF"))
  }

  /** Stage 3b (foreachBatch body): closed super-session spans → the EXACT
    * batch tail ([[Detectors.fightsTail]] — same two-phase sessionization,
    * min-size counts, kernel span [firstF−1, lastF] and event timestamps as
    * `detectFights`) over the filled sink sliced to the spans. ONE
    * distributed job for all epochs' spans: the shard key is
    * `epoch:spanStart` (spans within an epoch are ≥ superGap apart, so each
    * is an independent shard). */
  def eventsFromSpans(spark: SparkSession, spans: Array[(String, Long, Long)],
      filledDir: String, p: FightParams): Dataset[EpochFightEvent] = {
    import spark.implicits._
    val lo = spans.map(_._2).min - 1 // kernel span reaches one frame left
    val hi = spans.map(_._3).max
    val spanDf = spans.toSeq.toDF("_e", "_lo", "_hi")
    val slice = spark.read.schema(filledSchema).parquet(filledDir)
      // rows written before the epoch column existed read back as null =
      // the single-epoch key "" — null === "" would silently drop a
      // legacy deployment's pre-upgrade frames from the slice
      .withColumn("epoch", coalesce(col("epoch"), lit("")))
      .filter(!col("isMarker") && col("frame") >= lo && col("frame") <= hi)
    val flagged = slice.join(broadcast(spanDf),
        col("epoch") === col("_e") &&
          col("frame") >= col("_lo") - 1 && col("frame") <= col("_hi"))
      .withColumn(Detectors.G,
        concat(col("_e"), lit(":"), col("_lo").cast("string")))
      .select(col(Detectors.G), col("frame"), col("tsUs"),
        col("c0x"), col("c0y"), col("c1x"), col("c1y"),
        col("isFight"), col("isBridge"))
    Detectors.fightsTail(flagged, p).map { f =>
      val epoch = f.g.substring(0, f.g.lastIndexOf(':'))
      EpochFightEvent(epoch, f.start_ts, f.end_ts, f.duration_sec, f.end_x, f.end_y)
    }
  }

  private val silverSchema = org.apache.spark.sql.Encoders.product[SilverRow].schema
  private val filledSchema = org.apache.spark.sql.Encoders.product[FilledRow].schema
  private val eventSchema = org.apache.spark.sql.Encoders.product[EpochFightEvent].schema
  private val blobSpeedSchema = org.apache.spark.sql.Encoders.product[BlobSpeedRow].schema

  private def drain(df: DataFrame, outPath: String, checkpoint: String): Unit =
    Poll.drain(df, outPath, checkpoint)

  private def ensureDir(spark: SparkSession, path: String): Unit =
    Poll.ensureDir(spark, path)

  /** Stage 0 plan: one blob file source per epoch with a `blobDir`
    * (positional, like stage 1's pose sources), tagged with the epoch key
    * and framed on its `t0us` grid as literals, into ONE epoch-keyed
    * sequential carry ([[carryBlobSpeed]]) — the batch recipe
    * [[Detectors.blobSpeed]] extended sample by sample, so per-poll work
    * is proportional to the delivery, not to the blob history. */
  def blobSpeedQuery(spark: SparkSession, epochs: Seq[FightEpoch],
      p: FightParams): Dataset[BlobSpeedRow] = {
    import spark.implicits._
    val branches = epochs.flatMap(e => e.blobDir.map { bd =>
      val tUs = unix_micros(col("time"))
      spark.readStream.schema(blobSchema).parquet(bd)
        .na.drop(Seq("x", "y"))
        .select(lit(e.epoch).as("epoch"), tUs.as("tUs"),
          Cols.frameId(tUs, lit(e.t0us), p.fps).as("frame"), col("x"), col("y"))
    })
    branches.reduce(_.unionByName(_)).as[BlobSample]
      .groupByKey(_.epoch)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (epoch: String, it: Iterator[BlobSample], state: GroupState[BlobCarry]) =>
          val (carry, rows) = carryBlobSpeed(epoch, state.getOption,
            it.toArray.sortBy(_.tUs), p.cm2px)
          carry.foreach(state.update)
          rows.iterator
      }
  }

  /** One epoch's stage-0 step over time-ordered `samples`: the batch
    * recipe as a sequential carry. A sample under 10 ms after the previous
    * raw sample is dropped; a kept sample's lag speed is
    * `hypot / floor(dt ms) / cm2px * 1000` against the previous kept one
    * (0 for the first); its smoothed speed is the left-to-right sum of the
    * lag speeds of kept rows [−5, +4] divided by 10; a frame's speed is
    * the mean over its kept samples. Frames whose samples all have four
    * kept samples after them are final; the rest are returned as the
    * provisional set, only when a new sample arrived. A sample at or
    * before the newest one already carried arrived late and is dropped. */
  private[streaming] def carryBlobSpeed(epoch: String, prior: Option[BlobCarry],
      samples: Seq[BlobSample], cm2px: Double): (Option[BlobCarry], Seq[BlobSpeedRow]) = {
    var lastRaw = prior.fold(Long.MinValue)(_.lastRawUs)
    var (lastUs, lastX, lastY) = prior.fold((0L, 0.0, 0.0))(c => (c.lastUs, c.lastX, c.lastY))
    val hist = prior.fold(Seq.empty[Double])(_.hist)
    val frames = ArrayBuffer.from(prior.fold(Seq.empty[Long])(_.pendFrame))
    val lags = ArrayBuffer.from(prior.fold(Seq.empty[Double])(_.pendLag))
    samples.foreach { s =>
      if (s.tUs > lastRaw) {
        val first = lastRaw == Long.MinValue
        if (first || (s.tUs - lastRaw) / 1000.0 >= 10.0) {
          lags += (if (first) 0.0 else math.hypot(s.x - lastX, s.y - lastY) /
            math.floor((s.tUs - lastUs) / 1000.0) / cm2px * 1000.0)
          frames += s.frame
          lastUs = s.tUs; lastX = s.x; lastY = s.y
        }
        lastRaw = s.tUs
      }
    }
    if (lastRaw == Long.MinValue) return (None, Nil)
    val advanced = prior.forall(_.lastRawUs != lastRaw)
    // hist holds every earlier kept sample while there are fewer than
    // five, so clipping the window at index 0 is the stream start
    val all = hist ++ lags
    def smoothed(g: Int): Double = {
      var sum = 0.0
      for (k <- math.max(0, g - 5) to math.min(all.length - 1, g + 4)) sum += all(k)
      sum / 10.0
    }
    val n = lags.length
    val out = ArrayBuffer.empty[BlobSpeedRow]
    var nFinal = 0
    var j = 0
    while (j < n) {
      var k = j
      while (k + 1 < n && frames(k + 1) == frames(j)) k += 1
      val isFinal = k <= n - 5
      if (isFinal) nFinal = k + 1
      if (isFinal || advanced) {
        var sum = 0.0
        for (i <- j to k) sum += smoothed(hist.length + i)
        out += BlobSpeedRow(epoch, frames(j), sum / (k - j + 1), isFinal, lastRaw)
      }
      j = k + 1
    }
    (Some(BlobCarry(lastRaw, lastUs, lastX, lastY,
      (hist ++ lags.take(nFinal)).takeRight(5),
      frames.drop(nFinal).toSeq, lags.drop(nFinal).toSeq)), out.toSeq)
  }

  /** The per-frame blob speeds stage 2 joins: every final stage-0 row plus
    * each epoch's newest provisional set. Columns `epoch, frame,
    * blob_speed`; one row per (epoch, frame) with a kept blob sample. */
  def blobSpeeds(spark: SparkSession, workDir: String): DataFrame = {
    val sp = spark.read.schema(blobSpeedSchema).parquet(s"$workDir/blob_speed")
    val newest = sp.filter(!col("isFinal"))
      .groupBy("epoch").agg(max(col("asOfUs")).as("_newest"))
    sp.join(broadcast(newest), Seq("epoch"), "left")
      .filter(col("isFinal") || col("asOfUs") === col("_newest"))
      .select("epoch", "frame", "blob_speed")
  }

  /** One incremental poll over N epochs (the reference's 30-minute loop
    * body, one poller for the whole deployment): ingest all pose chunk
    * files under each epoch's `poseDir` with event time < `upToUs`, advance
    * every stage, and append newly-closed fight events under
    * `workDir/events` tagged with their epoch. Re-running with no new data
    * is a no-op (checkpoints); events are emitted exactly once. ONE
    * checkpoint per stage regardless of epoch count.
    *
    * `upToUs` is the discovery frontier, GLOBAL across epochs (the
    * event-time watermark is per-query, not per-key): all data strictly
    * before it must already be in EVERY epoch's `poseDir` — a lagging rig
    * holds the frontier for the whole poller, exactly like the slowest
    * chunk holds the reference's polling loop. Later-arriving rows below
    * the frontier would be dropped as late. The converse also binds, and
    * binds harder with many epochs: NO row at-or-after the frontier may
    * have landed yet — the watermark rides the max event time seen, so one
    * rig's early rows push it past the frontier and turn every other
    * rig's still-in-flight rows below that point late. Deliveries must be
    * wall-clock-cut across epochs; pick `upToUs` = the earliest event
    * time that could still arrive OR already sits undelivered, over all
    * epochs. Events are only emitted once
    * the frontier passes their super-session's gap horizon — on the final
    * poll of an epoch pass `epochEndUs + (max(maxFrameGap,
    * maxFrameGapWEmptyFrames) + 2) frames` or more.
    *
    * The epoch SET of a `workDir` is fixed for its lifetime: the stage-1
    * query has 2 file sources per epoch, and Structured Streaming pins the
    * source count in the checkpoint. Onboarding a new epoch = a new
    * `workDir` (epochs are independent; old events remain readable).
    * ENFORCED: the ordered epoch list is persisted to `workDir/epochs.txt`
    * on the first poll and must match exactly (same keys, same ORDER — the
    * source slots and per-epoch dirs are positional) on every later poll.
    * Which epochs have a `blobDir` is fixed the same way (stage 0 has one
    * positional source per such epoch), recorded in
    * `workDir/blob_sources.txt`.
    *
    * Blob contract (condition 3): a frame's speed is exact once four kept
    * blob samples follow it; before that stage 2 sees the truncated-window
    * speed the batch recipe gives at the end of a blob stream, so blob
    * data should run a few samples past `upToUs` when the pose frontier
    * gets there. Blob samples must land in time order across polls: a
    * sample at or before the newest sample of an earlier poll is dropped,
    * like a late pose row. Stage 0's sink and checkpoint
    * (`workDir/blob_speed`, `workDir/ckpt_blob_speed`) replace the
    * hour-bucketed `workDir/speed` table of earlier versions, which is
    * left untouched: the first poll of such a `workDir` reads its whole
    * blob history in one stage-0 batch, a one-time catch-up whose samples
    * pass through one task per epoch.
    *
    * Memory contract: each poll's silver rows pass through one stateful
    * task PER EPOCH ([[fillAndFlag]]'s sequential carry), so a poll must be
    * bounded per epoch — at the reference cadence (30 min at 50 fps ≈ 90 k
    * slots) that is a few MB. Catching up over a LONG backlog (days of
    * pose data) must be split into multiple polls with stepped `upToUs`,
    * not one giant poll; `maxFilesPerTrigger` is no substitute because
    * file discovery order within one backlog batch does not follow frame
    * order. */
  def pollFightsMulti(spark: SparkSession, epochs: Seq[FightEpoch],
      workDir: String, parts: Map[String, String], p: FightParams,
      upToUs: Long): Unit = {
    import spark.implicits._
    require(epochs.nonEmpty, "at least one epoch")
    require(epochs.map(_.epoch).distinct.length == epochs.length,
      "epoch keys must be unique")
    // the stage checkpoints and per-epoch dirs are positional — the epoch
    // sequence must be byte-identical on every poll of this workDir
    Poll.checkEpochManifest(spark, workDir, epochs.map(_.epoch))
    Poll.checkBlobManifest(spark, workDir,
      epochs.map(e => (e.epoch, e.blobDir.isDefined)))
    val durUs = frameDurUs(p.fps)
    val markerRoot = s"$workDir/markers"
    val silverDir = s"$workDir/silver"
    val filledDir = s"$workDir/filled"
    val eventsDir = s"$workDir/events"
    // single-epoch workDirs keep the pre-multi layout (markers/ directly
    // under workDir): the stage-1 checkpoint pins its source PATHS
    val markerDirs =
      if (epochs.lengthCompare(1) == 0) Seq(markerRoot)
      else epochs.indices.map(i => s"$markerRoot/m$i")
    Seq(silverDir, filledDir, eventsDir).foreach(ensureDir(spark, _))
    val t0ByEpoch = epochs.map(e => e.epoch -> e.t0us).toMap
    markerDirs.foreach { md =>
      ensureDir(spark, md)
      Poll.writeMarkers(spark, md, upToUs, durUs)
    }
    val hasBlob = epochs.exists(_.blobDir.isDefined)
    // condition 3: stage 0 extends the blob-speed sink BEFORE stage 2
    // reads it (stream-static join below)
    if (hasBlob)
      drain(blobSpeedQuery(spark, epochs, p).toDF(), s"$workDir/blob_speed",
        s"$workDir/ckpt_blob_speed")
    drain(silverQueryMulti(spark, epochs, markerDirs, parts, p.fps),
      silverDir, s"$workDir/ckpt_silver")
    val silver = spark.readStream.schema(silverSchema).parquet(silverDir)
      // pre-epoch-column rows read back as null = the single-epoch key ""
      .withColumn("epoch", coalesce(col("epoch"), lit("")))
    // stream-static left join against the stage-0 speeds (batch joins the
    // same shape onto the dense spine); an epoch with no blob source gets
    // speed = MaxValue (condition 3 off, like blob = None), one WITH a
    // source but no sample for a frame gets NaN (not a candidate, like
    // batch's null left join)
    val withSpeed = if (hasBlob) {
      val defaults = epochs.map(e =>
        e.epoch -> (if (e.blobDir.isDefined) Double.NaN else Double.MaxValue)).toMap
      silver.join(blobSpeeds(spark, workDir), Seq("epoch", "frame"), "left")
        .withColumn("speed", coalesce(col("blob_speed"),
          element_at(typedLit(defaults), col("epoch"))))
        .drop("blob_speed")
    } else silver.withColumn("speed", lit(Double.MaxValue))
    drain(fillAndFlag(withSpeed.as[SilverSpeed], p, t0ByEpoch).toDF(),
      filledDir, s"$workDir/ckpt_filled")
    val filled = spark.readStream.schema(filledSchema).parquet(filledDir)
      .withColumn("epoch", coalesce(col("epoch"), lit("")))
    // gold: closed super-session spans → exact batch tail over the filled
    // sink slice, written per micro-batch under an id-keyed subdir —
    // overwrite of the same subdir makes checkpoint replays idempotent
    // (exactly-once events without relying on sink transactionality)
    goldSessions(filled, p, t0ByEpoch).writeStream
      .option("checkpointLocation", s"$workDir/ckpt_gold")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spans = batch.select("epoch", "minF", "maxF").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        if (spans.nonEmpty)
          eventsFromSpans(batch.sparkSession, spans, filledDir, p).toDF()
            .write.mode("overwrite").parquet(s"$eventsDir/b$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
  }

  /** Single-epoch poll (epoch key `""`): the multi-epoch poller with one
    * [[FightEpoch]]. */
  def pollFights(spark: SparkSession, poseDir: String, workDir: String,
      parts: Map[String, String], p: FightParams, t0us: Long,
      ids: Seq[String], upToUs: Long, blobDir: Option[String] = None): Unit =
    pollFightsMulti(spark, Seq(FightEpoch("", poseDir, t0us, ids, blobDir)),
      workDir, parts, p, upToUs)

  /** Events emitted so far, tagged by epoch (batch read of the
    * per-micro-batch gold dirs). */
  def fightEventsByEpoch(spark: SparkSession,
      workDir: String): Dataset[EpochFightEvent] = {
    import spark.implicits._
    val dirs = Poll.eventParquetDirs(spark, workDir)
    if (dirs.isEmpty) spark.emptyDataset[EpochFightEvent]
    else spark.read.schema(eventSchema).parquet(dirs: _*)
      // pre-epoch-column events read back as the single-epoch key ""
      .withColumn("epoch", coalesce(col("epoch"), lit("")))
      .as[EpochFightEvent]
  }

  /** Events emitted so far (single-epoch form, epoch column dropped). */
  def fightEvents(spark: SparkSession, workDir: String): Dataset[FightEvent] = {
    import spark.implicits._
    fightEventsByEpoch(spark, workDir)
      .map(e => FightEvent(e.start_ts, e.end_ts, e.duration_sec, e.end_x, e.end_y))
  }
}
