package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.behavior.Detectors
import graft.behavior.Detectors.{FightEvent, FightParams}
import graft.functions.Cols
import scala.collection.mutable.ArrayBuffer

/** End-to-end INCREMENTAL fight detection — the reference's operational
  * mode (`combine_pose_id_automated.py:149-185`: a 30-minute polling loop
  * over newly-landed chunk files), rebuilt as ONE checkpointed Structured
  * Streaming query per `workDir`. A poll is one `AvailableNow` run of that
  * query over every epoch's pose files, the poller's frontier markers and
  * the blob files (exactly-once file tracking replaces the reference's
  * processed-set bookkeeping). Its single micro-batch collects its rows
  * and runs the whole detector in `foreachBatch` as plain code on the
  * driver, with the state between polls carried explicitly ([[Carry]]):
  *
  *   0. blob speed: [[carryBlobSpeed]] extends the batch recipe
  *      [[Detectors.blobSpeed]] sample by sample per epoch, so a poll's
  *      work is proportional to the delivery, not to the blob history;
  *   1. silver: the pose rows of every frame slot the frontier closed →
  *      per-frame wide pivot + features ([[silverRows]]), the values the
  *      batch detector's expression tree gives ([[Poll.pivotFeatures]]);
  *   2. filled: [[fillAndFlag]] forward-fills the centroid distance ACROSS
  *      polls (the cross-chunk carry the reference loses at its per-chunk
  *      job boundaries), folds the fight conditions into candidate /
  *      bridge flags and synthesizes interior slot gaps as empty frames,
  *      exactly like the batch frame tensor;
  *   3. gold: candidate ∪ bridge frames assemble into SUPER-SESSIONS
  *      ([[superSessions]]; gap ≥ both batch sessionization gaps, so no
  *      cross-super interaction exists), and every closed super-session
  *      runs the rules of the batch tail [[Detectors.fightsTail]] over its
  *      filled rows ([[tailEvents]]): same two-phase sessionization, same
  *      min-size counts, same kernel span [firstF−1, lastF], and the same
  *      per-event verdict and timestamps ([[Detectors.fightOf]]).
  *
  * Layout under `workDir`:
  *   - `ckpt_fight/`: the query's checkpoint (offset and commit logs, the
  *     per-source file logs);
  *   - `markers/`: one frontier-marker file per poll;
  *   - `state/b<batchId>`: the carry after micro-batch `batchId` — both
  *     frontiers, the rows of still-open frame slots, the fill carry, the
  *     blob carry and the speeds of frames not yet emitted, the open
  *     super-sessions and the filled rows they (or the next one) can still
  *     reach. A micro-batch reads the newest snapshot below its own id,
  *     writes its own and deletes the ones older than the one it read: a
  *     replay after a crash between these writes and the commit-log entry
  *     recomputes bit-identical state and events, and a poll reads one
  *     snapshot however many polls came before;
  *   - `events/b<batchId>`: the events that micro-batch closed, one
  *     parquet file the driver writes ([[Poll.writeEvents]]) into
  *     `events/.b<batchId>.tmp` and renames over the dir, so a replay
  *     replaces it whole;
  *   - `blob_speed/b<batchId>`: that micro-batch's stage-0 rows, read only
  *     by [[blobSpeeds]].
  *
  * Frontier rule (what the event-time watermark of a stateful query would
  * do, reproduced exactly): a poll writes marker rows at the frontier
  * `upToUs` and one frame before it. The silver frontier is the largest
  * frame-slot time seen so far, GLOBAL across epochs, at millisecond
  * precision. A slot is emitted once its end is at or before the frontier;
  * a pose row whose slot ended at or before the previous frontier arrived
  * late and is dropped. Markers advance the frontier without contributing
  * pose data — the reference's "watch until period end + slack" — so each
  * poll flushes every slot strictly before `upToUs`. The gold frontier is
  * the largest slot time among the filled rows; a super-session closes
  * once its last frame's time plus the gap is at or before it, and a
  * candidate whose time plus the gap is at or before the previous gold
  * frontier is dropped as late. The poll contract is the file-discovery
  * contract: `upToUs` must not exceed the earliest event time that could
  * still arrive.
  *
  * Deviation from batch [[Detectors.detectFights]] (documented): a camera
  * gap that SPANS a poll frontier gets its synthesized empty frames one
  * poll late, where the gold late rule drops those a gap or more behind
  * the previous gold frontier — a session the batch mode would bridge
  * across such a gap may close early or split (graceful; the reference's
  * own chunked incremental mode has the same boundary artifact, without
  * the cross-chunk ffill carry). Interior gaps — any dropout that does not
  * straddle a frontier — are exact. Of a frontier-spanning gap only the
  * frames within one gap horizon of the previous gold frontier are built,
  * so an outage over many polls costs the poll that ends it no more than
  * a short gap.
  *
  * Scale: every carry is keyed by epoch, so a multi-rig deployment runs
  * ONE poller over all its epochs ([[pollFightsMulti]]): one streaming
  * query and one checkpoint whatever the epoch count, each epoch with its
  * own `t0us` frame grid, identity pair and optional blob source. Every
  * stage runs per epoch on the driver over the rows of one poll, the
  * `events/b<batchId>` write included; Spark runs only the query's file
  * scan, so a poll is one job, in one wave of at most one task per core.
  * That job runs on the caller's session, not on the query's per-run
  * clone, so its generated classes compile once per JVM, not once per
  * poll: a warm poll compiles none. On `file://` a warm poll starts no
  * child process either ([[graft.io.ForkFreeRawLocalFileSystem]]).
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

  /** Silver rows: one per emitted (epoch, frame slot), reference feature
    * columns (NaN = missing, exactly like the batch wide table).
    * `isMarker` flags frontier-marker-only slots (no real pose row landed
    * in the slot) — they advance the gold frontier but carry no data. */
  case class SilverRow(epoch: String, frame: Long, tsUs: Long,
      c0x: Double, c0y: Double, c1x: Double, c1y: Double,
      cdist: Double, nh0: Double, nh1: Double, is0: Double, is1: Double,
      isEmpty: Boolean, isMarker: Boolean)

  /** Filled rows: silver + forward-filled centroid distance folded into the
    * candidate (`isFight`) and empty-frame bridge (`isBridge`) flags, plus
    * the synthesized dense-spine empty frames for interior slot gaps.
    * Marker rows pass through with both flags false. */
  @SerialVersionUID(1L)
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
  @SerialVersionUID(1L)
  case class BlobSpeedRow(epoch: String, frame: Long, blob_speed: Double,
      isFinal: Boolean, asOfUs: Long)

  /** Stage-0 carry of one epoch: the newest raw sample time (the
    * dt-anomaly predecessor), the last kept sample (the lag predecessor),
    * the lag speeds of up to five kept samples before the pending ones
    * (their smoothing context) and the pending kept samples, those of the
    * frames not yet written as final. */
  @SerialVersionUID(1L)
  case class BlobCarry(lastRawUs: Long, lastUs: Long, lastX: Double, lastY: Double,
      hist: Seq[Double], pendFrame: Seq[Long], pendLag: Seq[Double])

  /** A pose or marker row (null identity) of a frame slot the silver
    * frontier has not closed yet; `frame` on its epoch's grid. */
  @SerialVersionUID(1L)
  private[streaming] case class SlotRow(tUs: Long, identity: String, part: String,
      x: java.lang.Double, y: java.lang.Double, frame: Long)

  /** One epoch's carry between polls: the rows of open frame slots, the
    * fill carry (last observed frame, last non-NaN centroid distance), the
    * blob carry, the final and newest provisional blob speeds of frames
    * whose slot is still open, the open super-sessions (minF, maxF) and
    * the non-marker filled rows from the first open session's kernel start
    * (or the last such row when none is open) on. */
  @SerialVersionUID(1L)
  private[streaming] case class EpochCarry(pending: Seq[SlotRow], fill: Option[(Long, Double)],
      blob: Option[BlobCarry], finals: Seq[(Long, Double)],
      provisional: Seq[(Long, Double)], sessions: Seq[(Long, Long)],
      rows: Seq[FilledRow])

  /** The poller's state after one micro-batch: the silver and gold
    * frontiers (µs, millisecond precision) and one carry per epoch, in
    * epoch order. */
  @SerialVersionUID(1L)
  private[streaming] case class Carry(silverUs: Long, goldUs: Long, epochs: Seq[EpochCarry])

  private val emptyEpoch = EpochCarry(Nil, None, None, Nil, Nil, Nil, Nil)

  /** Test seam: runs with (workDir, batchId, filled rows the batch built)
    * after a micro-batch's state and event writes, before its commit-log
    * entry. */
  @volatile private[streaming] var afterBatchWrites: (String, Long, Int) => Unit =
    (_, _, _) => ()

  /** A total order on slot rows, so a snapshot's bytes do not depend on
    * the order the micro-batch's rows were collected in. */
  private val slotOrder: Ordering[SlotRow] =
    Ordering.by[SlotRow, (Long, Long, Option[String], Option[String])](r =>
      (r.frame, r.tUs, Option(r.identity), Option(r.part)))
      .orElse(Ordering.by[SlotRow, (Option[Double], Option[Double])](r =>
        (Option(r.x).map(_.doubleValue), Option(r.y).map(_.doubleValue)))(
        Ordering.Tuple2(Ordering.Option(Ordering.Double.TotalOrdering),
          Ordering.Option(Ordering.Double.TotalOrdering))))

  /** The one streaming source: every epoch's pose rows (skeleton parts
    * only, like [[Poll.prePivot]]), the frontier markers repeated for
    * every epoch, and the blob samples of the epochs with a `blobDir`,
    * as `e` (epoch position), `blob`, `tUs`, `identity`, `part`, `x`, `y`
    * and `frame` on the epoch's grid. File sources are positional (pose
    * per epoch, markers, blob per epoch with a source), which the epoch
    * and blob manifests pin. */
  private def pollInput(spark: SparkSession, epochs: Seq[FightEpoch],
      markerDir: String, parts: Map[String, String], fps: Double): DataFrame = {
    def tagged(df: DataFrame, e: Column, t0: Column, blob: Boolean) =
      df.filter(col("tUs").isNotNull).select(e.as("e"), lit(blob).as("blob"),
        col("tUs"), col("identity"), col("part"), col("x"), col("y"),
        Cols.frameId(col("tUs"), t0, fps).as("frame"))
    val withUs = (df: DataFrame) => df.withColumn("tUs", unix_micros(col("time")))
    val pose = epochs.zipWithIndex.map { case (ep, i) =>
      tagged(withUs(spark.readStream.schema(poseSchema).parquet(ep.poseDir)
        .filter(col("identity").isNull || Detectors.lpartCol(parts).isNotNull)),
        lit(i), lit(ep.t0us), blob = false)
    }
    val noPose = Seq("identity", "part").map(lit(null).cast(StringType).as(_)) ++
      Seq("x", "y").map(lit(null).cast(DoubleType).as(_))
    val markers = Poll.markerText(spark, markerDir)
      .select((col("tUs") +: noPose) :+
        explode(array(epochs.zipWithIndex.map { case (ep, i) =>
          struct(lit(i).as("e"), lit(ep.t0us).as("t0")) }: _*)).as("_m"): _*)
    val blobs = epochs.zipWithIndex.flatMap { case (ep, i) => ep.blobDir.map { bd =>
      tagged(withUs(spark.readStream.schema(blobSchema).parquet(bd).na.drop(Seq("x", "y")))
        .select(col("tUs") +: noPose.take(2) :+ col("x") :+ col("y"): _*),
        lit(i), lit(ep.t0us), blob = true)
    } }
    (pose ++ Seq(tagged(markers, col("_m.e"), col("_m.t0"), blob = false)) ++ blobs)
      .reduce(_.unionByName(_))
  }

  /** Stage 1 on the driver: one epoch's closing slot rows → one silver row
    * per frame slot, in frame order. The values are those of
    * [[Poll.prePivot]] + [[Poll.pivotFeatures]] (the tube poller's pivot;
    * `FightDriverSpec` checks the two against each other), quirks
    * included:
    *   - a row whose part is not a skeleton part is dropped unless its
    *     identity is null; per (mouse, logical part) the pivot keeps the
    *     least (x, y) pair in Spark's struct order (a null field first, NaN
    *     last, −0.0 equal to 0.0), and a missing or null coordinate reads
    *     as NaN;
    *   - mouse 0 is the identity that sorts first in the pair, every other
    *     identity (null included) is mouse 1;
    *   - `tsUs` is the least `tUs` of the slot's rows with an identity, or
    *     the slot's grid time when it has none (a marker-only slot);
    *   - the features use the operation order of
    *     [[Detectors.withFeatures]]. */
  private[streaming] def silverRows(ep: FightEpoch, rows: Seq[SlotRow],
      parts: Map[String, String], fps: Double): Seq[SilverRow] = {
    val sorted = ep.ids.sorted
    require(sorted.length == 2,
      s"epoch '${ep.epoch}': expected exactly 2 identities, got ${sorted.length}")
    val id0 = sorted.head
    val durUs = frameDurUs(fps)
    // Detectors.lpartCol tests the later logical part first
    val lpart = Detectors.logicalParts.zipWithIndex.map { case (l, i) => parts(l) -> i }.toMap
    val slots = scala.collection.mutable.LongMap.empty[Slot]
    rows.foreach { r =>
      val l = if (r.part == null) -1 else lpart.getOrElse(r.part, -1)
      if (r.identity == null || l >= 0) {
        val s = slots.getOrElseUpdate(r.frame, new Slot)
        if (r.identity != null) {
          s.nReal += 1
          s.tsUs = math.min(s.tsUs, r.tUs)
        }
        if (l >= 0) {
          val k = (if (r.identity == id0) 0 else 4) + l
          if (s.best(k) == null || pairLess(r, s.best(k))) s.best(k) = r
        }
      }
    }
    slots.keys.toArray.sorted.toSeq.map { f =>
      val s = slots(f)
      def x(k: Int) = coord(s.best(k), _.x)
      def y(k: Int) = coord(s.best(k), _.y)
      def edist(a: Int, b: Int) = {
        val dx = x(a) - x(b)
        val dy = y(a) - y(b)
        math.sqrt(dx * dx + dy * dy)
      }
      def nanmean2(a: Double, b: Double) =
        if (a.isNaN) b else if (b.isNaN) a else (a + b) / 2.0
      // slot index: 4 × mouse + logical part (nose, head, centroid, tail_base)
      SilverRow(ep.epoch, f,
        if (s.nReal > 0) s.tsUs else ep.t0us + f * durUs,
        x(2), y(2), x(6), y(6), edist(2, 6), edist(0, 1), edist(4, 5),
        nanmean2(edist(1, 2), edist(2, 3)), nanmean2(edist(5, 6), edist(6, 7)),
        isEmpty = (0 until 8).forall(k => x(k).isNaN && y(k).isNaN),
        isMarker = s.nReal == 0)
    }
  }

  /** One frame slot of [[silverRows]]: its rows with an identity, their
    * least `tUs`, and the row holding each (mouse, part)'s least pair. */
  private final class Slot {
    var nReal = 0
    var tsUs = Long.MaxValue
    val best = new Array[SlotRow](8)
  }

  private def coord(r: SlotRow, c: SlotRow => java.lang.Double): Double =
    if (r == null || c(r) == null) Double.NaN else c(r).doubleValue

  /** Spark's struct order on (x, y): field by field, null first, then
    * `SQLOrderingUtil.compareDoubles` (NaN greatest, −0.0 == 0.0). */
  private def pairLess(a: SlotRow, b: SlotRow): Boolean = {
    def cmp(u: java.lang.Double, v: java.lang.Double): Int =
      if (u == null) (if (v == null) 0 else -1)
      else if (v == null) 1
      else if (u.doubleValue == v.doubleValue) 0
      else java.lang.Double.compare(u.doubleValue, v.doubleValue)
    val c = cmp(a.x, b.x)
    (if (c != 0) c else cmp(a.y, b.y)) < 0
  }

  /** Stage 2 over one epoch's emitted silver rows, sorted by frame, each
    * with its blob speed (`Double.MaxValue` = condition 3 disabled, NaN =
    * no blob sample for the frame → not a candidate, like batch's
    * null-left-join semantics): forward-fill `cdist` across frames and
    * polls, fold the fight conditions into flags, and SYNTHESIZE the batch
    * dense spine — every interior slot gap (no pose rows delivered at all)
    * becomes empty frames with the forward-filled centroid distance, so
    * camera dropouts bridge sessions exactly as the batch detector's dense
    * frame tensor does. `prior` / the returned carry: (last observed
    * frame, last non-NaN cdist).
    *
    * Gap frames below `from` are not built: no span, session or carry of
    * the poll can reach them (see [[pollBatch]]), and a camera outage that
    * spans many polls would otherwise be expanded whole, one row per
    * frame, on the driver.
    *
    * Marker-only slots pass through with both flags false and do not
    * advance the spine: a marker slot below a later real frame is
    * re-synthesized as a true empty frame, and the marker row never
    * reaches a session or the tail. */
  private[streaming] def fillAndFlag(epoch: String, t0us: Long,
      prior: Option[(Long, Double)], silver: Seq[(SilverRow, Double)],
      p: FightParams, from: Long): (Option[(Long, Double)], Seq[FilledRow]) = {
    val durUs = frameDurUs(p.fps)
    var (lastF, lastCd) = prior.getOrElse((Long.MinValue, Double.NaN))
    val out = ArrayBuffer.empty[FilledRow]
    silver.foreach { case (r, speed) =>
      if (r.isMarker) {
        out += FilledRow(epoch, r.frame, r.tsUs,
          Double.NaN, Double.NaN, Double.NaN, Double.NaN,
          isFight = false, isBridge = false, isMarker = true)
      } else {
        if (lastF != Long.MinValue && r.frame > lastF + 1) {
          val bridge = lastCd < p.maxDistance // NaN compares false
          (math.max(lastF + 1, from) until r.frame).foreach(f => out += FilledRow(epoch, f,
            t0us + f * durUs, Double.NaN, Double.NaN, Double.NaN, Double.NaN,
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
        val cond3 = speed > p.minBlobSpeed // NaN (no sample) → false
        out += FilledRow(epoch, r.frame, r.tsUs, r.c0x, r.c0y, r.c1x, r.c1y,
          isFight = cond1 && cond2 && cond3,
          isBridge = cond1 && r.isEmpty, isMarker = false)
        lastF = r.frame
        if (!r.cdist.isNaN) lastCd = r.cdist
      }
    }
    (if (lastF != Long.MinValue) Some((lastF, lastCd)) else None, out.toSeq)
  }

  /** Stage 3a over one epoch: the open super-sessions (minF, maxF) plus
    * the new candidate∪bridge frames → the super-sessions after the merge,
    * in frame order. Two frames chain iff they are at most `superGap` =
    * max(maxFrameGap, maxFrameGapWEmptyFrames) frames apart, which
    * dominates both batch sessionization phases, so every set of frames
    * that either phase could chain lands inside ONE super-session —
    * running the exact batch tail per closed super-session is then exact. */
  private[streaming] def superSessions(open: Seq[(Long, Long)], frames: Seq[Long],
      superGap: Long): Seq[(Long, Long)] = {
    val out = ArrayBuffer.empty[(Long, Long)]
    (open ++ frames.map(f => (f, f))).sortBy(_._1).foreach { case (lo, hi) =>
      if (out.nonEmpty && lo - out.last._2 <= superGap)
        out(out.length - 1) = (out.last._1, math.max(out.last._2, hi))
      else out += ((lo, hi))
    }
    out.toSeq
  }

  /** Stage 3b: closed super-session spans → fight events over the filled
    * rows stored under `filledDir`, sliced to the spans; the same driver
    * tail as the poller's ([[tailEvents]]). */
  def eventsFromSpans(spark: SparkSession, spans: Array[(String, Long, Long)],
      filledDir: String, p: FightParams): Dataset[EpochFightEvent] = {
    import spark.implicits._
    val filled = spark.read.schema(filledSchema).parquet(filledDir)
      // rows written before the epoch column existed read back as null =
      // the single-epoch key "" — null === "" would silently drop a
      // legacy deployment's pre-upgrade frames from the slice
      .withColumn("epoch", coalesce(col("epoch"), lit("")))
      // the kernel span reaches one frame left of a span
      .filter(col("frame") >= spans.map(_._2).min - 1 && col("frame") <= spans.map(_._3).max)
      .as[FilledRow].collect().filterNot(_.isMarker).sortBy(_.frame)
    spans.toSeq.flatMap { case (e, lo, hi) =>
      tailEvents(e, filled.filter(r => r.epoch == e && r.frame >= lo - 1 && r.frame <= hi), p)
    }.toDS()
  }

  /** Stage 3b on the driver: the events of one closed super-session, from
    * its slice — the non-marker filled rows in [minF − 1, maxF], in frame
    * order, one per frame — under the rules of [[Detectors.fightsTail]]:
    * candidate frames split into sessions where the gap exceeds
    * `maxFrameGap`, and a session survives with at least `minNumFrames + 1`
    * frames; the survivors and the bridge frames regroup where the gap
    * exceeds `maxFrameGapWEmptyFrames`, and a regrouped session survives
    * when it holds a candidate and at least `minNumFrames + 1` frames. Each
    * survivor's kernel rows [firstF − 1, lastF] go to
    * [[Detectors.fightOf]]. */
  private[streaming] def tailEvents(epoch: String, slice: IndexedSeq[FilledRow],
      p: FightParams): Seq[EpochFightEvent] = {
    // ascending frames → their sessions, split where the gap exceeds `gap`
    def sessions(frames: IndexedSeq[Long], gap: Long): Seq[IndexedSeq[Long]] = {
      val starts = frames.indices.filter(i => i == 0 || frames(i) - frames(i - 1) > gap)
      starts.zip(starts.drop(1) :+ frames.length).map { case (a, b) => frames.slice(a, b) }
    }
    val minFrames = p.minNumFrames + 1
    val kept = sessions(slice.filter(_.isFight).map(_.frame), p.maxFrameGap)
      .filter(_.length >= minFrames).flatten.toSet
    sessions(slice.filter(r => r.isBridge || kept(r.frame)).map(_.frame),
        p.maxFrameGapWEmptyFrames)
      .filter(s => s.length >= minFrames && s.exists(kept))
      .flatMap { s =>
        val rs = slice.filter(r => r.frame >= s.head - 1 && r.frame <= s.last).toArray
        Detectors.fightOf(epoch, s.head, rs.map(_.frame), rs.map(_.tsUs),
          rs.map(_.c0x), rs.map(_.c0y), rs.map(_.c1x), rs.map(_.c1y), p)
      }
      .map(f => EpochFightEvent(epoch, f.start_ts, f.end_ts, f.duration_sec, f.end_x, f.end_y))
  }

  private val filledSchema = org.apache.spark.sql.Encoders.product[FilledRow].schema
  private[streaming] val eventSchema = org.apache.spark.sql.Encoders.product[EpochFightEvent].schema

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
    val all = (hist ++ lags).toArray
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

  /** The per-frame blob speeds so far: every final stage-0 row plus each
    * epoch's newest provisional set, i.e. the batch recipe over all blob
    * rows landed so far. Columns `epoch, frame, blob_speed`; one row per
    * (epoch, frame) with a kept blob sample. */
  def blobSpeeds(spark: SparkSession, workDir: String): DataFrame = {
    import spark.implicits._
    val rows = Poll.snapshots(spark, s"$workDir/blob_speed")
      .flatMap { case (_, path) => Poll.readSnapshot[Seq[BlobSpeedRow]](spark, path) }
    val newest = rows.filter(!_.isFinal).groupMapReduce(_.epoch)(_.asOfUs)(math.max)
    rows.filter(r => r.isFinal || newest.get(r.epoch).contains(r.asOfUs))
      .map(r => (r.epoch, r.frame, r.blob_speed)).toDF("epoch", "frame", "blob_speed")
  }

  /** One micro-batch of the poll query: the whole detector over the
    * batch's rows and the carry of the newest snapshot below `batchId`. */
  private def pollBatch(spark: SparkSession, epochs: Seq[FightEpoch],
      workDir: String, parts: Map[String, String], p: FightParams,
      batch: DataFrame, batchId: Long): Unit = {
    val durUs = frameDurUs(p.fps)
    val stateDir = s"$workDir/state"
    val snaps = Poll.snapshots(spark, stateDir)
    val (readId, prior) = snaps.filter(_._1 < batchId).lastOption match {
        case Some((id, path)) => (id, Poll.readSnapshot[Carry](spark, path))
        case None if batchId == 0 =>
          (-1L, Carry(0L, 0L, Seq.fill(epochs.length)(emptyEpoch)))
        case None => throw new IllegalStateException(
          s"fight poller state below batch $batchId is missing from $stateDir")
      }
    val t0 = epochs.map(_.t0us).toIndexedSeq
    def tFrame(e: Int, frame: Long) = t0(e) + frame * durUs
    // the end of the frame slot a tumbling window on the slot grid time
    // assigns (windows align to the unix epoch, not to t0)
    def slotEnd(e: Int, frame: Long) = {
      val t = tFrame(e, frame)
      t - Math.floorMod(t, durUs) + durUs
    }
    // a watermark holds milliseconds
    def toMs(us: Long) = us / 1000 * 1000

    // the micro-batch's rows, materialized once and handed to the driver;
    // one String per distinct identity and part name, not one per row. The
    // scan runs on the caller's session: `batch` belongs to the query's
    // per-run clone, whose new class loader would compile the scan's
    // generated classes again on every poll. It runs in one wave, at most
    // one task per core: `coalesce` only merges partitions, so a batch
    // with fewer than the cores keeps its own
    val poseIn = Array.fill(epochs.length)(ArrayBuffer.empty[SlotRow])
    val blobIn = Array.fill(epochs.length)(ArrayBuffer.empty[BlobSample])
    val names = scala.collection.mutable.HashMap.empty[String, String]
    def name(s: String) = if (s == null) null else names.getOrElseUpdate(s, s)
    val in = batch.rdd
    spark.createDataFrame(in.coalesce(math.min(in.getNumPartitions,
        spark.sparkContext.defaultParallelism)), batch.schema).collect().foreach { r =>
      val e = r.getInt(0)
      if (r.getBoolean(1))
        blobIn(e) += BlobSample(epochs(e).epoch, r.getLong(2), r.getLong(7),
          r.getDouble(5), r.getDouble(6))
      else poseIn(e) += SlotRow(r.getLong(2), name(r.getString(3)), name(r.getString(4)),
        r.get(5).asInstanceOf[java.lang.Double], r.get(6).asInstanceOf[java.lang.Double],
        r.getLong(7))
    }

    // stage 1: split live rows into closing and still-open slots
    val silverUs = poseIn.indices.flatMap(e => poseIn(e).map(r => tFrame(e, r.frame)))
      .maxOption.fold(prior.silverUs)(t => math.max(prior.silverUs, toMs(t)))
    val (closing, pending) = epochs.indices.map { e =>
      (prior.epochs(e).pending ++
        poseIn(e).filter(r => slotEnd(e, r.frame) > prior.silverUs))
        .partition(r => slotEnd(e, r.frame) <= silverUs)
    }.unzip
    val silver = epochs.indices.map(e =>
      if (closing(e).isEmpty) Nil else silverRows(epochs(e), closing(e), parts, p.fps))

    // stages 0 and 2 per epoch
    val superGap = math.max(p.maxFrameGap, p.maxFrameGapWEmptyFrames)
    val gapUs = math.round((superGap + 0.5) * durUs.toDouble)
    val blobOut = ArrayBuffer.empty[BlobSpeedRow]
    val filled = epochs.indices.map { e =>
      val ep = epochs(e)
      val c = prior.epochs(e)
      val (blob, speedRows) =
        if (blobIn(e).isEmpty) (c.blob, Nil)
        else carryBlobSpeed(ep.epoch, c.blob, blobIn(e).sortBy(s => (s.tUs, s.x, s.y))(
          Ordering.Tuple3(Ordering.Long, Ordering.Double.TotalOrdering,
            Ordering.Double.TotalOrdering)).toSeq, p.cm2px)
      blobOut ++= speedRows
      val finals = c.finals ++ speedRows.filter(_.isFinal).map(r => (r.frame, r.blob_speed))
      val provisional =
        if (speedRows.exists(!_.isFinal))
          speedRows.filter(!_.isFinal).map(r => (r.frame, r.blob_speed))
        else c.provisional
      val speed: Long => Double =
        if (ep.blobDir.isEmpty) _ => Double.MaxValue
        else {
          val m = provisional.toMap ++ finals
          f => m.getOrElse(f, Double.NaN)
        }
      // every span of this poll starts at the first open session or at a
      // frame the gold late rule keeps (t + gap > the previous gold
      // frontier); the tail reaches one frame left of a span
      val firstKept = Math.floorDiv(prior.goldUs - gapUs - t0(e), durUs) + 1
      val from = math.min(c.sessions.headOption.fold(Long.MaxValue)(_._1), firstKept) - 1
      val (fill, rows) = fillAndFlag(ep.epoch, ep.t0us, c.fill,
        silver(e).map(r => (r, speed(r.frame))), p, from)
      // a frame whose slot is closed can no longer be emitted
      (c.copy(pending = pending(e).sorted(slotOrder), fill = fill,
        blob = blob, provisional = provisional,
        finals = finals.filter(f => slotEnd(e, f._1) > silverUs).sortBy(_._1)), rows)
    }

    // stage 3: super-sessions per epoch, the tail over closed ones
    val goldUs = filled.indices.flatMap(e => filled(e)._2.map(r => tFrame(e, r.frame)))
      .maxOption.fold(prior.goldUs)(t => math.max(prior.goldUs, toMs(t)))
    val (carries, tails) = filled.indices.map { e =>
      val (c, rows) = filled(e)
      val cands = rows.filter(r => (r.isFight || r.isBridge) &&
        tFrame(e, r.frame) + gapUs > prior.goldUs).map(_.frame)
      val (closed, open) = superSessions(c.sessions, cands, superGap)
        .partition(s => tFrame(e, s._2) + gapUs <= goldUs)
      val pool = (c.rows ++ rows.filterNot(_.isMarker)).sortBy(_.frame).toIndexedSeq
      val keepFrom = open.headOption.map(_._1 - 1)
        .getOrElse(pool.lastOption.fold(Long.MaxValue)(_.frame))
      (c.copy(sessions = open, rows = pool.filter(_.frame >= keepFrom)),
        closed.map { case (lo, hi) => tailEvents(epochs(e).epoch,
          pool.filter(r => r.frame >= lo - 1 && r.frame <= hi), p) })
    }.unzip
    if (tails.exists(_.nonEmpty))
      Poll.writeEvents(spark, s"$workDir/events/b$batchId", eventSchema, tails.flatten.flatten)
    if (blobOut.nonEmpty)
      Poll.writeSnapshot(spark, s"$workDir/blob_speed/b$batchId", blobOut.toSeq)
    Poll.writeSnapshot(spark, s"$stateDir/b$batchId", Carry(silverUs, goldUs, carries))
    Poll.delete(spark, snaps.filter(_._1 < readId).map(_._2))
    afterBatchWrites(workDir, batchId, filled.map(_._2.length).sum)
  }

  /** The checkpoints of the earlier four-query layout (one per stage). */
  private val fourQueryCheckpoints =
    Seq("ckpt_blob_speed", "ckpt_silver", "ckpt_filled", "ckpt_gold")

  /** One incremental poll over N epochs (the reference's 30-minute loop
    * body, one poller for the whole deployment): ingest all pose chunk
    * files under each epoch's `poseDir` with event time < `upToUs`, advance
    * every stage, and append newly-closed fight events under
    * `workDir/events` tagged with their epoch. Re-running with no new data
    * emits nothing (checkpoint); events are emitted exactly once. ONE
    * streaming query and ONE checkpoint regardless of epoch count.
    *
    * `upToUs` is the discovery frontier, GLOBAL across epochs (like an
    * event-time watermark, it is one per poller, not per key): all data
    * strictly before it must already be in EVERY epoch's `poseDir` — a
    * lagging rig holds the frontier for the whole poller, exactly like the
    * slowest chunk holds the reference's polling loop. Later-arriving rows
    * below the frontier would be dropped as late. The converse also binds,
    * and binds harder with many epochs: NO row at-or-after the frontier may
    * have landed yet — the frontier rides the max event time seen, so one
    * rig's early rows push it past `upToUs` and turn every other rig's
    * still-in-flight rows below that point late. Deliveries must be
    * wall-clock-cut across epochs; pick `upToUs` = the earliest event
    * time that could still arrive OR already sits undelivered, over all
    * epochs. Events are only emitted once
    * the frontier passes their super-session's gap horizon — on the final
    * poll of an epoch pass `epochEndUs + (max(maxFrameGap,
    * maxFrameGapWEmptyFrames) + 2) frames` or more.
    *
    * The epoch SET of a `workDir` is fixed for its lifetime: the query has
    * one pose file source per epoch, and Structured Streaming pins the
    * source count in the checkpoint. Onboarding a new epoch = a new
    * `workDir` (epochs are independent; old events remain readable).
    * ENFORCED: the ordered epoch list is persisted to `workDir/epochs.txt`
    * on the first poll and must match exactly (same keys, same ORDER — the
    * source slots and carries are positional) on every later poll.
    * Which epochs have a `blobDir` is fixed the same way (one positional
    * blob source per such epoch), recorded in `workDir/blob_sources.txt`.
    *
    * Blob contract (condition 3): a frame's speed is exact once four kept
    * blob samples follow it; before that stage 2 sees the truncated-window
    * speed the batch recipe gives at the end of a blob stream, so blob
    * data should run a few samples past `upToUs` when the pose frontier
    * gets there. Blob samples must land in time order across polls: a
    * sample at or before the newest sample of an earlier poll is dropped,
    * like a late pose row.
    *
    * Earlier versions ran one checkpointed query per stage
    * (`ckpt_blob_speed`, `ckpt_silver`, `ckpt_filled`, `ckpt_gold`); one
    * query cannot resume those checkpoints, so such a `workDir` is refused
    * with an `IllegalStateException`. Poll into a new `workDir`; the events
    * already emitted stay readable through [[fightEvents]].
    *
    * Memory contract: a poll's new rows pass through the driver once
    * (every epoch's skeleton-part rows and blob samples) and the rows of
    * its closing slots stay there until the silver pivot has run, so
    * driver heap grows with the rows of one poll. Measured at the
    * reference cadence (30 min at 50 fps, 2 mice × 4 parts: 720 k pose
    * rows per epoch and poll) on 4 cores with a 3 GB heap: the live heap,
    * sampled after a forced full collection every 250 ms, peaked at
    * 0.31–0.33 GB for one epoch and 0.50–0.61 GB for two; the whole heap
    * right after the JVM's own collections ([[graft.Probe.heapAfterGcPeakMb]],
    * garbage not yet reclaimed included) peaked at 1.0–1.2 GB and
    * 1.2–1.6 GB. A warm poll took 1.2–1.9 s for one epoch and 1.5–2.8 s
    * for two.
    * Catching up over a LONG backlog (days of pose data) must be split
    * into multiple polls with stepped `upToUs`, not one giant poll. */
  def pollFightsMulti(spark: SparkSession, epochs: Seq[FightEpoch],
      workDir: String, parts: Map[String, String], p: FightParams,
      upToUs: Long): Unit = {
    require(epochs.nonEmpty, "at least one epoch")
    require(epochs.map(_.epoch).distinct.length == epochs.length,
      "epoch keys must be unique")
    val root = new org.apache.hadoop.fs.Path(workDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fourQueryCheckpoints.find(d => fs.exists(new org.apache.hadoop.fs.Path(root, d)))
      .foreach { d => throw new IllegalStateException(
        s"workDir '$workDir' holds '$d', a checkpoint of the earlier four-query " +
          "fight poller, which the one-query poller cannot resume. Poll into a " +
          "new workDir; the events already emitted stay readable through " +
          "FightStream.fightEvents / fightEventsByEpoch.") }
    // the sources and carries are positional — the epoch sequence must be
    // byte-identical on every poll of this workDir
    Poll.checkEpochManifest(spark, workDir, epochs.map(_.epoch))
    Poll.checkBlobManifest(spark, workDir,
      epochs.map(e => (e.epoch, e.blobDir.isDefined)))
    val markerDir = s"$workDir/markers"
    Poll.writeMarkerText(spark, markerDir, upToUs, frameDurUs(p.fps))
    pollInput(spark, epochs, markerDir, parts, p.fps).writeStream
      .option("checkpointLocation", s"$workDir/ckpt_fight")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        pollBatch(spark, epochs, workDir, parts, p, batch, batchId)
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
