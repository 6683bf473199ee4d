package graft.behavior

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Cols
import graft.operators.{Buckets, Fill, Intervals, Sessionize}

/** Behavior detectors — the reference's signature analytics queries
  * (`social_behavior_detection/social_behaviour_detection.py`: tube tests
  * `:100-390`, fights `:394-762`), re-expressed Spark-first:
  *
  *   dense frame spine (sequence+explode) → wide per-frame pivot →
  *   columnar feature derivation (whole-stage codegen) → boolean candidate
  *   conjunction → cumulative-sum sessionization → per-event typed kernel
  *   (`groupByKey.flatMapGroups` over [[Kernels]]) → event table.
  *
  * The expensive sequential kernel only sees frames of *candidate events*
  * (the reference's documented two-phase design,
  * `tube_test_detection_logic.md:35`), so its cost is proportional to event
  * frames, not stream frames; events parallelize across the cluster.
  *
  * Every stage is keyed by an internal shard column `_g`, so ONE logical
  * plan serves any number of (epoch × 24 h period) shards: the single-epoch
  * entry points ([[detectFights]]/[[detectTubeTests]]) run with a constant
  * shard key, and the multi-epoch wrappers ([[detectFightsAllEpochs]] /
  * [[detectTubeTestsAllEpochs]]) tag rows with their shard via one broadcast
  * join against a tiny shard table — driver-side plan size and Catalyst
  * analysis cost are CONSTANT in the number of epochs (the round-3 design
  * unioned one full detector plan per shard, which made analysis linear in
  * epoch count). Per-frame feature stages are fully partition-parallel;
  * full-stream sequential math (ffill, blob speed) runs through
  * hour-bucketed windows ([[graft.operators.Buckets]] /
  * [[Fill.ffillBucketed]]) so no stage sorts an epoch on one task. Only the
  * *candidate frame ids* (sparse, orders of magnitude smaller than the
  * stream) pass through a per-shard unpartitioned sessionization window.
  */
object Detectors {

  case class FightParams(
      fps: Double = 50.0, cm2px: Double = 5.4,
      maxDistance: Double = 20, maxNoseHeadDistance: Double = 7,
      maxInterspinalDistance: Double = 10, minBlobSpeed: Double = 3,
      maxFrameGap: Long = 200, minNumFrames: Long = 5,
      maxFrameGapWEmptyFrames: Long = 100,
      minCentroidSpeed: Double = 20, minBothCentroidSpeed: Double = 15)

  case class TubeParams(
      fps: Double = 50.0, angleTolerance: Double = 45,
      maxDistanceStart: Double = 50, maxFrameGap: Long = 20,
      minTubeTestStartFrames: Long = 15, searchWindowSeconds: Double = 1,
      minDistance: Double = 30, maxDistanceEnd: Double = 60,
      movementThreshold: Double = 2)

  case class FightEvent(start_ts: java.sql.Timestamp, end_ts: java.sql.Timestamp,
      duration_sec: Double, end_x: Double, end_y: Double)
  case class TubeTestEvent(start_ts: java.sql.Timestamp, end_ts: java.sql.Timestamp,
      winner_identity: String)

  /** Internal shard key threaded through every stage (constant "" for the
    * single-epoch entry points). */
  private[graft] val G = "_g"

  /** Per-shard event rows produced by the grouped cores. (Not private:
    * Catalyst's generated encoder code cannot call accessors on a
    * private class — codegen would silently fall back to interpreted.) */
  case class GFight(g: String, start_ts: java.sql.Timestamp,
      end_ts: java.sql.Timestamp, duration_sec: Double, end_x: Double, end_y: Double)
  case class GTube(g: String, start_ts: java.sql.Timestamp,
      end_ts: java.sql.Timestamp, winner_idx: Int)

  /** Corridor region-of-interest for tube tests, with the reference's
    * exclusion zones (`social_behaviour_detection.py:225-257`): the annulus
    * [innerR, outerR] around (centerX, centerY), MINUS the nest band
    * (x > centerX ∧ nestY1 ≤ y ≤ nestY2, when nest bounds are given) MINUS
    * a circle of `gateWidth` around every gate location. A frame passes only
    * when BOTH mice are inside the annulus and NEITHER mouse is in any
    * excluded region (the reference's `np.any(..., axis=0)` over mice).
    */
  case class Roi(centerX: Double, centerY: Double, innerR: Double, outerR: Double,
      nestY1: Double = Double.NaN, nestY2: Double = Double.NaN,
      gates: Seq[(Double, Double)] = Nil, gateWidth: Double = 0.0)

  object Roi {
    /** Build an [[Roi]] from an experiment-metadata DataFrame shaped like
      * the reference metadata (`ActiveRegion.ArenaCenter.{X,Y}`,
      * `ActiveRegion.{ArenaInnerRadius,ArenaOuterRadius}`, optional
      * `ActiveRegion.NestRegion.ArrayOfPoint[{1,2}].Y`, and
      * `Devices.<*Gate*Rfid*>.Location.{X,Y}` — the reference scans device
      * keys containing both "Gate" and "Rfid",
      * `social_behaviour_detection.py:229-233`). */
    def fromMetadata(meta: DataFrame, gateWidth: Double): Roi = {
      val row = meta.select(
        col("ActiveRegion.ArenaCenter.X").cast("double"),
        col("ActiveRegion.ArenaCenter.Y").cast("double"),
        col("ActiveRegion.ArenaInnerRadius").cast("double"),
        col("ActiveRegion.ArenaOuterRadius").cast("double")).head()
      val nest =
        try {
          val n = meta.select(
            col("ActiveRegion.NestRegion.ArrayOfPoint").getItem(1).getField("Y").cast("double"),
            col("ActiveRegion.NestRegion.ArrayOfPoint").getItem(2).getField("Y").cast("double")).head()
          // a NestRegion with < 3 points resolves but evaluates null →
          // same no-nest fallback as a missing field
          if (n.isNullAt(0) || n.isNullAt(1)) (Double.NaN, Double.NaN)
          else (n.getDouble(0), n.getDouble(1))
        } catch { case _: org.apache.spark.sql.AnalysisException =>
          (Double.NaN, Double.NaN) }
      import org.apache.spark.sql.types.StructType
      val devices = meta.schema.fields.find(_.name == "Devices")
        .map(_.dataType).collect { case s: StructType => s }
      // only keys whose schema actually carries Location.{X,Y}: a Gate+Rfid
      // device without a Location must not fail the whole parse (schema
      // introspection — no extra Spark job per gate)
      def hasLocation(s: StructType, k: String): Boolean =
        s.fields.find(_.name == k).map(_.dataType).exists {
          case d: StructType => d.fields.find(_.name == "Location")
            .map(_.dataType).exists {
              case l: StructType =>
                l.fieldNames.contains("X") && l.fieldNames.contains("Y")
              case _ => false
            }
          case _ => false
        }
      val gateKeys = devices.toSeq.flatMap(s =>
        s.fieldNames.filter(k => k.contains("Gate") && k.contains("Rfid") &&
          hasLocation(s, k)))
      // ONE combined select for all gates (was one driver job per gate);
      // null coordinates drop that gate, like the nest fallback
      val gates =
        if (gateKeys.isEmpty) Nil
        else {
          val g = meta.select(gateKeys.flatMap(k => Seq(
            col(s"Devices.`$k`.Location.X").cast("double"),
            col(s"Devices.`$k`.Location.Y").cast("double"))): _*).head()
          gateKeys.indices.flatMap { i =>
            if (g.isNullAt(2 * i) || g.isNullAt(2 * i + 1)) None
            else Some((g.getDouble(2 * i), g.getDouble(2 * i + 1)))
          }
        }
      Roi(row.getDouble(0), row.getDouble(1), row.getDouble(2), row.getDouble(3),
        nest._1, nest._2, gates, gateWidth)
    }
  }

  /** Per-event kernel input row (shared by both detectors; tube-only fields
    * ride as NaN for fights). */
  case class EvRow(g: String, ev: Long, frame: Long, tsUs: Long,
      c0x: Double, c0y: Double, c1x: Double, c1y: Double,
      o0: Double, o1: Double, e2: Double, e3: Double, cdist: Double,
      isCand: Boolean, firstF: Long, lastF: Long)

  private[graft] def nn(c: Column): Column = coalesce(c, lit(Double.NaN))

  /** Shared wide-pivot building blocks — ONE definition for the batch core
    * ([[wideFramesG]]) and the pollers' Spark pivot
    * ([[graft.streaming.Poll.pivotFeatures]]), so the feature tables cannot
    * silently drift apart. The fight poller pivots on the driver instead;
    * `FightDriverSpec` checks that pivot against this one. */
  private[graft] val logicalParts = Seq("nose", "head", "centroid", "tail_base")
  /** Physical→logical part name mapping expression. */
  private[graft] def lpartCol(parts: Map[String, String]): Column =
    logicalParts.map(l => parts(l) -> l)
      .foldLeft(lit(null).cast("string")) { case (acc, (phys, log)) =>
        when(col("part") === phys, log).otherwise(acc)
      }
  /** Identity code from the shard's first identity. */
  private[graft] def mouseCol(id0: Column): Column =
    when(col("identity") === id0, 0).otherwise(1)
  /** The 8 per-mouse per-part pivots: min over (x, y) PAIRS, so duplicate
    * detections collapsing into one frame keep the coordinates of ONE
    * detection — independent min(x), min(y) would synthesize a point
    * belonging to neither. Expand with [[expandPivot]] after aggregating. */
  private[graft] def pivotAggs: Seq[Column] =
    for (m <- 0 to 1; l <- logicalParts) yield
      min(when(col("mouse") === m && col("lpart") === l,
        struct(col("x"), col("y")))).as(s"_p_m${m}_$l")
  /** Split the struct pivots into the 16 m{m}_{part}_{x,y} columns. */
  private[graft] def expandPivot(df: DataFrame): DataFrame =
    (for (m <- 0 to 1; l <- logicalParts) yield (m, l)).foldLeft(df) {
      case (d, (m, l)) => d
        .withColumn(s"m${m}_${l}_x", col(s"_p_m${m}_$l").getField("x"))
        .withColumn(s"m${m}_${l}_y", col(s"_p_m${m}_$l").getField("y"))
        .drop(s"_p_m${m}_$l")
    }

  /** Long pose table → dense wide frame table (single-stream public form:
    * constant shard key; see [[wideFramesG]] for the grouped core).
    *
    * Input columns: `time, identity, part, x, y`; exactly 2 identities.
    * `parts` maps logical names (nose/head/centroid/tail_base) to physical
    * part names (the reference's skeleton aliasing,
    * `social_behaviour_detection.py:57-71`).
    *
    * Output: one row per frame id in [0, maxFrame] (dense spine — the
    * reference's tensor shape), with per-mouse per-part coordinates, real or
    * synthesized timestamp, and feature columns.
    */
  def wideFrames(pose: DataFrame, parts: Map[String, String], fps: Double,
      knownIds: Option[Seq[String]] = None): DataFrame = {
    val poseN = Cols.normalizeNtz(pose) // same NTZ acceptance as detectFights
    val ids = knownIds.getOrElse(
      poseN.select("identity").distinct().collect().map(_.getString(0)).toSeq).sorted
    require(ids.length == 2, s"expected exactly 2 identities, got ${ids.length}")
    wideFramesG(poseN.withColumn(G, lit("")).withColumn("_id0", lit(ids(0))),
      parts, fps).drop(G)
  }

  /** Grouped wide-frame core: `pose` must carry the shard key `_g` and a
    * `_id0` column holding the shard's first (sorted) identity. Frame ids
    * and the dense spine are per-shard; identity codes come from `_id0`
    * (identity pairs can differ across shards). One logical plan regardless
    * of shard count.
    */
  private def wideFramesG(pose: DataFrame, parts: Map[String, String],
      fps: Double, boundsOpt: Option[DataFrame] = None): DataFrame = {
    val filtered = pose
      .filter(col("part").isin(parts.values.toSeq: _*))
      .withColumn("mouse", mouseCol(col("_id0")))
      .withColumn("lpart", lpartCol(parts))
    // per-shard stream start (P4 frame-id baseline): tiny table, one row
    // per shard → broadcast back; callers aligning SEVERAL streams to one
    // frame grid (pose + blob) pass the shared bounds in
    val bounds = boundsOpt.getOrElse(pose.groupBy(col(G))
      .agg(min(unix_micros(col("time"))).as("t0us")))
    val framed = filtered.join(broadcast(bounds), G)
      .withColumn("frame", Cols.frameId(unix_micros(col("time")), col("t0us"), fps))
    val wide = expandPivot(framed.groupBy(col(G), col("frame"))
      .agg(min(unix_micros(col("time"))).as("tsUs"), pivotAggs: _*))
    // dense spine: every frame id in [0, max] exists (empty frames = NaNs),
    // matching the reference's dense tensor semantics; chunked explode so no
    // single task generates a shard's whole range
    val spine = Buckets.densifiedRange(
      wide.groupBy(col(G)).agg(max("frame").as("maxF")), "maxF", "frame")
    spine.join(wide, Seq(G, "frame"), "left")
      .join(broadcast(bounds), G)
      .withColumn("tsUs", coalesce(col("tsUs"),
        col("t0us") + round(col("frame") * 1e6 / fps).cast("long")))
      .drop("t0us")
  }

  private def d(m: Int, p: String, c: String): Column = nn(col(s"m${m}_${p}_$c"))
  private def edist(m1: Int, p1: String, m2: Int, p2: String): Column =
    sqrt((d(m1, p1, "x") - d(m2, p2, "x")) * (d(m1, p1, "x") - d(m2, p2, "x")) +
      (d(m1, p1, "y") - d(m2, p2, "y")) * (d(m1, p1, "y") - d(m2, p2, "y")))

  /** Orientation of mouse m in degrees [0,360): tail_base→nose vector with
    * screen-y flipped, falling back to tail_base→head when the nose is
    * missing (`social_behaviour_detection.py:194-208`). */
  private def orientation(m: Int): Column = {
    def ang(tip: String): Column = {
      val a = degrees(atan2(-(d(m, tip, "y") - d(m, "tail_base", "y")),
        d(m, tip, "x") - d(m, "tail_base", "x")))
      when(a < 0, a + 360.0).otherwise(a)
    }
    when(isnan(ang("nose")), ang("head")).otherwise(ang("nose"))
  }

  /** NaN-safe strict greater-than with numpy comparison semantics: a NaN
    * left operand compares FALSE. Spark SQL orders NaN greatest, so a bare
    * `>` would compare TRUE and flag frames with an UNDETECTED part as
    * condition hits — the reference's numpy comparisons drop them
    * (`social_behaviour_detection.py:608-612`). A NaN right operand already
    * compares false on both sides. */
  private def gtNanFalse(c: Column, t: Column): Column = !isnan(c) && c > t

  /** np.nanmean over two NaN-or-value columns: one missing edge falls back
    * to the other; both missing stays NaN
    * (`social_behaviour_detection.py:575-576`). */
  private def nanmean2(a: Column, b: Column): Column =
    when(isnan(a), b).when(isnan(b), a).otherwise((a + b) / 2.0)

  /** Feature columns shared by both detectors. */
  def withFeatures(wide: DataFrame): DataFrame = wide
    .withColumn("cdist", edist(0, "centroid", 1, "centroid"))
    .withColumn("o0", orientation(0))
    .withColumn("o1", orientation(1))
    .withColumn("e_headhead", edist(0, "head", 1, "head"))
    .withColumn("e_tailtail", edist(0, "tail_base", 1, "tail_base"))
    .withColumn("e2", edist(0, "tail_base", 1, "head"))
    .withColumn("e3", edist(1, "tail_base", 0, "head"))
    // rel1 and e2 are deliberately the SAME quantity under two names — the
    // reference computes |spine4_m0 − head_m1| both as relative_distances[1]
    // and extremity_distances[2] (`social_behaviour_detection.py:182-189`);
    // keeping both mirrors that, and the duplicate expression folds in
    // whole-stage codegen's common-subexpression elimination
    .withColumn("rel0", edist(0, "tail_base", 0, "head"))
    .withColumn("rel1", edist(0, "tail_base", 1, "head"))
    .withColumn("nh0", edist(0, "nose", 0, "head"))
    .withColumn("nh1", edist(1, "nose", 1, "head"))
    .withColumn("is0", nanmean2(edist(0, "head", 0, "centroid"), edist(0, "centroid", 0, "tail_base")))
    .withColumn("is1", nanmean2(edist(1, "head", 1, "centroid"), edist(1, "centroid", 1, "tail_base")))
    .withColumn("isEmpty",
      (0 to 1).flatMap(m => Seq("nose", "head", "centroid", "tail_base")
        .flatMap(p => Seq(d(m, p, "x").isNaN, d(m, p, "y").isNaN))).reduce(_ && _))

  /** Candidate-event assembly shared by both detectors: sessionize candidate
    * frames per shard, enforce min size, and emit (_g, ev, firstF, lastF).
    * Candidate sets are sparse relative to the stream (the two-phase
    * design's point), so the per-shard single-partition sessionization is
    * intentional here; a dense keyless candidate set can opt into
    * `Sessionize.sessionize(bucketSize = ...)` standalone — composing the
    * bucketed form INSIDE this already-deep plan multiplies the logical
    * tree (each layer references its input ~4×) and blows up analysis time.
    */
  private def events(cand: DataFrame, gap: Long, minFrames: Long): DataFrame = {
    val sessed = Sessionize.sessionize(cand, "frame", Seq(G), gap)
    sessed.groupBy(col(G), col("session_id")).agg(
        min("frame").as("firstF"), max("frame").as("lastF"),
        count(lit(1)).as("nF"))
      .filter(col("nF") > minFrames)
      .select(col(G), col("session_id").as("ev"), col("firstF"), col("lastF"))
  }

  private def usToTs(us: Long) = new java.sql.Timestamp(us / 1000)

  /** Fight detection end-to-end (reference `detect_fights`,
    * `social_behaviour_detection.py:394-762`).
    *
    * @param pose      long pose table (time, identity, part, x, y)
    * @param blob      optional blob-position stream (time, x, y) for the
    *                  speed condition; None skips condition 3
    * @param intervals optional (start, stop) experiment intervals
    *                  ([[graft.operators.Intervals.experimentIntervals]]);
    *                  pose samples outside every interval (= maintenance
    *                  mode) are excluded before detection, like the
    *                  reference's `exclude_maintenance_data`
    *                  (`social_behaviour_detection.py:488-489`)
    */
  def detectFights(pose: DataFrame, blob: Option[DataFrame],
      parts: Map[String, String], p: FightParams,
      intervals: Option[DataFrame] = None,
      knownIds: Option[Seq[String]] = None): Dataset[FightEvent] = {
    val spark = pose.sparkSession
    import spark.implicits._
    // externally-written bronze parquet (pandas default) reads as
    // TIMESTAMP_NTZ — normalize once at the entry so the interior's
    // unix_micros/timestamp comparisons hold
    val poseN = Cols.normalizeNtz(pose)
    val poseKept = intervals.map(Intervals.excludeOutside(poseN, "time", _))
      .getOrElse(poseN)
    // identity codes: bounded 2-value domain → collect + broadcast literal
    // (callers that already know the pair pass it in — the multi-epoch
    // wrapper resolves identities once per corpus, not once per shard)
    val ids = knownIds.getOrElse(
      poseKept.select("identity").distinct().collect().map(_.getString(0)).toSeq).sorted
    require(ids.length == 2, s"expected exactly 2 identities, got ${ids.length}")
    val tagged = poseKept.withColumn(G, lit("")).withColumn("_id0", lit(ids(0)))
    fightsCore(tagged, blob.map(b => Cols.normalizeNtz(b).withColumn(G, lit(""))),
        parts, p)
      .map(f => FightEvent(f.start_ts, f.end_ts, f.duration_sec, f.end_x, f.end_y))
  }

  /** Grouped fight-detection core: `pose` carries `_g` + `_id0`, `blob`
    * (when given) carries `_g`. Emits one [[GFight]] per detected event,
    * shard-keyed. ONE logical plan regardless of shard count. */
  private def fightsCore(pose: DataFrame, blob: Option[DataFrame],
      parts: Map[String, String], p: FightParams): Dataset[GFight] = {
    val spark = pose.sparkSession
    import spark.implicits._
    // ONE per-shard frame-id baseline (min POSE time) shared by the wide
    // frames AND the blob-speed stream: if each stream derived frames from
    // its own start, a blob stream starting seconds after the pose stream
    // (camera warm-up) would align every speed to the wrong frames
    val bounds = pose.groupBy(col(G))
      .agg(min(unix_micros(col("time"))).as("t0us"))
    val feat0 = withFeatures(wideFramesG(pose, parts, p.fps, Some(bounds)))
    // blob speed: dt-anomaly drop (T5), px→cm/s, 10-frame "same" smoothing
    val feat = blob match {
      case Some(b) =>
        val sp = blobSpeedG(b, p.fps, p.cm2px, boundsOpt = Some(bounds))
        feat0.join(sp, Seq(G, "frame"), "left")
      case None => feat0.withColumn("blob_speed", lit(Double.MaxValue))
    }
    // bucketed ffill: exact pandas-ffill semantics with no global sort task
    // (an epoch spine can be 10⁹ frames); bucket = 1 h of frames
    val ff = Fill.ffillBucketed(feat.withColumn("cdist_ff",
      when(col("cdist").isNaN, lit(null)).otherwise(col("cdist"))), Seq("cdist_ff"),
      "frame", bucketSize = math.max(1L, (p.fps * 3600).toLong), by = Seq(G))
    val cond1 = col("cdist_ff") < p.maxDistance
    val cond2 = gtNanFalse(col("nh0"), lit(p.maxNoseHeadDistance)) ||
      gtNanFalse(col("nh1"), lit(p.maxNoseHeadDistance)) ||
      gtNanFalse(col("is0"), lit(p.maxInterspinalDistance)) ||
      gtNanFalse(col("is1"), lit(p.maxInterspinalDistance))
    val cond3 = col("blob_speed") > p.minBlobSpeed
    val flagged = ff.withColumn("isFight", cond1 && cond2 && cond3)
      .withColumn("isBridge", cond1 && col("isEmpty"))
    fightsTail(flagged.select(col(G), col("frame"), col("tsUs"),
      nn(col("m0_centroid_x")).as("c0x"), nn(col("m0_centroid_y")).as("c0y"),
      nn(col("m1_centroid_x")).as("c1x"), nn(col("m1_centroid_y")).as("c1y"),
      col("isFight"), col("isBridge")), p)
  }

  /** Shared back half of fight detection — two-phase sessionization with
    * empty-frame bridges (G3) through the per-event verdict kernel
    * (`social_behaviour_detection.py:617-762`). `flagged` columns:
    * `_g, frame, tsUs, c0x, c0y, c1x, c1y, isFight, isBridge`; every frame
    * slot of the shard must be present (dense spine). The fight poller
    * ([[graft.streaming.FightStream]]) runs the same rules on the driver
    * over each closed super-session's filled rows; both end in the one
    * per-event verdict [[fightOf]], and `FightDriverSpec` checks the two
    * tails against each other. */
  private[graft] def fightsTail(flagged: DataFrame, p: FightParams): Dataset[GFight] = {
    val spark = flagged.sparkSession
    import spark.implicits._
    // two-phase sessionization with empty-frame bridges (G3)
    val cand = flagged.filter(col("isFight")).select(G, "frame")
    val sess1 = Sessionize.sessionize(cand, "frame", Seq(G), p.maxFrameGap)
    val kept1 = Sessionize.filterMinSize(sess1, Seq(G), "session_id", p.minNumFrames + 1)
      .select(G, "frame")
    val union = kept1.withColumn("isCand", lit(true))
      .unionByName(flagged.filter(col("isBridge")).select(G, "frame")
        .withColumn("isCand", lit(false)))
      .dropDuplicates(G, "frame")
    val regrouped = Sessionize.regroupWithBridges(union, "frame", Seq(G),
      p.maxFrameGapWEmptyFrames, "isCand")
    val evs = Sessionize.filterMinSize(regrouped, Seq(G), "session_id", p.minNumFrames + 1)
      .groupBy(col(G), col("session_id"))
      .agg(min("frame").as("firstF"), max("frame").as("lastF"))
      .select(col(G), col("session_id").as("ev"), col("firstF"), col("lastF"))
    // kernel over [firstF−1, lastF]; cleanup arrays exclude the last frame.
    // The tube-only EvRow fields (o0/o1/e2/e3/cdist) ride as NaN — and so
    // does isCand ride as a constant false: the fight kernel never reads
    // it, and joining kept1 back in would re-execute the phase-1
    // sessionization subtree a second time just to populate a dead field.
    val e = evs.select(col(G).as("_eg"), col("ev"), col("firstF"), col("lastF"))
    val rows = flagged.join(broadcast(e), col(G) === col("_eg") &&
        col("frame") >= col("firstF") - 1 && col("frame") <= col("lastF"))
      .select(col(G).as("g"), col("ev"), col("frame"), col("tsUs"),
        col("c0x"), col("c0y"), col("c1x"), col("c1y"),
        lit(Double.NaN).as("o0"), lit(Double.NaN).as("o1"),
        lit(Double.NaN).as("e2"), lit(Double.NaN).as("e3"),
        lit(Double.NaN).as("cdist"),
        lit(false).as("isCand"),
        col("firstF"), col("lastF"))
      .as[EvRow]
    rows.groupByKey(r => (r.g, r.ev)).flatMapGroups {
      (key: (String, Long), it: Iterator[EvRow]) =>
      val rs = it.toArray.sortBy(_.frame)
      fightOf(key._1, rs.head.firstF, rs.map(_.frame), rs.map(_.tsUs),
        rs.map(_.c0x), rs.map(_.c0y), rs.map(_.c1x), rs.map(_.c1y), p).iterator
    }
  }

  /** The verdict on one candidate event, over its kernel rows: frames
    * [firstF − 1, lastF] in frame order, as parallel arrays. Fewer than
    * three rows is no event. The speed kernel sees every row but the last
    * (the reference trims [start−1, end)); the event starts at the row of
    * `firstF` (the leading row is only the cleanup seed; the first row when
    * `firstF` is absent), ends at the last row, and is kept only when it
    * lasts more than one second. The one copy of these rules for
    * [[fightsTail]] and the fight poller's driver tail
    * ([[graft.streaming.FightStream]]). */
  private[graft] def fightOf(g: String, firstF: Long, frame: Array[Long],
      tsUs: Array[Long], c0x: Array[Double], c0y: Array[Double],
      c1x: Array[Double], c1y: Array[Double], p: FightParams): Option[GFight] = {
    val n = frame.length
    if (n < 3) None
    else Kernels.fightVerdict(c0x.take(n - 1), c0y.take(n - 1),
        c1x.take(n - 1), c1y.take(n - 1),
        p.fps, p.cm2px, p.minCentroidSpeed, p.minBothCentroidSpeed).flatMap { case (ex, ey) =>
      val i = frame.indexOf(firstF)
      val startUs = tsUs(if (i >= 0) i else 0)
      val endUs = tsUs(n - 1)
      val dur = (endUs - startUs) / 1e6
      if (dur > 1.0) Some(GFight(g, usToTs(startUs), usToTs(endUs), dur, ex, ey))
      else None
    }
  }

  /** Blob-position stream → per-frame smoothed speed (cm/s), matching the
    * reference recipe (`social_behaviour_detection.py:579-601`) exactly:
    *
    *   1. drop rows whose dt to the ORIGINAL predecessor is < 10 ms
    *      (one pass, not iterated — the reference recomputes diffs once);
    *   2. recompute dxy/dt against the NEW predecessor of the survivors;
    *   3. speed = ‖dxy‖ / dt_ms / cm2px · 1000, with a leading speed-0
    *      sample (np.concatenate(([0], …)));
    *   4. 10-row uniform "same"-mode convolution = rows (−5, +4) sum / 10
    *      (missing rows at the stream edges contribute 0, like zero-pad);
    *   5. aggregate to ONE row per frame id (avg) so the feature join never
    *      fans out frames.
    *
    * All windows are hour-bucketed with ghost edge rows ([[Buckets]]) — no
    * global single-task sort anywhere, exact equality with the global plan.
    * Exactness requires every occupied bucket to hold at least the window
    * extent (6 rows at `bucketSeconds = 3600` and 50 fps; a camera dropout
    * leaving 1–5 samples in an hour violates it) — enforced with a loud
    * runtime error (`guardSparse`), not silent divergence; lower
    * `bucketSeconds` resolution only with correspondingly dense streams.
    */
  def blobSpeed(blob: DataFrame, fps: Double, cm2px: Double,
      bucketSeconds: Long = 3600): DataFrame =
    blobSpeedG(Cols.normalizeNtz(blob).withColumn(G, lit("")), fps, cm2px,
      bucketSeconds).drop(G)

  /** Grouped core of [[blobSpeed]]: `blob` carries the shard key `_g`;
    * every window and bucket chain is per-shard. `boundsOpt` supplies a
    * shared per-shard frame-id baseline (the POSE stream's start when
    * composing with the detectors); standalone use falls back to the blob
    * stream's own start. */
  private def blobSpeedG(blob: DataFrame, fps: Double, cm2px: Double,
      bucketSeconds: Long = 3600, boundsOpt: Option[DataFrame] = None): DataFrame = {
    val bounds = boundsOpt.getOrElse(
      blob.groupBy(col(G)).agg(min(unix_micros(col("time"))).as("t0us")))
    val bUs = bucketSeconds * 1000000L
    val base = blob.na.drop(Seq("x", "y"))
      .withColumn("_tus", unix_micros(col("time")))
      .withColumn("_bkt", (col("_tus") / bUs).cast("long"))
    // pass 1: dt anomaly drop (keep the stream head: null dt survives)
    val w1 = Window.partitionBy(col(G), col("_bkt")).orderBy("_tus")
    val kept = Buckets.withGhosts(base, "_bkt", "_tus", 1, 0, by = Seq(G))
      .withColumn("_pt", lag(col("_tus"), 1).over(w1))
      .filter(!col("_ghost"))
      .filter(col("_pt").isNull || (col("_tus") - col("_pt")) / 1000.0 >= 10.0)
      .drop("_ghost", "_pt")
    // pass 2: recomputed lag + smoothing. before=6 = 5 (smoothing extent)
    // + 1 so every ghost inside a live smoothing window has its own lag
    // partner; the one ghost with a wrong 0-speed (first of the 6) is
    // outside every surviving row's window.
    val w2 = Window.partitionBy(col(G), col("_bkt")).orderBy("_tus")
    val smoothW = w2.rowsBetween(-5, 4)
    val sp = Buckets.withGhosts(kept, "_bkt", "_tus", 6, 4, by = Seq(G),
      guardSparse = true)
      .withColumn("_pt", lag(col("_tus"), 1).over(w2))
      .withColumn("_px", lag(col("x"), 1).over(w2))
      .withColumn("_py", lag(col("y"), 1).over(w2))
      .withColumn("speed", when(col("_pt").isNull, 0.0).otherwise(
        hypot(col("x") - col("_px"), col("y") - col("_py"))
          / floor((col("_tus") - col("_pt")) / 1000.0) / cm2px * 1000.0))
      .withColumn("blob_speed", sum(col("speed")).over(smoothW) / 10.0)
      .filter(!col("_ghost"))
    sp.join(broadcast(bounds), G)
      .withColumn("frame", Cols.frameId(unix_micros(col("time")), col("t0us"), fps))
      .groupBy(col(G), col("frame")).agg(avg(col("blob_speed")).as("blob_speed"))
  }

  /** Split [start, end) into 24 h periods cut at `boundaryHour` local time
    * (reference `detect_fights_all_epochs.py:96-170`): first period runs
    * from start to the first boundary, then whole days boundary→boundary,
    * then the remainder. Pure metadata math — periods are few. */
  def periods24h(startUs: Long, endUs: Long, boundaryHour: Int,
      zone: java.time.ZoneId = java.time.ZoneOffset.UTC): Seq[(Long, Long)] = {
    import java.time.{Instant, ZonedDateTime}
    val start = Instant.ofEpochSecond(startUs / 1000000L, (startUs % 1000000L) * 1000L)
      .atZone(zone)
    val end = Instant.ofEpochSecond(endUs / 1000000L, (endUs % 1000000L) * 1000L)
      .atZone(zone)
    val sameDay = start.toLocalDate.atTime(boundaryHour, 0).atZone(zone)
    val firstBoundary = if (start.isBefore(sameDay)) sameDay else sameDay.plusDays(1)
    def us(z: ZonedDateTime) = z.toInstant.getEpochSecond * 1000000L +
      z.toInstant.getNano / 1000L
    if (!firstBoundary.isBefore(end) && !firstBoundary.isEqual(end))
      Seq((startUs, endUs))
    else {
      val b = scala.collection.mutable.ArrayBuffer((startUs, us(firstBoundary)))
      var cur = firstBoundary
      while (!cur.plusDays(1).isAfter(end)) {
        b += ((us(cur), us(cur.plusDays(1)))); cur = cur.plusDays(1)
      }
      if (us(cur) < endUs) b += ((us(cur), endUs))
      b.toSeq
    }
  }

  /** Multi-epoch fight detection (reference `detect_fights_all_epochs.py`):
    * rows are tagged with their (epoch × 24 h period) shard — periods cut at
    * `boundaryHour`, reference default 2 AM — via ONE broadcast join against
    * a tiny shard table, then the whole corpus flows through ONE
    * [[fightsCore]] plan. The driver enumerates only epoch METADATA (min/max
    * time + identity set per epoch — recording sessions, dozens not
    * billions); plan size and analysis cost do not grow with epoch count.
    * Events never span a period boundary — the reference's per-job
    * semantics. Epochs whose identity set is not exactly 2 are SKIPPED,
    * like the reference's "no data for this chunk" empty-output path
    * (`combine_pose_id_chunk.py:284-288`).
    *
    * Output: FightEvent columns + `epoch`, `period_start`.
    */
  def detectFightsAllEpochs(pose: DataFrame, blob: Option[DataFrame],
      parts: Map[String, String], p: FightParams, epochCol: String = "epoch",
      boundaryHour: Int = 2, intervals: Option[DataFrame] = None): DataFrame = {
    // exclusion FIRST: shard metadata (epoch bounds, identity sets, period
    // boundaries) must see the same rows the single-epoch entry point sees
    // — an identity present only during maintenance must not flip an epoch
    // into the skip path
    val poseN = Cols.normalizeNtz(pose)
    val poseKept = intervals.map(Intervals.excludeOutside(poseN, "time", _))
      .getOrElse(poseN)
    val (shardDf, tagged) = tagShards(poseKept, epochCol, boundaryHour)
    fightsCore(tagged, blob.map(b => tagBlob(Cols.normalizeNtz(b), shardDf, epochCol)),
        parts, p)
      .join(broadcast(shardDf.select(col(G).as("g"), col("_ep").as("epoch"),
        timestamp_micros(col("_ps")).as("period_start"))), "g")
      .select("start_ts", "end_ts", "duration_sec", "end_x", "end_y",
        "epoch", "period_start")
  }

  /** Multi-epoch tube-test detection — same single-plan sharding as
    * [[detectFightsAllEpochs]]. */
  def detectTubeTestsAllEpochs(pose: DataFrame, parts: Map[String, String],
      p: TubeParams, roi: Option[Roi] = None,
      epochCol: String = "epoch", boundaryHour: Int = 2,
      intervals: Option[DataFrame] = None): DataFrame = {
    val poseN = Cols.normalizeNtz(pose)
    val poseKept = intervals.map(Intervals.excludeOutside(poseN, "time", _))
      .getOrElse(poseN)
    val (shardDf, tagged) = tagShards(poseKept, epochCol, boundaryHour)
    tubeCore(tagged, parts, p, roi)
      .join(broadcast(shardDf.select(col(G).as("g"), col("_ep").as("epoch"),
        timestamp_micros(col("_ps")).as("period_start"),
        col("_id0"), col("_id1"))), "g")
      .withColumn("winner_identity",
        when(col("winner_idx") === 0, col("_id0")).otherwise(col("_id1")))
      .select("start_ts", "end_ts", "winner_identity", "epoch", "period_start")
  }

  /** Resolve (epoch × period) shards from ONE metadata aggregation (time
    * bounds + identity set per epoch — the only eager work), and tag every
    * pose row with its shard key `_g` and first identity `_id0` through a
    * broadcast range join. Epochs without exactly 2 identities get no shard
    * rows → their pose rows drop out of the join, the reference's
    * skip-silently path. Returns (shard table, tagged pose). */
  private def tagShards(pose: DataFrame, epochCol: String,
      boundaryHour: Int): (DataFrame, DataFrame) = {
    val spark = pose.sparkSession
    import spark.implicits._
    val epochs = pose.groupBy(col(epochCol).cast("string").as("_ep"))
      .agg(min(unix_micros(col("time"))).as("_s"),
        max(unix_micros(col("time"))).as("_e"),
        collect_set(col("identity")).as("_ids"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[String](3).sorted))
      .sortBy(_._1)
    val shards = for {
      (ep, s, e, ids) <- epochs.toSeq if ids.length == 2
      // max(time) is inclusive → +1 µs so the last sample stays in range
      (ps, pe) <- periods24h(s, e + 1, boundaryHour)
    } yield (ep, ps, pe, ids(0), ids(1))
    require(shards.nonEmpty, "no epochs with exactly 2 identities found")
    val shardDf = shards.toDF("_ep", "_ps", "_pe", "_id0", "_id1")
      .withColumn(G, concat_ws("|", col("_ep"), col("_ps")))
    val tagged = pose
      .withColumn("_ptus", unix_micros(col("time")))
      .join(broadcast(shardDf), col(epochCol).cast("string") === col("_ep") &&
        col("_ptus") >= col("_ps") && col("_ptus") < col("_pe"))
      .drop("_ptus", "_ep", "_ps", "_pe", "_id1", epochCol)
    (shardDf, tagged)
  }

  /** Tag a blob stream with shard keys: epoch equality when the stream
    * carries the epoch column, else time-range only (two wall-clock-
    * overlapping epochs then share the blob rows — the same semantics as
    * filtering the epoch-less stream per shard). */
  private def tagBlob(b: DataFrame, shardDf: DataFrame,
      epochCol: String): DataFrame = {
    val epMatch: Column =
      if (b.columns.contains(epochCol)) col(epochCol).cast("string") === col("_ep")
      else lit(true)
    b.withColumn("_btus", unix_micros(col("time")))
      .join(broadcast(shardDf), epMatch &&
        col("_btus") >= col("_ps") && col("_btus") < col("_pe"))
      .drop("_btus", "_ep", "_ps", "_pe", "_id0", "_id1", epochCol)
  }

  /** Tube-test detection end-to-end (reference `detect_tube_tests`,
    * `social_behaviour_detection.py:100-390`). ROI filtering (annulus +
    * exclusion zones) is applied when `roi` is given:
    * (centerX, centerY, innerR, outerR). */
  def detectTubeTests(pose: DataFrame, parts: Map[String, String], p: TubeParams,
      roi: Option[Roi] = None,
      intervals: Option[DataFrame] = None,
      knownIds: Option[Seq[String]] = None): Dataset[TubeTestEvent] = {
    val spark = pose.sparkSession
    import spark.implicits._
    val poseN = Cols.normalizeNtz(pose)
    val poseKept = intervals.map(Intervals.excludeOutside(poseN, "time", _))
      .getOrElse(poseN)
    val ids = knownIds.getOrElse(
      poseKept.select("identity").distinct().collect().map(_.getString(0)).toSeq).sorted
    require(ids.length == 2, s"expected exactly 2 identities, got ${ids.length}")
    val tagged = poseKept.withColumn(G, lit("")).withColumn("_id0", lit(ids(0)))
    tubeCore(tagged, parts, p, roi)
      .map(t => TubeTestEvent(t.start_ts, t.end_ts, ids(t.winner_idx)))
  }

  /** Grouped tube-test core: `pose` carries `_g` + `_id0`. Emits one
    * [[GTube]] per event with the winner as an identity INDEX (0 = the
    * shard's `_id0`) — callers map indices back to identity strings. */
  private def tubeCore(pose: DataFrame, parts: Map[String, String], p: TubeParams,
      roi: Option[Roi]): Dataset[GTube] = {
    val feat = withFeatures(wideFramesG(pose, parts, p.fps))
    tubeTail(feat.select(col(G), col("frame"), col("tsUs"),
      nn(col("m0_centroid_x")).as("c0x"), nn(col("m0_centroid_y")).as("c0y"),
      nn(col("m1_centroid_x")).as("c1x"), nn(col("m1_centroid_y")).as("c1y"),
      nn(col("o0")).as("o0"), nn(col("o1")).as("o1"),
      nn(col("e2")).as("e2"), nn(col("e3")).as("e3"),
      nn(col("cdist")).as("cdist"),
      coalesce(tubeStartCond(p, roi), lit(false)).as("isCand")), p)
  }

  /** Tube-test start condition (`social_behaviour_detection.py:259-274`)
    * over [[withFeatures]] columns: facing each other within tolerance,
    * close centroids, the relative-extremity and tail-tail/head-head
    * orderings, and the optional ROI gate. Shared by the batch core and
    * the streaming silver stage ([[graft.streaming.TubeStream]]) — one
    * expression, so the two modes cannot drift. NULL on empty-spine rows
    * (callers coalesce to false). */
  private[graft] def tubeStartCond(p: TubeParams, roi: Option[Roi]): Column = {
    val adj1 = pmod(col("o1") + 180.0, lit(360.0))
    val roiOk: Column = roi match {
      case Some(r) =>
        def cx(m: Int) = nn(col(s"m${m}_centroid_x"))
        def cy(m: Int) = nn(col(s"m${m}_centroid_y"))
        def annulus(m: Int) = Cols.inAnnulus(cx(m), cy(m),
          lit(r.centerX), lit(r.centerY), lit(r.innerR), lit(r.outerR))
        // nest band: x > centerX ∧ y ∈ [nestY1, nestY2] (skipped when the
        // metadata has no nest region — NaN bounds compare false... except
        // Spark orders NaN greatest, so guard explicitly)
        def inNest(m: Int) =
          if (r.nestY1.isNaN || r.nestY2.isNaN) lit(false)
          else !isnan(cx(m)) && !isnan(cy(m)) &&
            cx(m) > r.centerX && cy(m) >= r.nestY1 && cy(m) <= r.nestY2
        def nearGate(m: Int) = r.gates.foldLeft(lit(false)) { case (acc, (gx, gy)) =>
          val d2 = (cx(m) - gx) * (cx(m) - gx) + (cy(m) - gy) * (cy(m) - gy)
          acc || (!isnan(d2) && d2 <= r.gateWidth * r.gateWidth)
        }
        annulus(0) && annulus(1) &&
          !(inNest(0) || inNest(1) || nearGate(0) || nearGate(1))
      case None => lit(true)
    }
    abs(col("o0") - adj1) <= p.angleTolerance &&
      col("cdist") < p.maxDistanceStart &&
      gtNanFalse(col("rel1"), col("rel0")) &&
      gtNanFalse(col("e_tailtail"), col("e_headhead")) && roiOk
  }

  /** Shared back half of tube-test detection — candidate sessionization
    * through the per-event verdict kernel
    * (`social_behaviour_detection.py:276-385`). `flagged` columns:
    * `_g, frame, tsUs, c0x, c0y, c1x, c1y, o0, o1, e2, e3, cdist, isCand`;
    * every frame slot of the shard's spine must be present (empty frames as
    * NaN rows — trailing all-NaN frames beyond the spine are verdict
    * no-ops, see [[Kernels.greedyCleanup]]). The SAME function runs under
    * the batch core and the streaming gold stage
    * ([[graft.streaming.TubeStream]]) — one implementation, so the two
    * modes cannot drift. */
  private[graft] def tubeTail(flagged: DataFrame, p: TubeParams): Dataset[GTube] = {
    val spark = flagged.sparkSession
    import spark.implicits._
    val cand = flagged.filter(col("isCand")).select(G, "frame")
    val evs = events(cand, p.maxFrameGap, p.minTubeTestStartFrames)
    val window = math.ceil(p.fps * p.searchWindowSeconds).toLong
    // span [firstF, lastF + window); events are few → broadcast range join
    val e = evs.select(col(G).as("_eg"), col("ev"), col("firstF"), col("lastF"))
    val rows = flagged.join(broadcast(e), col(G) === col("_eg") &&
        col("frame") >= col("firstF") && col("frame") <= col("lastF") + (window - 1))
      .select(col(G).as("g"), col("ev"), col("frame"), col("tsUs"),
        col("c0x"), col("c0y"), col("c1x"), col("c1y"),
        col("o0"), col("o1"), col("e2"), col("e3"), col("cdist"),
        col("isCand"), col("firstF"), col("lastF"))
      .as[EvRow]
    rows.groupByKey(r => (r.g, r.ev)).flatMapGroups {
      (key: (String, Long), it: Iterator[EvRow]) =>
      val g = key._1
      val rs = it.toArray.sortBy(_.frame)
      if (rs.isEmpty) Iterator.empty
      else {
        val lastStartRel = (rs.head.lastF - rs.head.firstF).toInt
        val verdict = Kernels.tubeVerdict(
          rs.map(_.c0x), rs.map(_.c0y), rs.map(_.c1x), rs.map(_.c1y),
          rs.map(_.o0), rs.map(_.o1), rs.map(_.e2), rs.map(_.e3),
          rs.map(_.cdist), rs.map(_.isCand), lastStartRel,
          p.angleTolerance, p.minDistance, p.maxDistanceEnd, p.movementThreshold)
        verdict.iterator.map { case (endRel, winnerIdx) =>
          GTube(g, usToTs(rs.head.tsUs), usToTs(rs(endRel).tsUs), winnerIdx)
        }
      }
    }
  }
}
