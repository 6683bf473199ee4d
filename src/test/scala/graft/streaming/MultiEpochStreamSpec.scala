package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import java.nio.file.Files
import graft.TestSpark
import graft.behavior.Detectors

/** ONE poller for N epochs (round-6 scale item): every stage's state and
  * frame grid is keyed by epoch, so a multi-rig deployment runs one
  * streaming query and ONE checkpoint per stage. Differential-tested
  * against the batch detectors PER EPOCH: the epochs have different
  * identity pairs, frame-grid origins offset by a NON-multiple of the
  * frame duration (so a shared grid would misbucket one of them), and —
  * for tubes — different ROI configurations. One epoch key contains `:`
  * to exercise the `epoch:spanStart` shard-key split. */
class MultiEpochStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val parts = Map("nose" -> "nose", "head" -> "head",
    "centroid" -> "spine2", "tail_base" -> "spine4")
  val t0A = java.sql.Timestamp.valueOf("2024-06-01 12:00:00")
  val t0Aus = t0A.getTime * 1000L
  // 1234 ms offset: NOT a multiple of the 20 ms frame duration — rig B's
  // grid is genuinely its own
  val t0Bus = t0Aus + 1234L * 1000L
  val durUs = 20000L // 50 fps

  def poseDfAt(t0ms: Long, rows: Seq[(Int, String, String, Double, Double)]): DataFrame =
    rows.map { case (f, id, part, x, y) =>
      (new java.sql.Timestamp(t0ms + f * 20L + f % 7), id, part, x, y)
    }.toDF("time", "identity", "part", "x", "y")

  def ckptDirs(work: String): Seq[String] = {
    val root = new java.io.File(work)
    root.listFiles().filter(_.getName.startsWith("ckpt_")).map(_.getName).sorted.toSeq
  }

  test("one fight poller, two epochs: stream ≡ batch per epoch, one checkpoint per stage") {
    def fightMouse(f: Int, id: String, cx: Double, cy: Double, nh: Double) = Seq(
      (f, id, "nose", cx + 8 + nh, cy), (f, id, "head", cx + 8, cy),
      (f, id, "spine2", cx, cy), (f, id, "spine4", cx - 10, cy))
    def fightRows(ids: (String, String), fightLo: Int, fightHi: Int, maxF: Int) =
      (0 to maxF).flatMap { f =>
        if (f >= fightLo && f <= fightHi) {
          val x = 100.0 + (f - fightLo) * 10.0
          fightMouse(f, ids._1, x, 100, 10.0) ++ fightMouse(f, ids._2, x + 3, 104, 10.0)
        } else fightMouse(f, ids._1, 100, 100, 2.0) ++
          fightMouse(f, ids._2, 4000, 4000, 2.0)
      }
    val p = Detectors.FightParams()
    // rig A: fight 100..200 of 260; rig B (offset grid, ids D/C): 60..160 of 260
    val rowsA = fightRows(("A", "B"), 100, 200, 260)
    val rowsB = fightRows(("D", "C"), 60, 160, 260)
    val base = Files.createTempDirectory("graft_multifight").toString
    val poseA = s"$base/poseA"; val poseB = s"$base/poseB"; val work = s"$base/work"
    val epochs = Seq(
      FightStream.FightEpoch("rig:A", s"$poseA/*", t0Aus, Seq("A", "B")),
      FightStream.FightEpoch("rigB", s"$poseB/*", t0Bus, Seq("D", "C")))
    // poll 1: frontier mid-fight for BOTH epochs (A at frame 151; B at
    // ~frame 89 of its own offset grid). Chunk split = all rows with event
    // time strictly below the frontier (the discovery contract).
    val cut1us = t0Aus + 151L * durUs
    def below(t0ms: Long)(r: (Int, String, String, Double, Double)) =
      (t0ms + r._1 * 20L + r._1 % 7) * 1000L < cut1us
    poseDfAt(t0A.getTime, rowsA.filter(below(t0A.getTime)))
      .write.parquet(s"$poseA/chunk1")
    poseDfAt(t0Bus / 1000L, rowsB.filter(below(t0Bus / 1000L)))
      .write.parquet(s"$poseB/chunk1")
    FightStream.pollFightsMulti(spark, epochs, work, parts, p, cut1us)
    assert(FightStream.fightEventsByEpoch(spark, work).collect().isEmpty,
      "both fights still open at the mid-event frontier")
    // poll 2: remaining chunks, frontier past both epochs' gap horizons
    poseDfAt(t0A.getTime, rowsA.filterNot(below(t0A.getTime)))
      .write.parquet(s"$poseA/chunk2")
    poseDfAt(t0Bus / 1000L, rowsB.filterNot(below(t0Bus / 1000L)))
      .write.parquet(s"$poseB/chunk2")
    val cut2us = t0Bus + (260L + p.maxFrameGap + 5) * durUs
    FightStream.pollFightsMulti(spark, epochs, work, parts, p, cut2us)
    def key(t: (java.sql.Timestamp, java.sql.Timestamp, Double, Double, Double)) =
      (t._1.getTime, t._2.getTime, t._3, t._4, t._5)
    val got = FightStream.fightEventsByEpoch(spark, work).collect()
      .groupBy(_.epoch).view.mapValues(_.map(e =>
        key((e.start_ts, e.end_ts, e.duration_sec, e.end_x, e.end_y))).toSet).toMap
    def batch(rows: Seq[(Int, String, String, Double, Double)], t0ms: Long) =
      Detectors.detectFights(poseDfAt(t0ms, rows), None, parts, p)
        .collect().map(e =>
          key((e.start_ts, e.end_ts, e.duration_sec, e.end_x, e.end_y))).toSet
    val wantA = batch(rowsA, t0A.getTime)
    val wantB = batch(rowsB, t0Bus / 1000L)
    assert(wantA.size === 1 && wantB.size === 1)
    assert(wantA !== wantB, "fixture: the two epochs' events must differ")
    assert(got === Map("rig:A" -> wantA, "rigB" -> wantB))
    // ONE checkpoint per poller, regardless of epoch count
    assert(ckptDirs(work) === Seq("ckpt_fight"))
    // idempotency: an empty re-poll emits nothing new
    FightStream.pollFightsMulti(spark, epochs, work, parts, p,
      cut2us + 20L * durUs)
    assert(FightStream.fightEventsByEpoch(spark, work).collect().length === 2)
  }

  test("one tube poller, two epochs with different ROIs: stream ≡ batch per epoch") {
    def mouse(f: Int, id: String, cx: Double, cy: Double, dir: Double) = Seq(
      (f, id, "nose", cx + dir * 10, cy), (f, id, "head", cx + dir * 8, cy),
      (f, id, "spine2", cx, cy), (f, id, "spine4", cx - dir * 10, cy))
    def standoff(ids: (String, String)) = (0 to 300).flatMap { f =>
      if (f >= 100 && f < 120)
        mouse(f, ids._1, 100, 50, 1) ++ mouse(f, ids._2, 140, 50, -1)
      else if (f >= 120 && f < 170)
        mouse(f, ids._1, 100, 50, 1) ++
          mouse(f, ids._2, 140.0 + 3 * (f - 119), 50, 1)
      else mouse(f, ids._1, 100, 50, 1) ++ mouse(f, ids._2, 2000, 2000, -1)
    }
    val p = Detectors.TubeParams()
    val keepRoi = Some(Detectors.Roi(0.0, 50.0, 50.0, 400.0))
    // gate circle over the stand-off spot: every candidate in rig B rejected
    val gateRoi = Some(Detectors.Roi(0.0, 50.0, 50.0, 400.0,
      gates = Seq((100.0, 50.0)), gateWidth = 15.0))
    val rowsA = standoff(("A", "B"))
    val rowsB = standoff(("C", "D"))
    val base = Files.createTempDirectory("graft_multitube").toString
    val poseA = s"$base/poseA"; val poseB = s"$base/poseB"; val work = s"$base/work"
    poseDfAt(t0A.getTime, rowsA).write.parquet(s"$poseA/chunk1")
    poseDfAt(t0Bus / 1000L, rowsB).write.parquet(s"$poseB/chunk1")
    val epochs = Seq(
      TubeStream.TubeEpoch("rig:A", s"$poseA/*", t0Aus, Seq("A", "B"), keepRoi),
      TubeStream.TubeEpoch("rigB", s"$poseB/*", t0Bus, Seq("C", "D"), gateRoi))
    TubeStream.pollTubeTestsMulti(spark, epochs, work, parts, p,
      t0Bus + 300L * durUs)
    val got = TubeStream.tubeEventsByEpoch(spark, work).collect()
      .groupBy(_.epoch).view.mapValues(_.map(e =>
        (e.start_ts.getTime, e.end_ts.getTime, e.winner_identity)).toSet).toMap
    def batch(rows: Seq[(Int, String, String, Double, Double)], t0ms: Long,
        roi: Option[Detectors.Roi]) =
      Detectors.detectTubeTests(poseDfAt(t0ms, rows), parts, p, roi = roi)
        .collect().map(e =>
          (e.start_ts.getTime, e.end_ts.getTime, e.winner_identity)).toSet
    val wantA = batch(rowsA, t0A.getTime, keepRoi)
    val wantB = batch(rowsB, t0Bus / 1000L, gateRoi)
    assert(wantA.size === 1, "rig A's event survives its ROI")
    assert(wantB.isEmpty, "rig B's candidates are gate-rejected")
    assert(got === Map("rig:A" -> wantA))
    assert(ckptDirs(work) === Seq("ckpt_gold", "ckpt_silver"))
  }

  test("epoch manifest: the ordered epoch list is pinned per workDir") {
    val work = Files.createTempDirectory("graft_manifest").toString
    Poll.checkEpochManifest(spark, work, Seq("rigA", "rig:B"))
    // identical list: fine (every later poll)
    Poll.checkEpochManifest(spark, work, Seq("rigA", "rig:B"))
    // REORDERED list: the positional source slots would swap dirs — must
    // fail loudly, not silently corrupt
    val e1 = intercept[IllegalArgumentException] {
      Poll.checkEpochManifest(spark, work, Seq("rig:B", "rigA"))
    }
    assert(e1.getMessage.contains("positional"))
    // changed membership: same failure
    intercept[IllegalArgumentException] {
      Poll.checkEpochManifest(spark, work, Seq("rigA"))
    }
    // the single-epoch key "" round-trips through the manifest file
    val work1 = Files.createTempDirectory("graft_manifest1").toString
    Poll.checkEpochManifest(spark, work1, Seq(""))
    Poll.checkEpochManifest(spark, work1, Seq(""))
    intercept[IllegalArgumentException] {
      Poll.checkEpochManifest(spark, work1, Seq("x"))
    }
  }

  test("pre-epoch-column sink rows read back as the single-epoch key") {
    // a workDir written before the epoch column existed holds filled/event
    // rows WITHOUT it; the batch tail and event readers must treat those
    // as epoch "" (the single-epoch key), not drop them on null === ""
    val p = Detectors.FightParams()
    val base = Files.createTempDirectory("graft_legacy").toString
    def filledRows(lo: Int, hi: Int) = (lo to hi).map { f =>
      (f.toLong, t0Aus + f * durUs,
        100.0 + f * 10.0, 100.0, 103.0 + f * 10.0, 104.0,
        true, false, false)
    }
    val newCols = Seq("frame", "tsUs", "c0x", "c0y", "c1x", "c1y",
      "isFight", "isBridge", "isMarker")
    // legacy half (no epoch column) + post-upgrade half (epoch = ""),
    // appended into ONE flat dir like the streaming sink writes
    filledRows(0, 75).toDF(newCols: _*)
      .write.mode("append").parquet(s"$base/mixed")
    filledRows(76, 150).toDF(newCols: _*).withColumn("epoch", lit(""))
      .write.mode("append").parquet(s"$base/mixed")
    filledRows(0, 150).toDF(newCols: _*).withColumn("epoch", lit(""))
      .write.parquet(s"$base/all_new")
    val spans = Array(("", 0L, 150L))
    val got = FightStream.eventsFromSpans(spark, spans, s"$base/mixed", p)
      .collect().map(e => (e.start_ts.getTime, e.end_ts.getTime)).toSet
    val want = FightStream.eventsFromSpans(spark, spans, s"$base/all_new", p)
      .collect().map(e => (e.start_ts.getTime, e.end_ts.getTime)).toSet
    assert(want.nonEmpty, "fixture: the all-new baseline must emit an event")
    assert(got === want,
      "legacy (epoch-less) filled rows must contribute to the slice")
    // legacy events (no epoch column) surface under epoch ""
    filledRows(0, 0).map(_ => (new java.sql.Timestamp(0L),
        new java.sql.Timestamp(1000L), 1.0, 2.0, 3.0))
      .toDF("start_ts", "end_ts", "duration_sec", "end_x", "end_y")
      .write.parquet(s"$base/evwork/events/b0")
    val evs = FightStream.fightEventsByEpoch(spark, s"$base/evwork").collect()
    assert(evs.map(_.epoch).toSeq === Seq(""))
  }

  test("a workDir of the four-query fight poller is refused with its remedy") {
    val work = Files.createTempDirectory("graft_oldlayout").toString
    new java.io.File(s"$work/ckpt_silver").mkdirs()
    val e = intercept[IllegalStateException] {
      FightStream.pollFights(spark, s"$work/pose/*", work, parts,
        Detectors.FightParams(), t0Aus, Seq("A", "B"), t0Aus + 100L * durUs)
    }
    assert(e.getMessage.contains("ckpt_silver"))
    assert(e.getMessage.contains("new workDir"))
    assert(e.getMessage.contains("fightEvents"))
  }
}
