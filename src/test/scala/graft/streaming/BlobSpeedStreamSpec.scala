package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.TestSpark
import graft.behavior.Detectors

/** Condition 3 across polls: stage 0 of the fight poller carries the blob
  * speed recipe from poll to poll, and after every poll the speeds stage 2
  * joins must equal the batch recipe [[Detectors.blobSpeed]] over all blob
  * rows landed so far. */
class BlobSpeedStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val parts = Map("nose" -> "nose", "head" -> "head",
    "centroid" -> "spine2", "tail_base" -> "spine4")
  val p = Detectors.FightParams()
  val durUs = 20000L // 50 fps

  def mouse(f: Int, id: String, cx: Double, cy: Double, noseHead: Double) =
    Seq((f, id, "nose", cx + 8 + noseHead, cy), (f, id, "head", cx + 8, cy),
      (f, id, "spine2", cx, cy), (f, id, "spine4", cx - 10, cy))
  def fightFrame(f: Int, ids: (String, String), x: Double) =
    mouse(f, ids._1, x, 100, 10.0) ++ mouse(f, ids._2, x + 3, 104, 10.0)
  def apartFrame(f: Int, ids: (String, String)) =
    mouse(f, ids._1, 100, 100, 2.0) ++ mouse(f, ids._2, 4000, 4000, 2.0)

  /** Pose rows at `t0us + frame · 20 ms + frame % 7 ms`, with `epoch`. */
  def poseDf(t0us: Long, epoch: String,
      rows: Seq[(Int, String, String, Double, Double)]): DataFrame =
    rows.map { case (f, id, part, x, y) =>
      (t0us + f * durUs + (f % 7) * 1000L, id, part, x, y)
    }.toDF("tUs", "identity", "part", "x", "y")
      .select(timestamp_micros(col("tUs")).as("time"), col("identity"),
        col("part"), col("x"), col("y"), lit(epoch).as("epoch"))

  def blobDf(samples: Seq[(Long, Option[Double], Option[Double])]): DataFrame =
    samples.toDF("tUs", "x", "y")
      .select(timestamp_micros(col("tUs")).as("time"), col("x"), col("y"))

  def eventKey(s: java.sql.Timestamp, e: java.sql.Timestamp, d: Double,
      x: Double, y: Double) = (s.getTime, e.getTime, d, x, y)

  test("multi-poll blob speed ≡ batch blobSpeed after every poll") {
    val t0us = java.sql.Timestamp.valueOf("2024-08-01 08:00:00").getTime * 1000L
    // segment 2 starts 3,700 s after t0: a blob gap of over one hour
    val g2 = 185000
    def at(f: Int, dUs: Long = 0L, y: Option[Double] = Some(100.0)) =
      (t0us + f * durUs + dUs, Option(500.0 + f % 3 + (if (f >= g2) f % 7 else 0)), y)
    val samples = ((0 until 600) ++ (g2 until g2 + 300)).flatMap {
      case 200 => Seq(at(200), at(200, 5000L)) // < 10 ms pair: second dropped
      // chain: +5 ms dropped, +14 ms is 9 ms after it (dropped), frame 261
      // is 6 ms after that (dropped)
      case 260 => Seq(at(260), at(260, 5000L), at(260, 14000L))
      case 400 => Seq(at(400, -8000L), at(400, 4000L)) // two kept samples, one frame
      case 150 => Seq(at(150), (t0us + 150 * durUs + 10000L, None, Some(1.0)))
      case 330 => Seq(at(330), at(330, 10000L, y = Some(Double.NaN)))
      case f => Seq(at(f))
    }
    val cuts = Seq(
      t0us + 200 * durUs + 2000L, // between the two samples of a < 10 ms pair
      t0us + 260 * durUs + 10000L, // inside a dropped-sample chain
      t0us + 400 * durUs, // between the two samples of one frame
      t0us + 1800L * 1000000L, // inside the blob gap
      t0us + (g2 + 3) * durUs, // three samples after the gap
      t0us + (g2 + 400) * durUs)
    val base = Files.createTempDirectory("graft_blobspeed").toString
    val (poseDir, blobDir, work) = (s"$base/pose", s"$base/blob", s"$base/work")
    // the pose starts at the blob's t0, so both frame grids coincide
    poseDf(t0us, "", (0 until 100).flatMap(apartFrame(_, ("A", "B"))))
      .drop("epoch").write.parquet(s"$poseDir/c0")
    var lo = Long.MinValue
    cuts.zipWithIndex.foreach { case (cut, i) =>
      // every cut falls inside some frame's smoothing window
      blobDf(samples.filter(s => s._1 >= lo && s._1 < cut)).write.parquet(s"$blobDir/c$i")
      lo = cut
      FightStream.pollFights(spark, s"$poseDir/*", work, parts, p, t0us,
        Seq("A", "B"), cut, blobDir = Some(s"$blobDir/*"))
      val got = FightStream.blobSpeeds(spark, work)
        .select("frame", "blob_speed").as[(Long, Double)].collect()
      val want = Detectors.blobSpeed(blobDf(samples.filter(_._1 < cut)), p.fps, p.cm2px)
        .select("frame", "blob_speed").as[(Long, Double)].collect()
      assert(got.length === got.map(_._1).distinct.length, s"poll $i: one row per frame")
      assert(got.toMap === want.toMap, s"poll $i")
    }
  }

  test("multi-epoch condition 3: blob epoch ≡ batch with blob, blob-less epoch ≡ batch without") {
    val t0A = java.sql.Timestamp.valueOf("2024-06-01 12:00:00").getTime * 1000L
    val t0B = t0A + 1234L * 1000L // not a multiple of the frame duration
    // rig A: a pseudo-fight 300-370 with a static blob, and a fight 600-700
    // that runs into the epoch's last blob samples (blob moving); rig B has
    // no blob source and one fight 60-160
    val rowsA = (0 to 700).flatMap { f =>
      if ((f >= 300 && f <= 370) || f >= 600) fightFrame(f, ("A", "B"), 100.0 + f * 10.0)
      else apartFrame(f, ("A", "B"))
    }
    val rowsB = (0 to 300).flatMap { f =>
      if (f >= 60 && f <= 160) fightFrame(f, ("D", "C"), 100.0 + f * 10.0)
      else apartFrame(f, ("D", "C"))
    }
    val blobA = blobDf((0 to 700).map { f =>
      (t0A + f * durUs,
        Some(if (f >= 600) 100.0 + (f - 600) * 10.0 else 500.0), Some(100.0))
    })
    val poseA = poseDf(t0A, "rigA", rowsA)
    val poseB = poseDf(t0B, "rigB", rowsB)
    val base = Files.createTempDirectory("graft_blobmulti").toString
    val work = s"$base/work"
    val epochs = Seq(
      FightStream.FightEpoch("rigA", s"$base/poseA/*", t0A, Seq("A", "B"),
        blobDir = Some(s"$base/blob/*")),
      FightStream.FightEpoch("rigB", s"$base/poseB/*", t0B, Seq("D", "C")))
    val cuts = Seq(t0A + 450 * durUs, t0A + (700 + p.maxFrameGap + 5) * durUs)
    var lo = Long.MinValue
    cuts.zipWithIndex.foreach { case (cut, i) =>
      def slice(df: DataFrame) =
        df.filter(unix_micros(col("time")) >= lo && unix_micros(col("time")) < cut)
      slice(poseA).drop("epoch").write.parquet(s"$base/poseA/c$i")
      slice(poseB).drop("epoch").write.parquet(s"$base/poseB/c$i")
      slice(blobA).write.parquet(s"$base/blob/c$i")
      lo = cut
      FightStream.pollFightsMulti(spark, epochs, work, parts, p, cut)
    }
    val got = FightStream.fightEventsByEpoch(spark, work).collect()
      .map(e => e.epoch -> eventKey(e.start_ts, e.end_ts, e.duration_sec, e.end_x, e.end_y))
      .toSet
    def batch(blob: Option[DataFrame], epoch: String) =
      Detectors.detectFightsAllEpochs(poseA.unionByName(poseB), blob, parts, p)
        .filter(col("epoch") === epoch).collect()
        .map(r => epoch -> eventKey(r.getTimestamp(0), r.getTimestamp(1),
          r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSet
    val wantA = batch(Some(blobA.withColumn("epoch", lit("rigA"))), "rigA")
    val wantB = batch(None, "rigB")
    assert(wantA.size === 1, "condition 3 must suppress rig A's static-blob event")
    assert(wantB.size === 1)
    assert(got === wantA ++ wantB)
    // the set of epochs with a blob source is fixed per workDir
    val added = intercept[IllegalArgumentException] {
      FightStream.pollFightsMulti(spark,
        epochs.map(_.copy(blobDir = Some(s"$base/blob/*"))), work, parts, p, cuts.last)
    }
    assert(added.getMessage.contains("blob sources"))
    val dropped = intercept[IllegalArgumentException] {
      FightStream.pollFightsMulti(spark, epochs.map(_.copy(blobDir = None)),
        work, parts, p, cuts.last)
    }
    assert(dropped.getMessage.contains("blob sources"))
  }
}
