package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.behavior.Detectors
import graft.behavior.Detectors.FightParams
import FightStream.{FightEpoch, FilledRow, SilverRow, SlotRow}

/** The fight poller's driver stages against the Spark code they replace,
  * with no streaming query: the silver pivot ([[FightStream.silverRows]])
  * against [[Poll.prePivot]] + [[Poll.pivotFeatures]], and the tail
  * ([[FightStream.tailEvents]]) against [[Detectors.fightsTail]], on
  * randomized inputs plus the edge cases each rule has. Doubles compare
  * with `==`, NaN equal to NaN. */
class FightDriverSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fps = 50.0
  private val durUs = 20000L
  private val parts = Map("nose" -> "nose", "head" -> "head",
    "centroid" -> "spine2", "tail_base" -> "spine4")

  private def same(a: Double, b: Double) = a == b || (a.isNaN && b.isNaN)
  private def box(d: Option[Double]): java.lang.Double =
    d.map(java.lang.Double.valueOf).orNull

  /** The Spark pivot the poller ran before: one [[Poll.prePivot]] branch
    * per epoch, one [[Poll.pivotFeatures]] over the union, NaN for null. */
  private def sparkSilver(in: Seq[(FightEpoch, Seq[SlotRow])],
      parts: Map[String, String]): Seq[SilverRow] = {
    import Detectors.nn
    val branches = in.map { case (e, rs) =>
      val df = spark.createDataset(spark.sparkContext.parallelize(rs, 3))
        .select(timestamp_micros(col("tUs")).as("time"), col("identity"),
          col("part"), col("x"), col("y"))
      Poll.prePivot(df, e.epoch, parts, fps, e.t0us, e.ids)
    }
    Poll.pivotFeatures(branches.reduce(_.unionByName(_)), fps).select(
      col("epoch"), col("frame"), col("tsUs"),
      nn(col("m0_centroid_x")).as("c0x"), nn(col("m0_centroid_y")).as("c0y"),
      nn(col("m1_centroid_x")).as("c1x"), nn(col("m1_centroid_y")).as("c1y"),
      nn(col("cdist")).as("cdist"),
      nn(col("nh0")).as("nh0"), nn(col("nh1")).as("nh1"),
      nn(col("is0")).as("is0"), nn(col("is1")).as("is1"),
      col("isEmpty"), (col("nReal") === 0).as("isMarker"))
      .as[SilverRow].collect().toSeq
  }

  private def assertSameSilver(in: Seq[(FightEpoch, Seq[SlotRow])],
      parts: Map[String, String] = parts): Map[(String, Long), SilverRow] = {
    val want = sparkSilver(in, parts)
    val got = in.flatMap { case (e, rs) => FightStream.silverRows(e, rs, parts, fps) }
    def byKey(rs: Seq[SilverRow]) = rs.map(r => (r.epoch, r.frame) -> r).toMap
    assert(byKey(got).keySet === byKey(want).keySet)
    assert(got.length === want.length)
    in.foreach { case (e, _) =>
      val fs = got.filter(_.epoch == e.epoch).map(_.frame)
      assert(fs === fs.sorted, s"epoch ${e.epoch}: silver rows not in frame order")
    }
    val w = byKey(want)
    byKey(got).foreach { case (k, g) =>
      val r = w(k)
      val dg = Seq(g.c0x, g.c0y, g.c1x, g.c1y, g.cdist, g.nh0, g.nh1, g.is0, g.is1)
      val dr = Seq(r.c0x, r.c0y, r.c1x, r.c1y, r.cdist, r.nh0, r.nh1, r.is0, r.is1)
      assert(dg.zip(dr).forall { case (a, b) => same(a, b) } &&
        g.tsUs == r.tsUs && g.isEmpty == r.isEmpty && g.isMarker == r.isMarker,
        s"silver row $k: driver $g, Spark $r")
    }
    byKey(got)
  }

  private val epochA = FightEpoch("a", "", 1717243200000000L + 7777000L, Seq("A", "B"))
  // the pair sorts "M1" first: mouse 0 is M1 although it is listed second
  private val epochB = FightEpoch("b", "", 1717243200000000L + 1234567L, Seq("M2", "M1"))

  /** A row of `frame` on `e`'s grid, `dt` µs off the slot time (|dt| under
    * half a frame, so the frame id is unambiguous). */
  private def row(e: FightEpoch, frame: Long, id: String, part: String,
      x: Option[Double], y: Option[Double], dt: Long = 0L) =
    SlotRow(e.t0us + frame * durUs + dt, id, part, box(x), box(y), frame)
  private def marker(e: FightEpoch, frame: Long) =
    SlotRow(e.t0us + frame * durUs, null, null, null, null, frame)

  test("driver silver pivot: duplicate detections, ties, NaN, null, third identity, markers") {
    val e = epochA
    def r(f: Long, id: String, part: String, x: Option[Double], y: Option[Double], dt: Long = 0L) =
      row(e, f, id, part, x, y, dt)
    val rows = Seq(
      // frame 0: x ties → y decides; −0.0 and 0.0 tie → y decides
      r(0, "A", "spine2", Some(1.0), Some(9.0), 300), r(0, "A", "spine2", Some(1.0), Some(2.0), -200),
      r(0, "B", "spine2", Some(-0.0), Some(5.0)), r(0, "B", "spine2", Some(0.0), Some(4.0)),
      // frame 1: NaN is the greatest value, a null field the least
      r(1, "A", "spine2", Some(Double.NaN), Some(0.0)), r(1, "A", "spine2", Some(7.0), Some(1.0)),
      r(1, "B", "spine2", None, Some(3.0)), r(1, "B", "spine2", Some(-5.0), Some(1.0)),
      r(1, "A", "nose", Some(3.0), None), r(1, "A", "nose", Some(3.0), Some(Double.NaN)),
      // frame 2: a third identity is mouse 1; a non-skeleton part is dropped
      r(2, "C", "spine2", Some(4.0), Some(4.0)), r(2, "B", "spine2", Some(6.0), Some(6.0)),
      r(2, "A", "spine1", Some(-9.0), Some(-9.0), -9000),
      // frame 3: marker only; frame 4: a marker beside real rows
      marker(e, 3), marker(e, 4), r(4, "A", "head", Some(1.0), Some(1.0), 100),
      // frame 5: a null identity with a skeleton part is mouse 1 but not real
      r(5, null, "spine2", Some(2.0), Some(2.0), -500),
      // frame 6: only a dropped row → no slot
      r(6, "A", "tail", Some(1.0), Some(1.0)))
    val got = assertSameSilver(Seq(e -> rows))
    def s(f: Long) = got(("a", f))
    assert((s(0).c0x, s(0).c0y) === ((1.0, 2.0)))
    assert(s(0).c1y === 4.0)
    assert(s(0).tsUs === e.t0us - 200)
    assert((s(1).c0x, s(1).c0y, s(1).c1y) === ((7.0, 1.0, 3.0)) && s(1).c1x.isNaN)
    assert((s(2).c1x, s(2).c1y) === ((4.0, 4.0)))
    assert(s(3).isMarker && s(3).isEmpty && s(3).tsUs === e.t0us + 3 * durUs)
    assert(!s(4).isMarker && s(4).tsUs === e.t0us + 4 * durUs + 100)
    assert(s(5).isMarker && !s(5).isEmpty && s(5).c1x === 2.0 &&
      s(5).tsUs === e.t0us + 5 * durUs)
    assert(!got.contains(("a", 6L)))
  }

  test("driver silver pivot: two logical parts on one physical part") {
    val aliased = parts + ("head" -> "spine2")
    val rows = Seq(row(epochA, 0, "A", "spine2", Some(1.0), Some(2.0)),
      row(epochA, 0, "A", "nose", Some(5.0), Some(2.0)),
      row(epochA, 0, "B", "spine2", Some(3.0), Some(2.0)))
    assertSameSilver(Seq(epochA -> rows), aliased)
  }

  test("driver silver pivot ≡ Spark pivot on randomized slots over two epochs") {
    val rnd = new scala.util.Random(20261020L)
    val values = Seq(Some(1.0), Some(2.0), Some(-0.0), Some(0.0), Some(Double.NaN), None)
    def v() = if (rnd.nextInt(3) == 0) Some(rnd.nextInt(200) - 100.0 + rnd.nextDouble())
      else values(rnd.nextInt(values.length))
    val names = Seq("nose", "head", "spine2", "spine4", "spine1", null)
    def epochRows(e: FightEpoch): Seq[SlotRow] = {
      val ids = e.ids ++ Seq("C", null)
      (0L until 400L).filter(_ => rnd.nextInt(8) != 0).flatMap { f =>
        rnd.nextInt(6) match {
          case 0 => Seq(marker(e, f))
          case k =>
            val n = if (k == 1) 1 + rnd.nextInt(40) else 1 + rnd.nextInt(10)
            val rs = Seq.fill(n)(row(e, f,
              if (rnd.nextInt(12) == 0) ids(2 + rnd.nextInt(2)) else ids(rnd.nextInt(2)),
              names(if (rnd.nextInt(10) == 0) 4 + rnd.nextInt(2) else rnd.nextInt(4)),
              v(), v(), rnd.nextInt(19999) - 9999L))
            if (rnd.nextInt(4) == 0) rs :+ marker(e, f) else rs
        }
      }
    }
    val in = Seq(epochA, epochB).map(e => e -> rnd.shuffle(epochRows(e)))
    val got = assertSameSilver(in)
    assert(got.values.exists(_.isMarker) && got.values.exists(r => !r.isEmpty),
      "fixture: markers and real slots")
  }

  // ---- the tail -----------------------------------------------------------

  private val t0 = 1717243200000000L
  // 10 fps, so a second is 10 frames and spans stay short
  private val tp = FightParams(fps = 10.0, maxFrameGap = 6, minNumFrames = 3,
    maxFrameGapWEmptyFrames = 3)

  private def frow(f: Long, fight: Boolean, bridge: Boolean, c: (Double, Double, Double, Double),
      dt: Long = 0L) = FilledRow("", f, t0 + f * 100000L + dt, c._1, c._2, c._3, c._4,
    isFight = fight, isBridge = bridge, isMarker = false)

  /** Both tails over the same spans (`g` = `span<i>`), as sorted tuples. */
  private def tails(spans: Seq[IndexedSeq[FilledRow]], p: FightParams) = {
    val flagged = spans.zipWithIndex.flatMap { case (rs, i) => rs.map(r =>
      (s"span$i", r.frame, r.tsUs, r.c0x, r.c0y, r.c1x, r.c1y, r.isFight, r.isBridge)) }
      .toDF(Detectors.G, "frame", "tsUs", "c0x", "c0y", "c1x", "c1y", "isFight", "isBridge")
    val want = Detectors.fightsTail(flagged, p).collect().toSeq
      .map(f => (f.g, f.start_ts.getTime, f.end_ts.getTime, f.duration_sec, f.end_x, f.end_y))
    val got = spans.zipWithIndex.flatMap { case (rs, i) =>
      FightStream.tailEvents(s"span$i", rs, p) }
      .map(f => (f.epoch, f.start_ts.getTime, f.end_ts.getTime, f.duration_sec, f.end_x, f.end_y))
    (got.sortBy(e => (e._1, e._2)), want.sortBy(e => (e._1, e._2)))
  }

  private def assertSameTail(spans: Seq[IndexedSeq[FilledRow]], p: FightParams) = {
    val (got, want) = tails(spans, p)
    assert(got.length === want.length, s"driver $got, Spark $want")
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2 && g._3 == w._3 && g._4 == w._4 &&
        same(g._5, w._5) && same(g._6, w._6), s"driver $g, Spark $w")
    }
    got
  }

  // mouse centroids racing apart and back: far above every speed threshold
  private def fast(f: Long) = if (f % 2 == 0) (100.0, 100.0, 110.0, 100.0)
    else (300.0, 300.0, 310.0, 300.0)
  private val still = (100.0, 100.0, 110.0, 100.0)

  /** `cands` and `bridges` flagged in a dense slice over [lo, hi]. */
  private def span(lo: Long, hi: Long, cands: Set[Long], bridges: Set[Long],
      c: Long => (Double, Double, Double, Double) = fast) =
    (lo to hi).map(f => frow(f, cands(f), bridges(f), c(f)))

  test("driver tail: minimum size, bridge chains to a straggler, the one-second rule") {
    val spans = Seq(
      // 0: three candidates (below the minimum of four), bridged to 1.3 s
      span(9, 30, (10L to 12L).toSet, (13L to 23L).toSet),
      // 1: four candidates, bridged to 1.3 s → one event
      span(9, 30, (10L to 13L).toSet, (14L to 23L).toSet),
      // 2: a kept cluster, a bridge chain, a straggler cluster beyond the
      //    phase-1 gap → one regrouped event from 10 to 27
      span(9, 30, (10L to 13L).toSet ++ (24L to 27L), Set(16L, 19L, 22L)),
      // 3: exactly 1.0 s (frames 10 to 20) → no event; 4: 1.1 s → one
      span(9, 22, (10L to 13L).toSet, (14L to 20L).toSet),
      span(9, 22, (10L to 13L).toSet, (14L to 21L).toSet),
      // 5: too slow for the speed kernel
      span(9, 30, (10L to 13L).toSet, (14L to 23L).toSet, _ => still),
      // 6: the straggler of span 2 without the bridge chain → two sessions
      span(9, 30, (10L to 13L).toSet ++ (24L to 27L), Set.empty))
    val got = assertSameTail(spans, tp)
    assert(got.map(_._1) === Seq("span1", "span2", "span4"))
    assert(got.find(_._1 == "span2").map(e => (e._2, e._3)) ===
      Some(((t0 + 10 * 100000L) / 1000, (t0 + 27 * 100000L) / 1000)))
  }

  test("driver tail: spans with fewer than three kernel rows") {
    val p = tp.copy(minNumFrames = 1)
    val spans = Seq(
      // the slice starts at firstF: two kernel rows → no event
      (10L to 11L).map(f => frow(f, fight = true, bridge = false, fast(f))),
      // one frame more on the left: three kernel rows, 0.1 s → no event
      (9L to 11L).map(f => frow(f, f >= 10, bridge = false, fast(f))),
      // a long run of single frames: kernel rows from firstF − 1
      (9L to 30L).map(f => frow(f, f >= 10 && f <= 11 || f == 14, f > 11 && f <= 22, fast(f))))
    assertSameTail(spans, p)
    assertSameTail(spans, p.copy(minNumFrames = 0))
  }

  test("driver tail ≡ Spark tail on randomized flagged spans") {
    val rnd = new scala.util.Random(998L)
    def coord() = if (rnd.nextInt(15) == 0) Double.NaN else rnd.nextInt(400).toDouble
    val spans = (0 until 60).map { _ =>
      val lo = rnd.nextInt(1000).toLong
      val n = 20 + rnd.nextInt(60)
      val slow = rnd.nextInt(4) == 0
      var kind = 0
      var left = 0
      (lo until lo + n).filter(_ => rnd.nextInt(25) != 0).map { f =>
        if (left == 0) { kind = rnd.nextInt(3); left = 1 + rnd.nextInt(7) }
        left -= 1
        val c = if (slow) (100.0 + rnd.nextDouble(), 100.0, 110.0, 100.0)
          else (coord(), coord(), coord(), coord())
        frow(f, kind == 1, kind == 2, c, if (rnd.nextInt(3) == 0) rnd.nextInt(40000) - 20000L else 0L)
      }
    }
    val got = assertSameTail(spans, tp)
    assert(got.length > 5, "fixture: the random spans must emit events")
    assertSameTail(spans, tp.copy(minNumFrames = 1, maxFrameGap = 2, maxFrameGapWEmptyFrames = 5))
  }

  test("driver-written events read back like Spark-written ones") {
    import FightStream.EpochFightEvent
    def ts(us: Long) = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    val rows = Seq(
      // sub-millisecond
      EpochFightEvent("", ts(1727773200123456L), ts(1727773201000001L), 0.877, Double.NaN, 12.5),
      // pre-1970, a non-ASCII key
      EpochFightEvent("Käfig-β", ts(-1234567L), ts(-1L), 1.234567,
        Double.PositiveInfinity, Double.NegativeInfinity),
      EpochFightEvent("rig 2", ts(-86400000000L * 365 * 30 + 7L), ts(0L), 0.0, -0.0, Double.NaN),
      EpochFightEvent("", ts(1727773260000999L), ts(1727773261999999L), 1.999, 3.25, Double.MaxValue))
    def key(e: EpochFightEvent) = (e.epoch, e.start_ts.getTime, e.start_ts.getNanos,
      e.end_ts.getTime, e.end_ts.getNanos, java.lang.Double.doubleToLongBits(e.duration_sec),
      java.lang.Double.doubleToLongBits(e.end_x), java.lang.Double.doubleToLongBits(e.end_y))
    val want = rows.map(key).sorted
    val base = java.nio.file.Files.createTempDirectory("graft_events").toString
    def read(work: String) =
      FightStream.fightEventsByEpoch(spark, s"$base/$work").collect().map(key).sorted.toSeq
    spark.createDataFrame(rows).write.parquet(s"$base/spark/events/b0")
    Poll.writeEvents(spark, s"$base/driver/events/b0", FightStream.eventSchema, rows)
    assert(read("spark") === want)
    assert(read("driver") === want)
    // the driver file: one part file, no temp dir left, µs timestamps
    val driverDir = new java.io.File(s"$base/driver/events")
    assert(driverDir.list().toSeq === Seq("b0"))
    val parts = new java.io.File(driverDir, "b0").list().filterNot(_.startsWith("."))
    assert(parts.toSeq === Seq("part-00000.parquet"))
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$base/driver/events/b0/part-00000.parquet"),
        spark.sparkContext.hadoopConfiguration))
    val schema = footer.getFileMetaData.getSchema
    try assert(schema.getType(schema.getFieldIndex("start_ts")).toString ===
      "optional int64 start_ts (TIMESTAMP(MICROS,true))")
    finally footer.close()
    // a replay replaces its dir whole
    Poll.writeEvents(spark, s"$base/driver/events/b0", FightStream.eventSchema, rows.take(1))
    assert(read("driver") === Seq(key(rows.head)))
    // a legacy Spark-written b0 beside a driver-written b1: one scan reads both
    spark.createDataFrame(rows.take(2)).write.parquet(s"$base/mixed/events/b0")
    Poll.writeEvents(spark, s"$base/mixed/events/b1", FightStream.eventSchema, rows.drop(2))
    assert(read("mixed") === want)
  }
}
