package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.{Tables, TestSpark}
import graft.operators.Sessionize
import java.nio.file.Files

/** T1/T2/T6 coverage: exactly-once incremental file ingest and
  * batch ≡ streaming session assignment parity. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("session_window sessionization ≡ batch cumulative-sum Sessionize") {
    val events = Tables.events(spark, TestSpark.sfDir)
      .select("user_id", "ts", "event_id")
    val gapUs = 86400L * 1000000L
    // batch: cumulative-sum session ids → per-session (user, start, n)
    val batch = Sessionize.sessionize(events, "ts", Seq("user_id"), gapUs,
        tieBreak = Seq("event_id"))
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("session_start"), count(lit(1)).as("n_events"))
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    // streaming-flavored: session_window over the same (batch) frame
    val windowed = Streaming.sessionCounts(events, "ts", Seq("user_id"), "1 day")
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(batch === windowed)
  }

  test("streaming session_window over MemoryStream matches the batch answer") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = Seq(
      // user 1: two sessions separated by > 10s
      (1L, 1000L), (1L, 3000L), (1L, 5000L), (1L, 30000L), (1L, 31000L),
      // user 2: one session
      (2L, 2000L), (2L, 4000L))
    val stream = MemoryStream[(Long, Long)]
    stream.addData(rows)
    val df = stream.toDF().toDF("user_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))
    val agg = Streaming.sessionCounts(df, "ts", Seq("user_id"), "10 seconds")
    val q = agg.writeStream.format("memory").queryName("sess_par")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sess_par")
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
    val batchDf = rows.toDF("user_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))
    val want = Sessionize.sessionize(batchDf, "ts", Seq("user_id"), 10000000L)
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("s"), count(lit(1)).as("n"))
      .select("user_id", "s", "n")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
    assert(got === want)
    assert(got === Set((1L, 1000L, 3L), (1L, 30000L, 2L), (2L, 2000L, 2L)))
  }

  test("dedupWithinWatermark drops row-level replays across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, Long)]
    val df = stream.toDF().toDF("event_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))
    val deduped = Streaming.dedupWithinWatermark(df, "ts", Seq("event_id"), "1 minute")
    val q = deduped.writeStream.format("memory").queryName("dedup_wm")
      .outputMode("append").start()
    try {
      stream.addData((1L, 1000L), (2L, 2000L), (1L, 1000L)) // in-batch dup
      q.processAllAvailable()
      stream.addData((2L, 2000L), (3L, 3000L)) // cross-batch replay of 2
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_wm").select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(1L, 2L, 3L))
  }

  test("statefulFfill carries the last value across micro-batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(String, Long, Option[Double])]
    val filled = Streaming.statefulFfill(
      stream.toDS().map { case (k, t, v) => Streaming.FillRow(k, t, v) })
    val q = filled.writeStream.format("memory").queryName("ffill_state")
      .outputMode("append").start()
    try {
      // batch 1: key a ends with 2.0 known; key b stays all-null
      stream.addData(("a", 1L, Some(1.0)), ("a", 2L, None), ("a", 3L, Some(2.0)),
        ("b", 1L, None))
      q.processAllAvailable()
      // batch 2: a's leading nulls must fill with 2.0 FROM STATE; b still null
      stream.addData(("a", 4L, None), ("a", 5L, None), ("a", 6L, Some(7.0)),
        ("b", 2L, None))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ffill_state").as[Streaming.FillRow].collect()
      .map(r => (r.key, r.tsUs) -> r.v).toMap
    assert(got(("a", 2L)) === Some(1.0))
    assert(got(("a", 4L)) === Some(2.0), "carry across the batch boundary")
    assert(got(("a", 5L)) === Some(2.0))
    assert(got(("a", 6L)) === Some(7.0))
    assert(got(("b", 1L)) === None)
    assert(got(("b", 2L)) === None, "no spurious cross-key carry")
  }

  test("T3: whole-range sessionization has no 24h-boundary loss (reference caveat)") {
    import spark.implicits._
    // a session straddling midnight: events at 23:59:50, 23:59:55, 00:00:05
    val rows = Seq(
      (1L, "2024-03-01 23:59:50"), (1L, "2024-03-01 23:59:55"),
      (1L, "2024-03-02 00:00:05"),
      (1L, "2024-03-02 12:00:00")) // separate later session
      .toDF("user_id", "s").withColumn("ts", to_timestamp(col("s")))
    val gapUs = 60L * 1000000L
    // whole-range: the straddling events are ONE session (no boundary loss)
    val whole = Sessionize.sessionize(rows, "ts", Seq("user_id"), gapUs)
      .groupBy("session_id").count().collect().map(_.getLong(1)).sorted
    assert(whole === Array(1L, 3L))
    // the reference's manual 24h split loses the cross-boundary merge
    // (social_behavior_detection/README.md caveat); replaying that split
    // shows the artifact our shuffle partitioning removes
    val byDay = rows.withColumn("day", to_date(col("ts")))
    val split = Sessionize.sessionize(byDay, "ts", Seq("user_id", "day"), gapUs)
      .groupBy("day", "session_id").count().collect().map(_.getLong(2)).sorted
    assert(split === Array(1L, 1L, 2L), "day-split artificially cuts the session")
  }

  test("incremental fight detection ≡ batch detectFights on a two-chunk fixture") {
    import spark.implicits._
    import graft.behavior.Detectors
    val parts = Map("nose" -> "nose", "head" -> "head",
      "centroid" -> "spine2", "tail_base" -> "spine4")
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 12:00:00")
    val t0us = t0.getTime * 1000L
    def mouse(frame: Int, id: String, cx: Double, cy: Double, dir: Double,
        noseHead: Double = 2.0) = Seq(
      (frame, id, "nose", cx + dir * (8 + noseHead), cy),
      (frame, id, "head", cx + dir * 8, cy),
      (frame, id, "spine2", cx, cy),
      (frame, id, "spine4", cx - dir * 10, cy))
    // non-skeleton body part: present in the raw stream, must not shift
    // per-slot timestamps (batch filters to skeleton parts before the pivot)
    def extraPart(frame: Int, id: String, cx: Double, cy: Double) =
      Seq((frame, id, "tail_tip", cx - 20.0, cy))
    val fight = (0 to 260).flatMap { f =>
      if (f >= 100 && f <= 200) {
        val x = 100.0 + (f - 100) * 10.0
        mouse(f, "A", x, 100, 1, noseHead = 10.0) ++
          mouse(f, "B", x + 3, 104, 1, noseHead = 10.0) ++
          extraPart(f, "A", x, 100)
      } else if (f >= 210 && f <= 220) {
        // close centroids, BOTH noses undetected: nh0/nh1 are NaN, so cond2
        // must be FALSE (numpy semantics) — under Spark's NaN-compares-
        // greatest a bare `>` would flag these frames and stretch the event
        mouse(f, "A", 100, 100, 1).filterNot(_._3 == "nose") ++
          mouse(f, "B", 103, 104, 1).filterNot(_._3 == "nose")
      } else mouse(f, "A", 100, 100, 1) ++ mouse(f, "B", 400, 400, 1) ++
        extraPart(f, "A", 100, 100)
    }
    // off-grid jitter (0-6 ms, zero at frame 0): event timestamps must come
    // from the REAL pose times, not the frame-slot grid — a frontier marker
    // sharing a slot with real data must not replace the slot's min time.
    // tail_tip rows land at the slot start, EARLIER than the skeleton rows:
    // if either side let a non-skeleton row into the per-slot min the event
    // timestamps would shift.
    def poseDf(rows: Seq[(Int, String, String, Double, Double)]) =
      rows.map { case (f, id, part, x, y) =>
        val jit = if (part == "tail_tip") 0L else f % 7
        (new java.sql.Timestamp(t0.getTime + f * 20L + jit), id, part, x, y)
      }.toDF("time", "identity", "part", "x", "y")
    val base = Files.createTempDirectory("graft_fightstream").toString
    val poseDir = s"$base/pose"; val work = s"$base/work"
    val p = Detectors.FightParams()
    // chunk 1 lands: frames 0..150 — the frontier stops MID-FIGHT
    poseDf(fight.filter(_._1 <= 150)).write.parquet(s"$poseDir/chunk1")
    FightStream.pollFights(spark, s"$poseDir/*", work, parts, p, t0us,
      Seq("A", "B"), t0us + 151L * 20000L)
    assert(FightStream.fightEvents(spark, work).collect().isEmpty,
      "fight still open at the mid-event frontier: nothing may be emitted")
    // chunk 2 lands; final poll with the frontier past the gap horizon
    poseDf(fight.filter(_._1 > 150)).write.parquet(s"$poseDir/chunk2")
    // flush horizon = the SUPER-session gap (max of the two batch gaps)
    FightStream.pollFights(spark, s"$poseDir/*", work, parts, p, t0us,
      Seq("A", "B"), t0us + (260L + p.maxFrameGap + 5) * 20000L)
    def key(e: Detectors.FightEvent) =
      (e.start_ts.getTime, e.end_ts.getTime, e.duration_sec, e.end_x, e.end_y)
    val stream = FightStream.fightEvents(spark, work).collect().map(key).toSet
    val batch = Detectors.detectFights(poseDf(fight), None, parts, p)
      .collect().map(key).toSet
    assert(batch.size === 1)
    // end = frame 200's min SKELETON pose time (jitter 200%7=4): a tail_tip
    // row in the slot min would give +0; NaN cond2 flagging the noseless
    // close frames 210-220 would push the end to frame 220
    assert(batch.head._2 === t0.getTime + 200L * 20L + 4L)
    assert(stream === batch)
    // idempotency: an empty re-poll emits nothing new (exactly-once)
    FightStream.pollFights(spark, s"$poseDir/*", work, parts, p, t0us,
      Seq("A", "B"), t0us + (260L + p.maxFrameGap + 20) * 20000L)
    assert(FightStream.fightEvents(spark, work).collect().map(key).toSet === batch)
  }

  test("streaming detector matches batch on camera gaps, stragglers, separations") {
    import spark.implicits._
    import graft.behavior.Detectors
    val parts = Map("nose" -> "nose", "head" -> "head",
      "centroid" -> "spine2", "tail_base" -> "spine4")
    val t0 = java.sql.Timestamp.valueOf("2024-07-01 08:00:00")
    val t0us = t0.getTime * 1000L
    def mouse(frame: Int, id: String, cx: Double, cy: Double,
        noseHead: Double = 2.0) = Seq(
      (frame, id, "nose", cx + 8 + noseHead, cy),
      (frame, id, "head", cx + 8, cy),
      (frame, id, "spine2", cx, cy),
      (frame, id, "spine4", cx - 10, cy))
    def close(f: Int, fighting: Boolean) = {
      val x = 100.0 + f * 10.0
      mouse(f, "A", x, 100, noseHead = if (fighting) 10.0 else 2.0) ++
        mouse(f, "B", x + 3, 104, noseHead = if (fighting) 10.0 else 2.0)
    }
    def apart(f: Int) = mouse(f, "A", 100, 100) ++ mouse(f, "B", 4000, 4000)
    val rows = (0 to 500).flatMap { f =>
      if (f >= 100 && f <= 140) close(f, fighting = true)
      // 141-155: CAMERA GAP mid-fight (no rows at all) — the batch dense
      // spine bridges it; the stream must synthesize the missing slots
      else if (f >= 141 && f <= 155) Nil
      else if (f >= 156 && f <= 159) close(f, fighting = true)
      // 160-165: brief separation (observed, non-candidate interior
      // frames) — present in the kernel span on both sides
      else if (f >= 160 && f <= 165) apart(f)
      else if (f >= 166 && f <= 200) close(f, fighting = true)
      // 201-419: long camera gap with the mice last seen CLOSE → 219
      // consecutive synthesized bridge frames chain the session onward
      else if (f >= 201 && f <= 419) Nil
      // 420-423: raw candidate straggler cluster, 220 frames past the last
      // kept candidate: phase-1 (gap 200) separates it, min-size 6 drops
      // it from kept1 — it must NOT extend the event even though the
      // bridge chain reaches it (the old single-phase stream included it)
      else if (f >= 420 && f <= 423) close(f, fighting = true)
      else apart(f)
    }
    def poseDf(rs: Seq[(Int, String, String, Double, Double)]) =
      rs.map { case (f, id, part, x, y) =>
        (new java.sql.Timestamp(t0.getTime + f * 20L + f % 7), id, part, x, y)
      }.toDF("time", "identity", "part", "x", "y")
    val base = Files.createTempDirectory("graft_fightstream2").toString
    val poseDir = s"$base/pose"; val work = s"$base/work"
    val p = Detectors.FightParams()
    poseDf(rows).write.parquet(s"$poseDir/chunk1")
    FightStream.pollFights(spark, s"$poseDir/*", work, parts, p, t0us,
      Seq("A", "B"), t0us + (500L + p.maxFrameGap + 5) * 20000L)
    def key(e: Detectors.FightEvent) =
      (e.start_ts.getTime, e.end_ts.getTime, e.duration_sec, e.end_x, e.end_y)
    val stream = FightStream.fightEvents(spark, work).collect().map(key).toSet
    val batch = Detectors.detectFights(poseDf(rows), None, parts, p)
      .collect().map(key).toSet
    assert(batch.size === 1)
    // the event must end at the LAST bridge frame (419, grid timestamp):
    // the straggler cluster is phase-1-dropped, bridges chain to 419
    assert(batch.head._2 === t0.getTime + 419L * 20L)
    assert(stream === batch)
  }

  test("randomized differential: pollFights ≡ detectFights over mixed segments") {
    import spark.implicits._
    import graft.behavior.Detectors
    import scala.util.Random
    val parts = Map("nose" -> "nose", "head" -> "head",
      "centroid" -> "spine2", "tail_base" -> "spine4")
    val p = Detectors.FightParams()
    for (seed <- Seq(11, 23)) {
      val rnd = new Random(seed)
      val t0 = java.sql.Timestamp.valueOf("2024-09-01 06:00:00")
      val t0us = t0.getTime * 1000L
      def mouse(f: Int, id: String, cx: Double, cy: Double, noseHead: Double,
          dropNose: Boolean) = {
        val all = Seq(
          (f, id, "nose", cx + 8 + noseHead, cy),
          (f, id, "head", cx + 8, cy),
          (f, id, "spine2", cx, cy),
          (f, id, "spine4", cx - 10, cy))
        if (dropNose) all.filterNot(_._3 == "nose") else all
      }
      // random segment walk: states chosen so frontiers land in 'apart'
      // segments (camera gaps spanning a frontier are the documented caveat)
      val segs = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
      segs += (("apart", 10)) // frame 0 anchor
      var total = 10
      while (total < 1100) {
        val st = Seq("apart", "fight", "quiet", "gap", "partial")(rnd.nextInt(5))
        val len = 20 + rnd.nextInt(120)
        segs += ((st, len)); total += len
      }
      var f0 = 0
      val rows = segs.flatMap { case (st, len) =>
        val out = (f0 until f0 + len).flatMap { f =>
          val x = 100.0 + f * 7.0
          st match {
            case "apart" =>
              mouse(f, "A", 100, 100, 2.0, dropNose = false) ++
                mouse(f, "B", 4000, 4000, 2.0, dropNose = false)
            case "fight" => // close, contorted, moving
              mouse(f, "A", x, 100, 10.0, dropNose = false) ++
                mouse(f, "B", x + 3, 104, 10.0, dropNose = false)
            case "quiet" => // close but compact poses (cond2 false)
              mouse(f, "A", x, 100, 2.0, dropNose = false) ++
                mouse(f, "B", x + 3, 104, 2.0, dropNose = false)
            case "gap" => Nil // camera dropout
            case _ => // partial: close, noses undetected (NaN cond2 terms)
              mouse(f, "A", x, 100, 10.0, dropNose = true) ++
                mouse(f, "B", x + 3, 104, 10.0, dropNose = true)
          }
        }
        f0 += len
        out
      }.toSeq
      val maxF = f0
      def poseDf(rs: Seq[(Int, String, String, Double, Double)]) =
        rs.map { case (f, id, part, x, y) =>
          (new java.sql.Timestamp(t0.getTime + f * 20L + f % 5), id, part, x, y)
        }.toDF("time", "identity", "part", "x", "y")
      // poll cuts inside 'apart' segments (mid-fight cut is covered by the
      // dedicated two-chunk test; frontier-in-gap is the documented caveat)
      val apartCuts = {
        var acc = 0
        segs.collect { case (st, len) =>
          val mid = acc + len / 2; acc += len
          (st, mid)
        }.filter(_._1 == "apart").map(_._2).filter(c => c > 50 && c < maxF - 50)
      }
      val cuts = (apartCuts.take(2) :+ (maxF + p.maxFrameGap.toInt + 5)).sorted
      val base = Files.createTempDirectory(s"graft_rand$seed").toString
      val poseDir = s"$base/pose"; val work = s"$base/work"
      var prev = 0
      cuts.zipWithIndex.foreach { case (cut, i) =>
        val chunk = rows.filter(r => r._1 >= prev && r._1 < cut)
        if (chunk.nonEmpty) poseDf(chunk).write.parquet(s"$poseDir/chunk$i")
        prev = cut
        FightStream.pollFights(spark, s"$poseDir/*", work, parts, p, t0us,
          Seq("A", "B"), t0us + cut.toLong * 20000L)
      }
      def key(e: Detectors.FightEvent) =
        (e.start_ts.getTime, e.end_ts.getTime, e.duration_sec, e.end_x, e.end_y)
      val stream = FightStream.fightEvents(spark, work).collect().map(key).toSet
      val batch = Detectors.detectFights(poseDf(rows), None, parts, p)
        .collect().map(key).toSet
      assert(stream === batch, s"seed=$seed segs=${segs.toList}")
      info(s"seed=$seed events=${batch.size}")
    }
  }

  test("streaming blob-speed condition 3 matches batch detectFights(blob=Some)") {
    import spark.implicits._
    import graft.behavior.Detectors
    val parts = Map("nose" -> "nose", "head" -> "head",
      "centroid" -> "spine2", "tail_base" -> "spine4")
    val t0 = java.sql.Timestamp.valueOf("2024-08-01 08:00:00")
    val t0us = t0.getTime * 1000L
    def mouse(frame: Int, id: String, cx: Double, cy: Double, noseHead: Double) =
      Seq((frame, id, "nose", cx + 8 + noseHead, cy),
        (frame, id, "head", cx + 8, cy),
        (frame, id, "spine2", cx, cy),
        (frame, id, "spine4", cx - 10, cy))
    def close(f: Int) = {
      val x = 100.0 + f * 10.0
      mouse(f, "A", x, 100, 10.0) ++ mouse(f, "B", x + 3, 104, 10.0)
    }
    def apart(f: Int) = mouse(f, "A", 100, 100, 2.0) ++ mouse(f, "B", 4000, 4000, 2.0)
    // fight at 100-200 (blob moving), PSEUDO-fight at 450-520: identical
    // close fighting poses but a STATIC blob — only condition 3 tells the
    // two apart, so wiring it wrong yields a phantom second event
    val rows = (0 to 700).flatMap { f =>
      if ((f >= 100 && f <= 200) || (f >= 450 && f <= 520)) close(f) else apart(f)
    }
    val poseDf = rows.map { case (f, id, part, x, y) =>
      (new java.sql.Timestamp(t0.getTime + f * 20L), id, part, x, y)
    }.toDF("time", "identity", "part", "x", "y")
    val blobDf = (0 to 700).map { f =>
      val x = if (f >= 100 && f <= 200) 100.0 + (f - 100) * 10.0 else 500.0
      (new java.sql.Timestamp(t0.getTime + f * 20L), x, 100.0)
    }.toDF("time", "x", "y")
    val base = Files.createTempDirectory("graft_fightstream3").toString
    val poseDir = s"$base/pose"; val blobDir = s"$base/blob"; val work = s"$base/work"
    val p = Detectors.FightParams()
    poseDf.write.parquet(s"$poseDir/chunk1")
    blobDf.write.parquet(s"$blobDir/chunk1")
    def key(e: Detectors.FightEvent) =
      (e.start_ts.getTime, e.end_ts.getTime, e.duration_sec, e.end_x, e.end_y)
    // fixture sanity: WITHOUT the blob condition there are two events
    val noBlob = Detectors.detectFights(poseDf, None, parts, p).collect()
    assert(noBlob.length === 2, "fixture must produce a phantom without cond3")
    val batch = Detectors.detectFights(poseDf, Some(blobDf), parts, p)
      .collect().map(key).toSet
    assert(batch.size === 1, "condition 3 must suppress the static-blob event")
    FightStream.pollFights(spark, s"$poseDir/*", work, parts, p, t0us,
      Seq("A", "B"), t0us + (700L + p.maxFrameGap + 5) * 20000L,
      blobDir = Some(s"$blobDir/*"))
    val stream = FightStream.fightEvents(spark, work).collect().map(key).toSet
    assert(stream === batch)
  }

  test("file-source incremental ingest is exactly-once across re-runs (T1/T2/S9)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stream").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    // batch 1 arrives
    Seq(1L, 2L, 3L).toDF("id").write.parquet(s"$in/chunk1")
    spark.read.parquet(s"$in/chunk1") // materialize dir listing
    Streaming.drainToParquet(
      Streaming.fileStream(spark, s"$in/*", schema), out, ckpt)
    val after1 = spark.read.parquet(out).as[Long].collect().sorted
    assert(after1 === Array(1L, 2L, 3L))
    // batch 2 arrives; re-run the same drain (the reference's 30-min poll)
    Seq(4L, 5L).toDF("id").write.parquet(s"$in/chunk2")
    Streaming.drainToParquet(
      Streaming.fileStream(spark, s"$in/*", schema), out, ckpt)
    val after2 = spark.read.parquet(out).as[Long].collect().sorted
    assert(after2 === Array(1L, 2L, 3L, 4L, 5L), "new chunk ingested once")
    // re-run with nothing new: no duplicates (idempotency guard S9)
    Streaming.drainToParquet(
      Streaming.fileStream(spark, s"$in/*", schema), out, ckpt)
    val after3 = spark.read.parquet(out).as[Long].collect().sorted
    assert(after3 === Array(1L, 2L, 3L, 4L, 5L))
  }

  /** A 50 fps two-mouse pose stream: frames in `fight` close, contorted and
    * moving; every other frame apart. Frame f lands at t0 + f·20 ms + f % 7 ms. */
  object FightFixture {
    import graft.behavior.Detectors
    import spark.implicits._
    val parts = Map("nose" -> "nose", "head" -> "head",
      "centroid" -> "spine2", "tail_base" -> "spine4")
    val p = Detectors.FightParams()
    val t0 = java.sql.Timestamp.valueOf("2024-10-01 09:00:00")
    val t0us = t0.getTime * 1000L
    def mouse(f: Int, id: String, cx: Double, cy: Double, noseHead: Double) = Seq(
      (f, id, "nose", cx + 8 + noseHead, cy), (f, id, "head", cx + 8, cy),
      (f, id, "spine2", cx, cy), (f, id, "spine4", cx - 10, cy))
    def rows(maxF: Int, fight: Range, minF: Int = 0) = (minF to maxF).flatMap { f =>
      if (fight.contains(f)) {
        val x = 100.0 + (f - fight.start) * 10.0
        mouse(f, "A", x, 100, 10.0) ++ mouse(f, "B", x + 3, 104, 10.0)
      } else mouse(f, "A", 100, 100, 2.0) ++ mouse(f, "B", 4000, 4000, 2.0)
    }
    def poseDf(rs: Seq[(Int, String, String, Double, Double)]) =
      rs.map { case (f, id, part, x, y) =>
        (new java.sql.Timestamp(t0.getTime + f * 20L + f % 7), id, part, x, y)
      }.toDF("time", "identity", "part", "x", "y")
    /** Blob moving with the fight, static elsewhere. */
    def blobDf(lo: Int, hi: Int, fight: Range) = (lo until hi).map { f =>
      (new java.sql.Timestamp(t0.getTime + f * 20L),
        if (fight.contains(f)) 100.0 + (f - fight.start) * 10.0 else 500.0, 100.0)
    }.toDF("time", "x", "y")
    def key(e: Detectors.FightEvent) =
      (e.start_ts.getTime, e.end_ts.getTime, e.duration_sec, e.end_x, e.end_y)
    /** Deliver the rows of frames [from, cut) and poll with the frontier at
      * frame `cut`. */
    def deliverAndPoll(base: String, rs: Seq[(Int, String, String, Double, Double)],
        from: Int, cut: Int, blob: Option[Range] = None): Unit = {
      deliver(base, rs, from, cut, blob)
      pollAt(base, cut, blob.isDefined)
    }
    def deliver(base: String, rs: Seq[(Int, String, String, Double, Double)],
        from: Int, cut: Int, blob: Option[Range]): Unit = {
      val chunk = rs.filter(r => r._1 >= from && r._1 < cut)
      if (chunk.nonEmpty) poseDf(chunk).write.parquet(s"$base/pose/c$cut")
      blob.foreach(fight => blobDf(from, cut, fight).write.parquet(s"$base/blob/c$cut"))
    }
    def pollAt(base: String, cut: Int, blob: Boolean): Unit =
      FightStream.pollFights(spark, s"$base/pose/*", s"$base/work", parts, p, t0us,
        Seq("A", "B"), t0us + cut * 20000L, if (blob) Some(s"$base/blob/*") else None)
    def events(base: String) =
      FightStream.fightEvents(spark, s"$base/work").collect().map(key).toSet
  }

  test("a fight is emitted by the first poll whose frontier reaches its horizon") {
    import FightFixture._
    // the super-session's last candidate frame is 200
    val fight = 100 to 200
    val rs = rows(450, fight)
    val horizon = 200 + math.max(p.maxFrameGap, p.maxFrameGapWEmptyFrames).toInt + 2
    val base = Files.createTempDirectory("graft_horizon").toString
    deliverAndPoll(base, rs, 0, 250)
    assert(events(base).isEmpty, "mid-stream frontier")
    deliverAndPoll(base, rs, 250, horizon - 1)
    assert(events(base).isEmpty, "one frame short of the horizon")
    deliverAndPoll(base, rs, horizon - 1, horizon)
    val batch = graft.behavior.Detectors.detectFights(poseDf(rs), None, parts, p)
      .collect().map(key).toSet
    assert(batch.size === 1)
    assert(events(base) === batch, "emitted by the poll that reaches the horizon")
  }

  test("a poll that dies after its writes replays to identical state and events") {
    import FightFixture._
    val fight = 100 to 200
    val rs = rows(700, fight)
    val cuts = Seq(150, 450, 700) // the fight closes in the second poll
    val ref = Files.createTempDirectory("graft_replay_ref").toString
    cuts.zip(0 +: cuts).foreach { case (cut, from) =>
      deliverAndPoll(ref, rs, from, cut, Some(fight)) }
    val crash = Files.createTempDirectory("graft_replay_crash").toString
    deliverAndPoll(crash, rs, 0, cuts(0), Some(fight))
    FightStream.afterBatchWrites = (work, id, _) =>
      if (work == s"$crash/work" && id == 1L) throw new IllegalStateException("injected")
    try intercept[Exception](deliverAndPoll(crash, rs, cuts(0), cuts(1), Some(fight)))
    finally FightStream.afterBatchWrites = (_, _, _) => ()
    def bytes(base: String, rel: String) =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$base/work/$rel")).toSeq
    def rowsOf(dir: String) =
      spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    val (stateAtCrash, eventsAtCrash) =
      (bytes(crash, "state/b1"), rowsOf(s"$crash/work/events/b1"))
    assert(eventsAtCrash.nonEmpty, "the failed attempt wrote its events")
    val snap1 = new java.io.File(s"$crash/work/state/b1")
    val writtenAtCrash = snap1.lastModified
    // the next poll replays batch 1 from the snapshot below it, then runs
    // batch 2 over the new delivery
    deliverAndPoll(crash, rs, cuts(1), cuts(2), Some(fight))
    assert(snap1.lastModified > writtenAtCrash, "batch 1 was replayed")
    assert(bytes(crash, "state/b1") === stateAtCrash)
    assert(rowsOf(s"$crash/work/events/b1") === eventsAtCrash)
    def names(base: String, sub: String) = new java.io.File(s"$base/work/$sub")
      .listFiles().map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq
    assert(names(crash, "state") === names(ref, "state"))
    names(ref, "state").foreach(n =>
      assert(bytes(crash, s"state/$n") === bytes(ref, s"state/$n"), n))
    assert(names(crash, "events") === names(ref, "events"))
    names(ref, "events").foreach(n =>
      assert(rowsOf(s"$crash/work/events/$n") === rowsOf(s"$ref/work/events/$n"), n))
    val batch = graft.behavior.Detectors.detectFights(poseDf(rs),
      Some(blobDf(0, 700, fight)), parts, p).collect().map(key).toSet
    assert(batch.size === 1)
    assert(events(crash) === batch)
    assert(events(ref) === batch)
  }

  test("a camera outage over many polls builds only the gap frames a session can reach") {
    import FightFixture._
    val superGap = math.max(p.maxFrameGap, p.maxFrameGapWEmptyFrames).toInt
    // a fight, then no pose rows over six polls of 10 minutes each, then
    // another fight
    val resume = 400 + 6 * 30000
    val before = rows(400, 100 to 200)
    val after = rows(resume + 400, resume + 100 to resume + 200, minF = resume)
    val base = Files.createTempDirectory("graft_outage").toString
    val built = scala.collection.mutable.ArrayBuffer.empty[Int]
    FightStream.afterBatchWrites = (work, _, n) => if (work == s"$base/work") built += n
    try {
      deliverAndPoll(base, before, 0, 401)
      (1 to 6).foreach(k => deliverAndPoll(base, Nil, 0, 400 + k * 30000))
      deliverAndPoll(base, after, resume, resume + 401 + superGap + 2)
    } finally FightStream.afterBatchWrites = (_, _, _) => ()
    info(s"filled rows built per poll: ${built.mkString(", ")}")
    assert(built.length === 8)
    // the resume poll: its 401 frames, its marker slot and the gap frames
    // within one gap horizon of the previous gold frontier, not the
    // 180,000-frame outage
    assert(built.last >= 401)
    assert(built.max <= 401 + superGap + 10, built)
    val batch = graft.behavior.Detectors.detectFights(poseDf(before ++ after), None,
      parts, p).collect().map(key).toSet
    assert(batch.size === 2)
    assert(events(base) === batch)
  }

  test("a warm poll starts no shell command and compiles no class") {
    import FightFixture._
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerTaskEnd}
    import scala.jdk.CollectionConverters._
    // five 10 s deliveries, each with a fight that the same poll closes
    val chunk = 500
    val base = Files.createTempDirectory("graft_warmpoll").toString
    def fight(k: Int) = k * chunk + 50 to k * chunk + 150
    def pose(k: Int) = rows((k + 1) * chunk - 1, fight(k), minF = k * chunk)
    def deliver(k: Int): Unit =
      FightFixture.deliver(base, pose(k), k * chunk, (k + 1) * chunk, Some(fight(k)))
    def poll(k: Int): Unit = pollAt(base, (k + 1) * chunk, blob = true)
    // the jobs and tasks of one poll. Listener events arrive on their own
    // thread, so the poll runs between two one-task RDD jobs in the group
    // "flush": what the listener sees between their starts is the poll's
    val sc = spark.sparkContext
    def flush(): Unit = {
      sc.setJobGroup("flush", "listener flush")
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
    }
    def jobsAndTasks(k: Int): (Int, Int) = {
      var jobs, tasks = 0
      var flushStages = Set.empty[Int]
      val flushes = new java.util.concurrent.CountDownLatch(2)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == "flush")) {
            flushStages ++= j.stageIds
            flushes.countDown()
          } else if (flushes.getCount == 1) jobs += 1
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (flushes.getCount == 1 && !flushStages(t.stageId)) tasks += 1
      }
      deliver(k)
      sc.addSparkListener(listener)
      try {
        flush()
        poll(k)
        flush()
        assert(flushes.await(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally sc.removeSparkListener(listener)
      (jobs, tasks)
    }
    (0 until 2).foreach { k => deliver(k); poll(k) }
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val perPoll = try (2 until 5).map(jobsAndTasks) finally rec.stop()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
    val jfr = Files.createTempFile("graft_warmpoll", ".jfr")
    rec.dump(jfr); rec.close()
    val started = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala.toSeq
      .groupMapReduce(e => new java.io.File(e.getString("command").trim.split("\\s+")(0))
        .getName)(_ => 1)(_ + _)
    info(s"polls 3-5: ${started.values.sum} processes started ($started), " +
      s"$compiled classes compiled, (jobs, tasks) per poll $perPoll")
    assert(perPoll.map(_._1) === Seq(1, 1, 1))
    perPoll.foreach(jt => assert(jt._2 <= sc.defaultParallelism, perPoll))
    assert(started.filter(c => Set("chmod", "readlink", "ls", "stat")(c._1)) === Map.empty)
    assert(compiled === 0)
    val batch = graft.behavior.Detectors.detectFights(poseDf((0 until 5).flatMap(pose)),
      Some((0 until 5).map(k => blobDf(k * chunk, (k + 1) * chunk, fight(k))).reduce(_ union _)),
      parts, p).collect().map(key).toSet
    assert(batch.size === 5)
    assert(events(base) === batch)
  }
}
