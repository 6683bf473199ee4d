package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.behavior.Detectors
import graft.streaming.{FightStream, TubeStream}

/** Streaming fight-detector scale probe (SURVEY §8): replays the
  * reference's operational cadence — four 30-minute polls over a 2-hour
  * 50 fps epoch (90 k frame slots → 720 k pose rows + 90 k blob rows per
  * poll, one planted fight per half hour) — and measures per-poll wall
  * time end-to-end (the one checkpointed query of the fight poller: its
  * file scan, then blob speed, silver, filled and gold on the driver),
  * then the same cadence over several epochs and for the tube poller.
  *
  * The number that matters operationally: a poll must take far less than
  * the 30-minute cadence it serves. Prints one summary line; run with
  * `sbt "runMain graft.StreamProbe"`.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    Probe.watchHeap()
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0us = 1717243200000000L
    val framesPerPoll = 90000L // 30 min at 50 fps
    val nPolls = 4
    val parts = Map("nose" -> "nose", "head" -> "head",
      "centroid" -> "spine2", "tail_base" -> "spine4")
    val p = Detectors.FightParams()
    val base = java.nio.file.Files.createTempDirectory("graft_streamprobe").toString
    val poseDir = s"$base/pose"; val blobDir = s"$base/blob"; val work = s"$base/work"

    // one planted fight per poll window: frames [k·90000+1000, +1150];
    // [loF, hiF) lets the multi-epoch section cut deliveries at the WALL
    // CLOCK (the poll contract: nothing at-or-after the frontier may have
    // landed — early rows would advance the global watermark past it)
    def chunkRange(loF: Long, hiF: Long, t0: Long) = {
      // fight position computed from the frame's OWN poll window (a range
      // may span windows when deliveries are wall-clock-cut)
      val inWin = col("frame") % framesPerPoll
      val frames = spark.range(loF, hiF).select(col("id").as("frame"))
        .withColumn("inFight", inWin.between(1000, 1150))
        .withColumn("fx", lit(100.0) + (inWin - 1000) * 10.0)
      val mice = array(
        (for (m <- Seq(0, 1); part <- Seq("nose", "head", "spine2", "spine4")) yield {
          val id = if (m == 0) "A" else "B"
          val cx = when(col("inFight"), col("fx") + lit(m * 3.0))
            .otherwise(lit(if (m == 0) 100.0 else 400.0))
          val cy = when(col("inFight"), lit(100.0 + m * 4.0))
            .otherwise(lit(if (m == 0) 100.0 else 400.0))
          val nose = when(col("inFight"), lit(18.0)).otherwise(lit(10.0))
          val dx = part match {
            case "nose" => nose; case "head" => lit(8.0)
            case "spine2" => lit(0.0); case _ => lit(-10.0)
          }
          struct(lit(id).as("identity"), lit(part).as("part"),
            (cx + dx).as("x"), cy.as("y"))
        }): _*)
      frames.select(col("frame"), col("inFight"), col("fx"), explode(mice).as("m"))
        .select(timestamp_micros(lit(t0) + col("frame") * 20000L).as("time"),
          col("m.identity"), col("m.part"), col("m.x"), col("m.y"))
    }
    def blobChunk(k: Long) = {
      val lo = k * framesPerPoll
      spark.range(lo, lo + framesPerPoll).select(col("id").as("frame"))
        .select(timestamp_micros(lit(t0us) + col("frame") * 20000L).as("time"),
          (when(col("frame").between(lo + 1000, lo + 1150),
            lit(100.0) + (col("frame") - lo - 1000) * 10.0)
            .otherwise(lit(500.0))).as("x"),
          lit(100.0).as("y"))
    }

    def chunk(k: Long, t0: Long = t0us) =
      chunkRange(k * framesPerPoll, (k + 1) * framesPerPoll, t0)

    val times = (0L until nPolls).map { k =>
      chunk(k).write.parquet(s"$poseDir/chunk$k")
      blobChunk(k).write.parquet(s"$blobDir/chunk$k")
      val upTo = t0us + ((k + 1) * framesPerPoll) * 20000L
      val t0 = System.nanoTime()
      FightStream.pollFights(spark, s"$poseDir/*", work, parts, p, t0us,
        Seq("A", "B"), upTo, blobDir = Some(s"$blobDir/*"))
      (System.nanoTime() - t0) / 1e9
    }
    // final flush poll past the last fight's gap horizon
    val tF0 = System.nanoTime()
    FightStream.pollFights(spark, s"$poseDir/*", work, parts, p, t0us,
      Seq("A", "B"),
      t0us + (nPolls * framesPerPoll + p.maxFrameGap + 5) * 20000L,
      blobDir = Some(s"$blobDir/*"))
    val flushS = (System.nanoTime() - tF0) / 1e9
    val events = FightStream.fightEvents(spark, work).collect()
    println(f"STREAM_PROBE polls=$nPolls framesPerPoll=$framesPerPoll " +
      f"poseRowsPerPoll=${framesPerPoll * 8} events=${events.length} " +
      f"pollSecs=[${times.map(t => f"$t%.1f").mkString(",")}] flush=$flushS%.1fs " +
      f"heapAfterGcPeakMb=${Probe.heapAfterGcPeakMb}")
    require(events.length == nPolls,
      s"expected $nPolls planted fights, got ${events.length}")

    // ---- ONE poller over N epochs (pollFightsMulti): same cadence, every
    // epoch its own pose dir and frame grid (offsets NOT multiples of the
    // frame duration), one planted fight per epoch per poll window. The
    // operational question: does the one-poller-for-the-deployment design
    // keep per-poll wall far under the cadence as epochs multiply?
    val nEpochs = sys.env.getOrElse("SPARK_GRAFT_PROBE_EPOCHS", "8").toInt
    val mPolls = 2
    val mWork = s"$base/multi_work"
    val mEpochs = (0 until nEpochs).map { i =>
      FightStream.FightEpoch(f"rig$i%02d", s"$base/mpose$i/*",
        t0us + i * 7777L * 1000L, Seq("A", "B"))
    }
    val totalF = mPolls * framesPerPoll
    // deliveries are WALL-CLOCK-CUT per epoch: a poll at frontier `upTo`
    // must have landed ALL rows below it and NO rows at-or-after it (early
    // rows would advance the global watermark past the frontier and turn
    // other epochs' later deliveries late) — the multi-epoch poll contract
    val delivered = scala.collection.mutable.Map(
      mEpochs.map(_.epoch -> 0L).toSeq: _*)
    def deliverUpTo(upTo: Long, tag: String): Unit =
      mEpochs.zipWithIndex.foreach { case (e, i) =>
        val hi = math.min(totalF, math.max(0L,
          Math.floorDiv(upTo - e.t0us - 1, 20000L) + 1))
        if (hi > delivered(e.epoch)) {
          chunkRange(delivered(e.epoch), hi, e.t0us)
            .write.parquet(s"$base/mpose$i/chunk_$tag")
          delivered(e.epoch) = hi
        }
      }
    val mTimes = (0L until mPolls).map { k =>
      val upTo = t0us + ((k + 1) * framesPerPoll) * 20000L
      deliverUpTo(upTo, s"p$k")
      val t0 = System.nanoTime()
      FightStream.pollFightsMulti(spark, mEpochs, mWork, parts, p, upTo)
      (System.nanoTime() - t0) / 1e9
    }
    val flushUpTo = mEpochs.map(_.t0us).max +
      (totalF + p.maxFrameGap + 5) * 20000L
    deliverUpTo(flushUpTo, "flush")
    val tM0 = System.nanoTime()
    FightStream.pollFightsMulti(spark, mEpochs, mWork, parts, p, flushUpTo)
    val mFlushS = (System.nanoTime() - tM0) / 1e9
    val mEvents = FightStream.fightEventsByEpoch(spark, mWork).collect()
    println(f"MULTI_STREAM_PROBE epochs=$nEpochs polls=$mPolls " +
      f"framesPerPollPerEpoch=$framesPerPoll " +
      f"poseRowsPerPoll=${framesPerPoll * 8 * nEpochs} " +
      f"events=${mEvents.length} " +
      f"pollSecs=[${mTimes.map(t => f"$t%.1f").mkString(",")}] " +
      f"flush=$mFlushS%.1fs heapAfterGcPeakMb=${Probe.heapAfterGcPeakMb}")
    require(mEvents.length == nEpochs * mPolls,
      s"expected ${nEpochs * mPolls} planted fights, got ${mEvents.length}")
    val perEpoch = mEvents.groupBy(_.epoch).view.mapValues(_.length).toMap
    require(mEpochs.forall(e => perEpoch.getOrElse(e.epoch, 0) == mPolls),
      s"per-epoch event counts off: $perEpoch")

    // ---- tube-test poller at the same cadence: one stand-off + retreat
    // planted per poll window (frames [k·90000+1000, +1019] stand-off,
    // [+1020, +1069] retreat)
    val tubeWork = s"$base/tube_work"; val tubePoseDir = s"$base/tube_pose"
    val tp = Detectors.TubeParams()
    def tubeChunkRange(loF: Long, hiF: Long, t0: Long) = {
      // stand-off/retreat position from the frame's OWN poll window (see
      // chunkRange: ranges may span windows under wall-clock-cut delivery)
      val inWin = col("frame") % framesPerPoll
      val frames = spark.range(loF, hiF).select(col("id").as("frame"))
        .withColumn("inStand", inWin.between(1000, 1019))
        .withColumn("inRetreat", inWin.between(1020, 1069))
      val mice = array(
        (for (m <- Seq(0, 1); part <- Seq("nose", "head", "spine2", "spine4")) yield {
          val id = if (m == 0) "A" else "B"
          val cx =
            if (m == 0) lit(100.0)
            else when(col("inStand"), lit(140.0))
              .when(col("inRetreat"), lit(140.0) + (inWin - 1019) * 3.0)
              .otherwise(lit(3000.0))
          val cy =
            if (m == 0) lit(50.0)
            else when(col("inStand") || col("inRetreat"), lit(50.0))
              .otherwise(lit(3000.0))
          val dir = if (m == 0) lit(1.0) else when(col("inStand"), lit(-1.0)).otherwise(lit(1.0))
          val dx = part match {
            case "nose" => dir * 10.0; case "head" => dir * 8.0
            case "spine2" => lit(0.0); case _ => dir * -10.0
          }
          struct(lit(id).as("identity"), lit(part).as("part"),
            (cx + dx).as("x"), cy.as("y"))
        }): _*)
      frames.select(col("frame"), explode(mice).as("m"))
        .select(timestamp_micros(lit(t0) + col("frame") * 20000L).as("time"),
          col("m.identity"), col("m.part"), col("m.x"), col("m.y"))
    }
    def tubeChunk(k: Long) =
      tubeChunkRange(k * framesPerPoll, (k + 1) * framesPerPoll, t0us)
    val tubeTimes = (0L until nPolls).map { k =>
      tubeChunk(k).write.parquet(s"$tubePoseDir/chunk$k")
      val upTo = t0us + ((k + 1) * framesPerPoll) * 20000L
      val t0 = System.nanoTime()
      TubeStream.pollTubeTests(spark, s"$tubePoseDir/*", tubeWork, parts, tp,
        t0us, Seq("A", "B"), upTo)
      (System.nanoTime() - t0) / 1e9
    }
    val tubeEvents = TubeStream.tubeEvents(spark, tubeWork).collect()
    println(f"TUBE_STREAM_PROBE polls=$nPolls framesPerPoll=$framesPerPoll " +
      f"events=${tubeEvents.length} " +
      f"pollSecs=[${tubeTimes.map(t => f"$t%.1f").mkString(",")}]")
    require(tubeEvents.length == nPolls,
      s"expected $nPolls planted tube tests, got ${tubeEvents.length}")
    require(tubeEvents.forall(_.winner_identity == "A"),
      "every planted tube test is won by A")

    // ---- ONE tube poller over N epochs (pollTubeTestsMulti): same shape
    // as the fight section — per-epoch pose dirs and offset frame grids,
    // wall-clock-cut deliveries, one planted stand-off + retreat per epoch
    // per poll window
    val tWork = s"$base/tube_multi_work"
    val tEpochs = (0 until nEpochs).map { i =>
      TubeStream.TubeEpoch(f"rig$i%02d", s"$base/tpose$i/*",
        t0us + i * 7777L * 1000L, Seq("A", "B"))
    }
    val tDelivered = scala.collection.mutable.Map(
      tEpochs.map(_.epoch -> 0L).toSeq: _*)
    def tDeliverUpTo(upTo: Long, tag: String): Unit =
      tEpochs.zipWithIndex.foreach { case (e, i) =>
        val hi = math.min(totalF, math.max(0L,
          Math.floorDiv(upTo - e.t0us - 1, 20000L) + 1))
        if (hi > tDelivered(e.epoch)) {
          tubeChunkRange(tDelivered(e.epoch), hi, e.t0us)
            .write.parquet(s"$base/tpose$i/chunk_$tag")
          tDelivered(e.epoch) = hi
        }
      }
    val tTimes = (0L until mPolls).map { k =>
      val upTo = t0us + ((k + 1) * framesPerPoll) * 20000L
      tDeliverUpTo(upTo, s"p$k")
      val t0 = System.nanoTime()
      TubeStream.pollTubeTestsMulti(spark, tEpochs, tWork, parts, tp, upTo)
      (System.nanoTime() - t0) / 1e9
    }
    val tubeGap = math.max(tp.maxFrameGap,
      math.ceil(tp.fps * tp.searchWindowSeconds).toLong)
    val tFlushUpTo = tEpochs.map(_.t0us).max + (totalF + tubeGap + 5) * 20000L
    tDeliverUpTo(tFlushUpTo, "flush")
    val tMF0 = System.nanoTime()
    TubeStream.pollTubeTestsMulti(spark, tEpochs, tWork, parts, tp, tFlushUpTo)
    val tFlushS = (System.nanoTime() - tMF0) / 1e9
    val tEvents = TubeStream.tubeEventsByEpoch(spark, tWork).collect()
    println(f"MULTI_TUBE_PROBE epochs=$nEpochs polls=$mPolls " +
      f"framesPerPollPerEpoch=$framesPerPoll " +
      f"poseRowsPerPoll=${framesPerPoll * 8 * nEpochs} " +
      f"events=${tEvents.length} " +
      f"pollSecs=[${tTimes.map(t => f"$t%.1f").mkString(",")}] " +
      f"flush=$tFlushS%.1fs heapAfterGcPeakMb=${Probe.heapAfterGcPeakMb}")
    require(tEvents.length == nEpochs * mPolls,
      s"expected ${nEpochs * mPolls} planted tube tests, got ${tEvents.length}")
    require(tEvents.forall(_.winner_identity == "A"),
      "every planted tube test is won by A")
    val tPerEpoch = tEvents.groupBy(_.epoch).view.mapValues(_.length).toMap
    require(tEpochs.forall(e => tPerEpoch.getOrElse(e.epoch, 0) == mPolls),
      s"per-epoch tube event counts off: $tPerEpoch")

    // ---- ONE combine poller over N epochs (pollCombineMulti): per poll,
    // every rig lands one 30-minute chunk (90 k ticks × 2 mice × 2 parts =
    // 360 k pose rows + 180 k id rows); chunks run as concurrent Spark
    // jobs inside the micro-batch. Identities are rig-specific so any
    // cross-epoch pose/id pairing would be caught by the identity assert.
    import graft.combine.Combine
    import graft.streaming.CombineStream
    val cWork = s"$base/combine_work"
    val cp = Combine.Params(fps = 50.0, maxDistance = 40.0)
    val cEpochs = (0 until nEpochs).map { i =>
      CombineStream.CombineEpoch(f"rig$i%02d", s"$base/cpose$i", s"$base/cids$i")
    }
    def combChunk(i: Int, k: Long): Unit = {
      val loF = k * framesPerPoll
      val frames = spark.range(loF, loF + framesPerPoll)
        .select(col("id").as("frame"))
      val mice = array((for (mId <- Seq(0, 1); part <- Seq("anchor_spine2", "head")) yield
        struct(lit(mId.toLong).as("pid"), lit(part).as("part"),
          lit(100.0 + mId * 200.0).as("bx"), lit(100.0).as("by"))): _*)
      frames.select(col("frame"), explode(mice).as("m"))
        .select(timestamp_micros(lit(t0us) + col("frame") * 20000L).as("time"),
          (col("frame") * 2 + col("m.pid")).as("pose_id"), col("m.part").as("part"),
          (col("m.bx") + (col("frame") % 7) * 0.5).as("x"), col("m.by").as("y"))
        .write.parquet(s"$base/cpose$i/h$k")
      val idents = array(
        struct(lit(s"A$i").as("identity"), lit(100.0).as("ix")),
        struct(lit(s"B$i").as("identity"), lit(300.0).as("ix")))
      frames.select(col("frame"), explode(idents).as("d"))
        .select(timestamp_micros(lit(t0us) + col("frame") * 20000L).as("time"),
          col("d.identity"),
          map(col("d.identity"), lit(0.9)).as("identity_likelihood"),
          (col("d.ix") + (col("frame") % 5) * 0.5).as("x_top"), lit(100.0).as("y_top"))
        .write.parquet(s"$base/cids$i/h$k")
    }
    val cTimes = (0L until mPolls).map { k =>
      cEpochs.indices.foreach(i => combChunk(i, k))
      val t0 = System.nanoTime()
      CombineStream.pollCombineMulti(spark, cEpochs, cWork, cp,
        anchorPart = "anchor")
      (System.nanoTime() - t0) / 1e9
    }
    val combined = CombineStream.combinedByEpoch(spark, cEpochs, cWork)
      .select(col("epoch"), col("identity")).groupBy("epoch", "identity")
      .count().collect()
    val cByEpoch = combined.groupBy(_.getString(0))
    println(f"MULTI_COMBINE_PROBE epochs=$nEpochs polls=$mPolls " +
      f"poseRowsPerPoll=${framesPerPoll * 4 * nEpochs} " +
      f"idRowsPerPoll=${framesPerPoll * 2 * nEpochs} " +
      f"pollSecs=[${cTimes.map(t => f"$t%.1f").mkString(",")}] " +
      f"heapAfterGcPeakMb=${Probe.heapAfterGcPeakMb}")
    cEpochs.zipWithIndex.foreach { case (e, i) =>
      val rows = cByEpoch.getOrElse(e.epoch, Array.empty)
      val idents = rows.map(_.getString(1)).toSet
      require(idents == Set(s"A$i", s"B$i"),
        s"epoch ${e.epoch}: identities $idents — cross-epoch pairing or lost matches")
      val n = rows.map(_.getLong(2)).sum
      require(n == mPolls * framesPerPoll * 4,
        s"epoch ${e.epoch}: expected ${mPolls * framesPerPoll * 4} combined rows, got $n")
    }
    spark.stop()
  }
}
