package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.behavior.Detectors
import graft.streaming.FightStream

/** The operational mode: every cycle lands one delivery of pose rows
  * (2 mice x 4 parts per frame) plus blob positions, with one planted
  * fight at a seeded frame offset, then polls the checkpointed fight
  * poller once (closed loop, one client). The delivery is written untimed
  * before the poll; the first cycle is the warm-up.
  *
  * At the end every planted fight whose emission horizon the last poll
  * passed must have been reported exactly once, a later one at most once,
  * and no other fight may be reported. */
object PollWorkload {
  private val T0us = 1717243200000000L
  private val FrameUs = 20000L
  private val Parts = Map("nose" -> "nose", "head" -> "head",
    "centroid" -> "spine2", "tail_base" -> "spine4")
  private val FightLen = 150L
  /** Frames past a fight's end after which the poll must have emitted it:
    * two gap horizons, generously above the detector's own. */
  private val DueFrames = 2 * Detectors.FightParams().maxFrameGap + 50

  /** Frames per delivery: 30 s at 50 fps, or 10 s for the self-test. */
  private def frames(scale: String): Long = if (scale == "tiny") 500L else 1500L

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val nF = frames(ctx.scale)
    val rng = new scala.util.Random(ctx.seed)
    val root = s"${ctx.workDir}/poll_fight"
    val fp = Detectors.FightParams()
    val fights = mutable.ArrayBuffer.empty[Long] // first frame of each
    var attempted = 0L
    var failed = 0L

    /** One cycle: the delivery (untimed), then one poll; returns its wall. */
    def runCycle(): Double = {
      val k = fights.size.toLong
      val lo = k * nF
      val slack = nF / 10
      val f = lo + slack + (rng.nextDouble() * (nF - 2 * slack - FightLen)).toLong
      fights += f
      ctx.tracer.span(s"deliver:$k", "deliver") {
        fightPose(spark, lo, lo + nF, f).write.parquet(s"$root/pose/c$k")
        fightBlob(spark, lo, lo + nF, f).write.parquet(s"$root/blob/c$k")
      }
      attempted += 1
      val t0 = System.nanoTime()
      try ctx.tracer.op("poll:fight", "poll")(FightStream.pollFights(spark,
        s"$root/pose/*", s"$root/work", Parts, fp, T0us, Seq("A", "B"),
        T0us + (k + 1) * nF * FrameUs, blobDir = Some(s"$root/blob/*")))
      catch { case e: Exception => failed += 1; ctx.log(s"FAILED fight poll: $e") }
      (System.nanoTime() - t0) / 1e9
    }

    runCycle()
    val polls = ctx.timedPhase(() => runCycle())

    // answer check over every poll, warm-up included
    def tsMs(frame: Long) = (T0us + frame * FrameUs) / 1000L
    val starts = FightStream.fightEvents(spark, s"$root/work").collect()
      .map(_.start_ts.getTime).toSeq
    val hits = fights.toSeq.map(f => starts.count(s =>
      s >= tsMs(f) - 2000L && s <= tsMs(f + FightLen) + 2000L))
    val due = fights.toSeq.map(_ + FightLen + DueFrames <= fights.size * nF)
    attempted += 1
    if (!(hits.zip(due).forall { case (h, d) => h == 1 || (!d && h == 0) } &&
        starts.size == hits.sum)) {
      failed += 1
      ctx.log(s"WRONG ANSWER fight: planted ${fights.size} (due ${due.count(identity)}), " +
        s"detected ${starts.size}, matches per planted fight $hits")
    }

    val poseRows = polls.size * nF * 8
    Outcome(attempted, failed, Seq(
      Metric("op_geomean_s", Stats.median(polls), "s"),
      Metric("cycle_wall_s", Stats.median(polls), "s")),
      report = Seq(s"frames_per_delivery=$nF",
        f"fight_poll_s=${Stats.median(polls)}%.3f (median of ${polls.size} timed polls)",
        f"pose_rows_per_s=${poseRows / polls.sum}%.0f ($poseRows pose rows over ${polls.sum}%.2f s of polls)",
        s"planted fights ${fights.size}, due ${due.count(identity)}, reported ${starts.size}"),
      detail = Seq("fight_poll" -> Stats.median(polls)))
  }

  // ---- delivery generators (planted patterns as in graft.StreamProbe) ----

  private def ts(frame: org.apache.spark.sql.Column) =
    timestamp_micros(lit(T0us) + frame * FrameUs)

  private def fightPose(spark: SparkSession, lo: Long, hi: Long, f0: Long): DataFrame = {
    val rel = col("frame") - f0
    val frames = spark.range(lo, hi).select(col("id").as("frame"))
      .withColumn("inFight", rel.between(0, FightLen))
      .withColumn("fx", lit(100.0) + rel * 10.0)
    val mice = array(
      (for (m <- Seq(0, 1); part <- Seq("nose", "head", "spine2", "spine4")) yield {
        val cx = when(col("inFight"), col("fx") + lit(m * 3.0))
          .otherwise(lit(if (m == 0) 100.0 else 400.0))
        val cy = when(col("inFight"), lit(100.0 + m * 4.0))
          .otherwise(lit(if (m == 0) 100.0 else 400.0))
        val nose = when(col("inFight"), lit(18.0)).otherwise(lit(10.0))
        val dx = part match {
          case "nose" => nose; case "head" => lit(8.0)
          case "spine2" => lit(0.0); case _ => lit(-10.0)
        }
        struct(lit(if (m == 0) "A" else "B").as("identity"), lit(part).as("part"),
          (cx + dx).as("x"), cy.as("y"))
      }): _*)
    frames.select(col("frame"), explode(mice).as("m"))
      .select(ts(col("frame")).as("time"), col("m.identity"), col("m.part"),
        col("m.x"), col("m.y"))
  }

  private def fightBlob(spark: SparkSession, lo: Long, hi: Long, f0: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("frame"))
      .select(ts(col("frame")).as("time"),
        when(col("frame").between(f0, f0 + FightLen),
          lit(100.0) + (col("frame") - f0) * 10.0).otherwise(lit(500.0)).as("x"),
        lit(100.0).as("y"))
}
