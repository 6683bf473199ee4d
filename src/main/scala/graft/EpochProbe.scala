package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.behavior.Detectors

/** Multi-epoch detector scale probe (SURVEY §8): builds a 20-epoch synthetic
  * corpus (2 mice × 4 parts × 50k frames per epoch = 8 M pose rows) with one
  * planted fight per epoch, then measures
  *
  *   1. Catalyst analysis time + wall time of the single-plan
  *      `detectFightsAllEpochs` (round-4 design: shard key threaded through
  *      one core);
  *   2. analysis time of the round-3 design it replaced (one full
  *      `detectFights` plan per epoch, `unionByName`-reduced) — the
  *      driver-side cost that grew linearly in epoch count.
  *
  * Prints one summary line; run with `sbt "runMain graft.EpochProbe"`.
  */
object EpochProbe {
  def main(args: Array[String]): Unit = {
    Probe.watchHeap()
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_PROBE_FRAMES=500000 gives the 80 M-pose-row 10× probe
    // recorded in SURVEY §8 (20 epochs × 500k frames × 8 rows/frame)
    val nEpochs = 20
    val framesPerEpoch =
      sys.env.getOrElse("SPARK_GRAFT_PROBE_FRAMES", "50000").toLong
    val t0us = 1717243200000000L
    val parts = Map("nose" -> "nose", "head" -> "head",
      "centroid" -> "spine2", "tail_base" -> "spine4")

    // synthetic corpus built ON the cluster (no driver-side row list):
    // fight = frames 1000-1100 (close, contorted, fast); calm elsewhere
    val base = spark.range(nEpochs * framesPerEpoch)
      .select((col("id") / framesPerEpoch).cast("int").as("ep"),
        (col("id") % framesPerEpoch).as("frame"))
      .withColumn("inFight", col("frame").between(1000, 1100))
      .withColumn("fx", lit(100.0) + (col("frame") - 1000) * 10.0)
    val mice = array(
      (for (m <- Seq(0, 1); p <- Seq("nose", "head", "spine2", "spine4")) yield {
        val id = if (m == 0) "A" else "B"
        val cx = when(col("inFight"), col("fx") + lit(m * 3.0))
          .otherwise(lit(if (m == 0) 100.0 else 400.0))
        val cy = when(col("inFight"), lit(100.0 + m * 4.0))
          .otherwise(lit(if (m == 0) 100.0 else 400.0))
        val nose = when(col("inFight"), lit(18.0)).otherwise(lit(10.0))
        val dx = p match {
          case "nose" => nose; case "head" => lit(8.0)
          case "spine2" => lit(0.0); case _ => lit(-10.0)
        }
        struct(lit(id).as("identity"), lit(p).as("part"),
          (cx + dx).as("x"), cy.as("y"))
      }): _*)
    val pose = base
      .select(col("ep"), col("frame"), explode(mice).as("m"))
      .select(
        timestamp_micros(lit(t0us) + col("ep") * 86400000000L + col("frame") * 20000L).as("time"),
        concat(lit("ep"), format_string("%02d", col("ep"))).as("epoch"),
        col("m.identity"), col("m.part"), col("m.x"), col("m.y"))
      .localCheckpoint() // materialize once; probe timings exclude generation

    val p = Detectors.FightParams()

    // --- round-4 single plan ---
    val tA0 = System.nanoTime()
    val unified = Detectors.detectFightsAllEpochs(pose, None, parts, p)
    unified.queryExecution.assertAnalyzed()
    val analysisNew = (System.nanoTime() - tA0) / 1e9
    val tE0 = System.nanoTime()
    val events = unified.collect()
    val wallNew = (System.nanoTime() - tE0) / 1e9

    // --- round-3 per-epoch plan union (analysis cost only) ---
    val tA1 = System.nanoTime()
    val old = (0 until nEpochs).map { e =>
      val ep = f"ep$e%02d"
      Detectors.detectFights(
        pose.filter(col("epoch") === ep).drop("epoch"), None, parts, p,
        knownIds = Some(Seq("A", "B"))).toDF()
        .withColumn("epoch", lit(ep))
    }.reduce(_ unionByName _)
    old.queryExecution.assertAnalyzed()
    val analysisOld = (System.nanoTime() - tA1) / 1e9

    println(f"EPOCH_PROBE epochs=$nEpochs poseRows=${nEpochs * framesPerEpoch * 8} " +
      f"events=${events.length} analysisSingle=$analysisNew%.2fs execSingle=$wallNew%.1fs " +
      f"analysisUnion20=$analysisOld%.1fs heapAfterGcPeakMb=${Probe.heapAfterGcPeakMb}")
    require(events.length == nEpochs,
      s"expected $nEpochs planted fights, got ${events.length}")

    // --- tube tests over the same corpus shape: one stand-off (frames
    // 1000-1019) + retreat (1020-1069) per epoch, single-plan all-epochs ---
    val tubeBase = spark.range(nEpochs * framesPerEpoch)
      .select((col("id") / framesPerEpoch).cast("int").as("ep"),
        (col("id") % framesPerEpoch).as("frame"))
      .withColumn("inStand", col("frame").between(1000, 1019))
      .withColumn("inRetreat", col("frame").between(1020, 1069))
    val tubeMice = array(
      (for (m <- Seq(0, 1); p <- Seq("nose", "head", "spine2", "spine4")) yield {
        val id = if (m == 0) "A" else "B"
        val cx =
          if (m == 0) lit(100.0)
          else when(col("inStand"), lit(140.0))
            .when(col("inRetreat"), lit(140.0) + (col("frame") - 1019) * 3.0)
            .otherwise(lit(3000.0))
        val cy =
          if (m == 0) lit(50.0)
          else when(col("inStand") || col("inRetreat"), lit(50.0)).otherwise(lit(3000.0))
        val dir = if (m == 0) lit(1.0) else when(col("inStand"), lit(-1.0)).otherwise(lit(1.0))
        val dx = p match {
          case "nose" => dir * 10.0; case "head" => dir * 8.0
          case "spine2" => lit(0.0); case _ => dir * -10.0
        }
        struct(lit(id).as("identity"), lit(p).as("part"),
          (cx + dx).as("x"), cy.as("y"))
      }): _*)
    val tubePose = tubeBase
      .select(col("ep"), col("frame"), explode(tubeMice).as("m"))
      .select(
        timestamp_micros(lit(t0us) + col("ep") * 86400000000L + col("frame") * 20000L).as("time"),
        concat(lit("ep"), format_string("%02d", col("ep"))).as("epoch"),
        col("m.identity"), col("m.part"), col("m.x"), col("m.y"))
      .localCheckpoint()
    val tp = Detectors.TubeParams()
    val tT0 = System.nanoTime()
    val tubeUnified = Detectors.detectTubeTestsAllEpochs(tubePose, parts, tp)
    tubeUnified.queryExecution.assertAnalyzed()
    val tubeAnalysis = (System.nanoTime() - tT0) / 1e9
    val tT1 = System.nanoTime()
    val tubeEvents = tubeUnified.collect()
    val tubeWall = (System.nanoTime() - tT1) / 1e9
    println(f"TUBE_EPOCH_PROBE epochs=$nEpochs events=${tubeEvents.length} " +
      f"analysisSingle=$tubeAnalysis%.2fs execSingle=$tubeWall%.1fs " +
      f"heapAfterGcPeakMb=${Probe.heapAfterGcPeakMb}")
    require(tubeEvents.length == nEpochs,
      s"expected $nEpochs planted tube tests, got ${tubeEvents.length}")
    require(tubeEvents.forall(_.getAs[String]("winner_identity") == "A"),
      "every planted tube test is won by A")
    spark.stop()
  }
}
