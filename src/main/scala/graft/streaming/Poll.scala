package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.behavior.Detectors
import graft.functions.Cols

/** Shared plumbing for the incremental detector pollers
  * ([[FightStream]], [[TubeStream]]): the per-frame-slot silver pivot, the
  * frontier-marker watermark protocol, and the drain / event-dir helpers.
  * ONE pivot implementation — the two streams' feature tables cannot drift
  * from each other, and both ride [[Detectors.withFeatures]] /
  * [[Detectors.pivotAggs]], so they cannot drift from the batch cores
  * either. */
private[streaming] object Poll {

  val poseSchema: StructType = StructType(Seq(
    StructField("time", TimestampType), StructField("identity", StringType),
    StructField("part", StringType), StructField("x", DoubleType),
    StructField("y", DoubleType)))

  def frameDurUs(fps: Double): Long = {
    val d = math.round(1e6 / fps)
    require(math.abs(d * fps - 1e6) < 1e-6,
      s"fps must divide 1e6 microseconds evenly (reference 50 fps), got $fps")
    d
  }

  /** Per-epoch pre-pivot branch: tags the rows with the epoch key and
    * computes everything that depends on per-epoch configuration (`t0us`
    * frame grid, identity→mouse assignment) as PLAIN LITERALS, so a
    * multi-epoch poller can union N such branches into ONE streaming query
    * with per-epoch grids and identity pairs and no per-row map lookups.
    * `slotTsUs` is the slot-grid synthetic timestamp (constant within a
    * slot) the pivot falls back to for marker-only/empty slots. */
  private[streaming] def prePivot(pose: DataFrame, epoch: String,
      parts: Map[String, String], fps: Double, t0us: Long,
      ids: Seq[String]): DataFrame = {
    val sorted = ids.sorted
    require(sorted.length == 2,
      s"epoch '$epoch': expected exactly 2 identities, got ${sorted.length}")
    val durUs = frameDurUs(fps)
    pose
      .withColumn("epoch", lit(epoch))
      .withColumn("frame", Cols.frameId(unix_micros(col("time")), lit(t0us), fps))
      .withColumn("tFrame", timestamp_micros(lit(t0us) + col("frame") * durUs))
      .withColumn("slotTsUs", lit(t0us) + col("frame") * durUs)
      .withColumn("mouse", Detectors.mouseCol(lit(sorted.head)))
      .withColumn("lpart", Detectors.lpartCol(parts))
      // batch wideFramesG filters to the skeleton parts BEFORE aggregating,
      // so the slot tsUs must too: a non-skeleton row (spine1, tail_tip …)
      // landing earliest in a slot must not shift event timestamps. Marker
      // rows (null identity) stay — they only advance the watermark.
      .filter(col("identity").isNull || col("lpart").isNotNull)
  }

  /** Shared pivot tail over one or more unioned [[prePivot]] branches:
    * per-(epoch, frame-slot) wide pivot + ALL batch feature columns (plus
    * `epoch`, `frame`, `tsUs`, `nReal`); the watermark rides the frame-slot
    * grid time, GLOBAL across epochs (same wall clock — see the poll
    * contract in [[FightStream.pollFightsMulti]]). Marker rows (null
    * identity/part) advance the watermark, aggregate to all-null
    * (`nReal = 0`) slots, and never contribute to a slot's `tsUs`. Callers
    * select their detector's columns. */
  private[streaming] def pivotFeatures(tagged: DataFrame, fps: Double): DataFrame = {
    val durUs = frameDurUs(fps)
    val withT = tagged.withWatermark("tFrame", "0 seconds")
    // tsUs excludes marker rows (null identity): a marker landing in a live
    // slot must not replace the slot's real min pose timestamp (event
    // start/end times come from tsUs); marker-only slots synthesize the
    // slot-grid time, like the batch dense spine does for empty frames
    val allAggs = Seq(min(col("frame")).as("frame"),
      min(when(col("identity").isNotNull, unix_micros(col("time")))).as("tsUs0"),
      count(when(col("identity").isNotNull, lit(1))).as("nReal"),
      min(col("slotTsUs")).as("slotTsUs")) ++
      Detectors.pivotAggs
    val wide = Detectors.expandPivot(withT
      .groupBy(col("epoch"), window(col("tFrame"), s"$durUs microseconds"))
      .agg(allAggs.head, allAggs.tail: _*)
      .drop("window"))
      .withColumn("tsUs", coalesce(col("tsUs0"), col("slotTsUs")))
      .drop("tsUs0", "slotTsUs")
    Detectors.withFeatures(wide)
  }

  /** Single-epoch form (epoch key `""`): the exact pre-refactor plan shape,
    * used by the one-epoch pollers. */
  def silverFeatures(pose: DataFrame, parts: Map[String, String], fps: Double,
      t0us: Long, ids: Seq[String]): DataFrame =
    pivotFeatures(prePivot(pose, "", parts, fps, t0us, ids), fps)

  /** One AvailableNow pass. A stateful append sink evicts with the
    * watermark its data batch advanced in the trailing no-data batch that
    * AvailableNow runs before it terminates, so what this poll's data
    * closed is emitted by this same pass, not one poll later. */
  def drain(df: DataFrame, outPath: String, checkpoint: String): Unit =
    Streaming.drainToParquet(df, outPath, checkpoint)

  /** Pre-create a work dir THROUGH the Hadoop filesystem of its path —
    * java.io.File.mkdirs on an hdfs:///s3a:// URI would create a junk
    * local dir and leave the real target absent. */
  def ensureDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
    ()
  }

  /** Append the frontier-marker pair at (upTo − 1 frame, upTo): the pair
    * advances the watermark to exactly upTo, flushing every frame slot
    * STRICTLY before the frontier — the slot containing upTo stays
    * pending, so rows for it arriving in a later poll are merged, not
    * dropped as late. */
  def writeMarkers(spark: SparkSession, markerDir: String, upToUs: Long,
      durUs: Long): Unit = {
    val markers = Seq(upToUs - durUs, upToUs).map { us =>
      // full µs precision: Timestamp(ms) alone truncates up to 999 µs, which
      // can round the marker's frame id one slot low and leave the last
      // pre-frontier slot unflushed this poll
      val t = new java.sql.Timestamp(us / 1000)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      Row(t, null, null, null, null)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(markers, 1), poseSchema)
      .write.mode("append").parquet(markerDir)
  }

  /** Persist and validate the ORDERED epoch list of a multi-epoch
    * `workDir`. The stage-1 streaming sources and the per-epoch marker
    * dirs are POSITIONAL (slot i of the source union, dir `m$i`), and
    * Structured Streaming's per-source seen-file logs are
    * keyed by that position — so the epoch sequence must be byte-stable
    * across polls of the same `workDir`. The first poll writes
    * `workDir/epochs.txt` (one key per line, in order); every later poll
    * requires exact equality. A caller that rebuilds its epoch Seq from a
    * Map or a directory listing and gets a different order fails HERE,
    * loudly, instead of silently crediting one epoch's files to another
    * epoch's source slot (which would re-ingest already-seen files as new
    * and tag them with the wrong epoch key). */
  def checkEpochManifest(spark: SparkSession, workDir: String,
      epochs: Seq[String]): Unit = {
    require(epochs.forall(e => !e.contains("\n") && !e.contains("\r")),
      "epoch keys must not contain line breaks")
    checkManifest(spark, s"$workDir/epochs.txt", epochs,
      s"epoch list of workDir '$workDir' changed: the checkpointed " +
        "stages are positional, so the epoch Seq must be identical " +
        "(same keys, same order) on every poll",
      "Onboarding or removing an epoch requires a new workDir.")
  }

  /** Persist and validate which epochs of a fight `workDir` have a blob
    * source. Stage 0 of [[FightStream.pollFightsMulti]] has one positional
    * file source per such epoch, pinned in its checkpoint like stage 1's
    * pose sources, so this set is as fixed as the epoch list. Recorded in
    * `workDir/blob_sources.txt`, one `blob <key>` or `none <key>` line per
    * epoch in epoch order, by the first poll that finds it absent. */
  def checkBlobManifest(spark: SparkSession, workDir: String,
      epochs: Seq[(String, Boolean)]): Unit =
    checkManifest(spark, s"$workDir/blob_sources.txt",
      epochs.map { case (e, hasBlob) => (if (hasBlob) "blob " else "none ") + e },
      s"blob sources of workDir '$workDir' changed: stage 0 has one " +
        "positional file source per epoch with a blobDir, so the set of " +
        "epochs with a blob source must be identical on every poll",
      "Adding or removing an epoch's blob source requires a new workDir.")

  /** Write `lines` to `path` on the first call, require them unchanged on
    * every later one. */
  private def checkManifest(spark: SparkSession, path: String,
      lines: Seq[String], changed: String, remedy: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      // file ends with one trailing \n; split -1 keeps interior empties
      // (the single-epoch key is ""), init drops the trailing one
      val prior = content.split("\n", -1).toSeq.init
      require(prior == lines,
        s"$changed. Recorded: ${prior.mkString("[", ", ", "]")}; got: " +
          s"${lines.mkString("[", ", ", "]")}. $remedy")
    } else {
      val out = fs.create(p, false)
      try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** The per-micro-batch gold event dirs under `workDir/events`. */
  def eventParquetDirs(spark: SparkSession, workDir: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(s"$workDir/events")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root))
      fs.listStatus(root).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("b")).map(_.getPath.toString).toIndexedSeq
    else Seq.empty
  }
}
