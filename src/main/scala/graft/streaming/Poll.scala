package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.behavior.Detectors
import graft.functions.Cols

/** Shared plumbing for the incremental detector pollers
  * ([[FightStream]], [[TubeStream]]): the per-frame-slot silver pivot, the
  * frontier markers (both formats), the drain / event-dir helpers and the
  * per-micro-batch snapshot files of explicitly carried state.
  * The Spark pivot ([[prePivot]] + [[pivotFeatures]]) rides
  * [[Detectors.withFeatures]] / [[Detectors.pivotAggs]], so it cannot
  * drift from the batch cores; the tube poller runs it. The fight poller
  * pivots the rows it already holds on the driver
  * ([[FightStream.silverRows]]), and `FightDriverSpec` checks that pivot
  * against this one. */
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

  /** Append the frontier-marker pair at (upTo − 1 frame, upTo) as parquet
    * pose rows with null identity, the form the tube poller's stateful
    * stages read (kept only until that poller moves to the one-query
    * pattern of [[FightStream]], which reads [[markerText]]): the pair
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

  /** Add the frontier-marker pair at (upTo − 1 frame, upTo) as one text
    * file per frontier (one µs time per line), renamed into place whole so
    * the marker source never reads a torn file. Same pair and flushing
    * rule as [[writeMarkers]]. */
  def writeMarkerText(spark: SparkSession, markerDir: String, upToUs: Long,
      durUs: Long): Unit = {
    val dst = new org.apache.hadoop.fs.Path(markerDir, s"$upToUs.txt")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dst)) {
      val tmp = new org.apache.hadoop.fs.Path(markerDir, s".$upToUs.tmp")
      val out = fs.create(tmp, true)
      try out.write(s"${upToUs - durUs}\n$upToUs\n".getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(s"marker rename failed: $dst")
    }
  }

  /** The marker files [[writeMarkerText]] writes, as a stream of `tUs`. */
  def markerText(spark: SparkSession, markerDir: String): DataFrame =
    spark.readStream.text(markerDir).select(col("value").cast(LongType).as("tUs"))

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
    * source. The query of [[FightStream.pollFightsMulti]] has one
    * positional blob file source per such epoch, pinned in its checkpoint
    * like the pose sources, so this set is as fixed as the epoch list.
    * Recorded in `workDir/blob_sources.txt`, one `blob <key>` or
    * `none <key>` line per epoch in epoch order, by the first poll that
    * finds it absent. */
  def checkBlobManifest(spark: SparkSession, workDir: String,
      epochs: Seq[(String, Boolean)]): Unit =
    checkManifest(spark, s"$workDir/blob_sources.txt",
      epochs.map { case (e, hasBlob) => (if (hasBlob) "blob " else "none ") + e },
      s"blob sources of workDir '$workDir' changed: the poll query has one " +
        "positional blob source per epoch with a blobDir, so the set of " +
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

  /** The snapshot files `b<batchId>` under `dir` as (id, path), by id. */
  def snapshots(spark: SparkSession, dir: String): Seq[(Long, String)] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.flatMap { s =>
      val name = s.getPath.getName
      if (s.isFile && name.startsWith("b"))
        name.drop(1).toLongOption.map(_ -> s.getPath.toString)
      else None
    }.sortBy(_._1)
  }

  /** Write `value` (Java-serializable) to `path`, replacing it: a replayed
    * micro-batch rewrites its own snapshot. */
  def writeSnapshot(spark: SparkSession, path: String, value: AnyRef): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new java.io.ObjectOutputStream(
      new java.io.BufferedOutputStream(fs.create(p, true)))
    try out.writeObject(value) finally out.close()
  }

  /** Read a value [[writeSnapshot]] wrote. */
  def readSnapshot[T](spark: SparkSession, path: String): T = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = new java.io.ObjectInputStream(
      new java.io.BufferedInputStream(fs.open(p)))
    try in.readObject().asInstanceOf[T] finally in.close()
  }

  /** Delete `paths` (superseded snapshots). */
  def delete(spark: SparkSession, paths: Seq[String]): Unit = paths.foreach { s =>
    val p = new org.apache.hadoop.fs.Path(s)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
  }

  /** Write a micro-batch's event rows (case classes whose fields are the
    * string, timestamp and double columns of `schema`) as the one parquet
    * file of `dir`, from the driver: a few rows cost no Spark job. The
    * file goes to the dot-prefixed sibling `.<name>.tmp` first, which
    * [[eventParquetDirs]] and Spark's reader skip, and that dir is renamed
    * over `dir`, so a replay replaces its own dir whole. Columns are typed
    * as Spark writes them, except timestamps: INT64 TIMESTAMP(MICROS, UTC)
    * rather than INT96, which a reader with the explicit schema reads to
    * the same values. */
  def writeEvents(spark: SparkSession, dir: String, schema: StructType,
      rows: Seq[Product]): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
    import org.apache.parquet.schema.Type.Repetition
    val message = Types.buildMessage().addFields(schema.fields.toSeq.map { f =>
      val rep = if (f.nullable) Repetition.OPTIONAL else Repetition.REQUIRED
      (f.dataType match {
        case StringType =>
          Types.primitive(BINARY, rep).as(LogicalTypeAnnotation.stringType())
        case TimestampType => Types.primitive(INT64, rep).as(
          LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
        case DoubleType => Types.primitive(DOUBLE, rep)
        case t => throw new IllegalArgumentException(
          s"writeEvents: column ${f.name} has unsupported type $t")
      }).named(f.name): org.apache.parquet.schema.Type
    }: _*).named("spark_schema")
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(dir)
    val tmp = new org.apache.hadoop.fs.Path(dst.getParent, s".${dst.getName}.tmp")
    val fs = dst.getFileSystem(conf)
    fs.delete(tmp, true)
    val out = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(tmp, "part-00000.parquet"), conf))
      .withConf(conf).withType(message)
      // a file with this key holds proleptic-Gregorian values, which
      // Spark reads without rebasing whatever its rebase settings
      .withExtraMetaData(java.util.Map.of("org.apache.spark.version",
        org.apache.spark.SPARK_VERSION_SHORT))
      .build()
    try rows.foreach { r =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(message)
      schema.fields.indices.foreach { i => r.productElement(i) match {
        case null =>
        case s: String => g.add(i, s)
        // the µs Spark's encoder stores for a java.sql.Timestamp
        case t: java.sql.Timestamp =>
          g.add(i, org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
        case d: Double => g.add(i, d)
      } }
      out.write(g)
    } finally out.close()
    fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"events rename failed: $dst")
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
