package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import java.nio.file.Files
import graft.TestSpark
import graft.behavior.Detectors
import graft.combine.Combine
import graft.functions.Cols
import graft.streaming.TubeStream

/** The engine must accept bronze parquet written by EXTERNAL tools with
  * their default timestamp encoding: pandas/pyarrow write µs timestamps
  * with `isAdjustedToUTC=false` (the reference's own chunk writer,
  * `combine_pose_id_chunk.py:324-331`), which Spark reads as
  * TIMESTAMP_NTZ. Every public entry point — batch detectors, the combine
  * ETL, the streaming pollers, Bronze.scan — is differential-tested here:
  * NTZ-encoded input must produce the exact TimestampType-input result,
  * not a crash and not a timezone-shifted answer.
  */
class NtzBoundarySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val parts = Map("nose" -> "nose", "head" -> "head",
    "centroid" -> "spine2", "tail_base" -> "spine4")
  val t0 = java.sql.Timestamp.valueOf("2024-06-01 12:00:00")

  /** Write `df` with every timestamp column downgraded to TIMESTAMP_NTZ
    * (= the pandas-default parquet encoding) and read it back, asserting
    * the round-trip really produced NTZ — the point of the fixture. */
  private def viaNtzParquet(df: DataFrame, dir: String): DataFrame = {
    val ntz = df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == TimestampType)
        d.withColumn(f.name, col(f.name).cast(TimestampNTZType))
      else d
    }
    ntz.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.schema.fields.exists(_.dataType == TimestampNTZType),
      s"fixture must read back as TIMESTAMP_NTZ, got ${back.schema.simpleString}")
    back
  }

  private def mouse(frame: Int, id: String, cx: Double, cy: Double,
      dir: Double, noseHead: Double = 2.0) = Seq(
    (frame, id, "nose", cx + dir * (8 + noseHead), cy),
    (frame, id, "head", cx + dir * 8, cy),
    (frame, id, "spine2", cx, cy),
    (frame, id, "spine4", cx - dir * 10, cy))

  private def poseDf(rows: Seq[(Int, String, String, Double, Double)]) =
    rows.map { case (frame, id, part, x, y) =>
      (new java.sql.Timestamp(t0.getTime + frame * 20L), id, part, x, y)
    }.toDF("time", "identity", "part", "x", "y")

  /** DetectorSpec's fight golden: frames 100–200 close/fast/contorted. */
  private def fightRows = (0 to 260).flatMap { f =>
    if (f >= 100 && f <= 200) {
      val x = 100.0 + (f - 100) * 10.0
      mouse(f, "A", x, 100, 1, noseHead = 10.0) ++
        mouse(f, "B", x + 3, 104, 1, noseHead = 10.0)
    } else mouse(f, "A", 100, 100, 1) ++ mouse(f, "B", 400, 400, 1)
  }

  test("detectFights over an NTZ-encoded pose+blob parquet ≡ TimestampType input") {
    val base = Files.createTempDirectory("graft_ntz_fight").toString
    val pose = poseDf(fightRows)
    // a constant-speed blob stream that passes the speed gate everywhere
    val blob = (0 to 260).map { f =>
      (new java.sql.Timestamp(t0.getTime + f * 20L), 100.0 + f * 12.0, 100.0)
    }.toDF("time", "x", "y")
    val p = Detectors.FightParams()
    def key(e: Detectors.FightEvent) =
      (e.start_ts.getTime, e.end_ts.getTime, e.duration_sec, e.end_x, e.end_y)
    val want = Detectors.detectFights(pose, Some(blob), parts, p)
      .collect().map(key).toSet
    assert(want.nonEmpty, "fixture must actually detect a fight")
    val got = Detectors.detectFights(
      viaNtzParquet(pose, s"$base/pose"),
      Some(viaNtzParquet(blob, s"$base/blob")), parts, p)
      .collect().map(key).toSet
    assert(got === want)
  }

  test("combineChunk over NTZ-encoded pose+ids chunks ≡ TimestampType input") {
    val base = Files.createTempDirectory("graft_ntz_combine").toString
    def ts(offsetUs: Long) = new java.sql.Timestamp(t0.getTime + offsetUs / 1000)
    val pose = Seq(
      (ts(2000), 1L, "anchor_spine2", 10.0, 10.0),
      (ts(2000), 1L, "head", 11.0, 12.0),
      (ts(2000), 2L, "anchor_spine2", 100.0, 100.0),
      (ts(2000), 3L, "anchor_spine2", 500.0, 500.0),
      (ts(42000), 4L, "anchor_spine2", 200.0, 200.0))
      .toDF("time", "pose_id", "part", "x", "y")
    val ids = Seq(
      (ts(1000), "alice", Map("alice" -> 0.9, "bob" -> 0.1), 12.0, 10.0),
      (ts(1000), "bob", Map("bob" -> 0.8, "alice" -> 0.2), 98.0, 102.0),
      (ts(41000), "carol", Map("carol" -> 0.7), 600.0, 600.0))
      .toDF("time", "identity", "identity_likelihood", "x_top", "y_top")
    val p = Combine.Params(fps = 50, maxDistance = 40)
    def rows(df: DataFrame) = df
      .select(col("pose_id"), col("part"), col("identity"),
        unix_micros(col("time").cast(TimestampType)).as("tus"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    val want = rows(Combine.combineChunk(pose, ids, p))
    assert(want.nonEmpty)
    val got = rows(Combine.combineChunk(
      viaNtzParquet(pose, s"$base/pose"), viaNtzParquet(ids, s"$base/ids"), p))
    assert(got === want)
  }

  test("streaming poller over NTZ-encoded pose chunks ≡ batch detector") {
    // the pollers read with an imposed TimestampType schema — the imposed
    // read must interpret NTZ micros as UTC instants, matching
    // normalizeNtz, so stream ≡ batch holds on external bronze data
    val base = Files.createTempDirectory("graft_ntz_poll").toString
    val poseDir = s"$base/pose"; val work = s"$base/work"
    val p = Detectors.TubeParams()
    val t0us = t0.getTime * 1000L
    val durUs = 20000L
    val rows = (0 to 300).flatMap { f =>
      if (f >= 100 && f < 120)
        mouse(f, "A", 100, 50, 1) ++ mouse(f, "B", 140, 50, -1)
      else if (f >= 120 && f < 170)
        mouse(f, "A", 100, 50, 1) ++
          mouse(f, "B", 140.0 + 3 * (f - 119), 50, 1)
      else mouse(f, "A", 100, 50, 1) ++ mouse(f, "B", 2000, 2000, -1)
    }
    viaNtzParquet(poseDf(rows), s"$poseDir/chunk1")
    TubeStream.pollTubeTests(spark, s"$poseDir/*", work, parts, p, t0us,
      Seq("A", "B"), t0us + 300L * durUs)
    val stream = TubeStream.tubeEvents(spark, work).collect()
      .map(e => (e.start_ts.getTime, e.end_ts.getTime, e.winner_identity)).toSet
    val batch = Detectors.detectTubeTests(poseDf(rows), parts, p).collect()
      .map(e => (e.start_ts.getTime, e.end_ts.getTime, e.winner_identity)).toSet
    assert(batch.nonEmpty)
    assert(stream === batch)
  }

  test("Bronze.scan over an externally-NTZ-written layout returns instants and prunes by range") {
    val base = Files.createTempDirectory("graft_ntz_bronze").toString
    val n = 500
    val df = (0 until n).map { i =>
      (new java.sql.Timestamp(t0.getTime + i * 60000L), i.toLong)
    }.toDF("time", "v")
    // external writer: NTZ timestamps, same hive layout Bronze.write uses
    df.withColumn("time", col("time").cast(TimestampNTZType))
      .withColumn("camera", lit("cam0")).withColumn("register", lit(201))
      .withColumn("date", to_date(col("time"))).withColumn("hour", hour(col("time")))
      .write.partitionBy("camera", "register", "date", "hour")
      .mode("overwrite").parquet(s"$base/bronze")
    val start = new java.sql.Timestamp(t0.getTime + 60L * 60000L)
    val end = new java.sql.Timestamp(t0.getTime + 120L * 60000L)
    val got = Bronze.scan(spark, s"$base/bronze", "cam0", 201, start, end)
    assert(got.schema("time").dataType === TimestampType)
    val want = df.filter(col("time") >= lit(start) && col("time") < lit(end))
      .select(unix_micros(col("time")).as("us"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.size === 60)
    assert(got.select(unix_micros(col("time")).as("us"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === want)
  }

  test("readNtzAsInstant: a time predicate still pushes down to the parquet scan") {
    val dir = Files.createTempDirectory("graft_ntz_push").toString + "/t"
    (0 until 100).map(i => (new java.sql.Timestamp(t0.getTime + i * 60000L), i.toLong))
      .toDF("time", "v").withColumn("time", col("time").cast(TimestampNTZType))
      .write.parquet(dir)
    def pushed(df: DataFrame): String = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    val df = Cols.readNtzAsInstant(spark, dir)
    assert(df.schema("time").dataType === TimestampType)
    val lo = new java.sql.Timestamp(
      df.agg(min(col("time"))).head().getTimestamp(0).getTime + 30L * 60000L)
    val q = df.filter(col("time") >= lit(lo))
    assert(pushed(q).contains("GreaterThanOrEqual(time,"), pushed(q))
    assert(q.count() === 70L)
    // the expression form over the same file cannot push the comparison
    val wrapped = Cols.normalizeNtz(spark.read.parquet(dir)).filter(col("time") >= lit(lo))
    assert(!pushed(wrapped).contains("GreaterThanOrEqual(time,"), pushed(wrapped))
    assert(wrapped.count() === 70L)
  }

  test("band/as-of joins reject cross-kind time columns loudly") {
    import org.apache.spark.sql.functions.col
    val inst = Seq((new java.sql.Timestamp(t0.getTime), 1L)).toDF("t", "v")
    val ntz = inst.withColumn("t", col("t").cast(TimestampNTZType))
    val frames = Seq((7L, 1L)).toDF("t", "v")
    // NTZ × instant: wall micros vs epoch micros — session-tz-shifted
    // matches if allowed through (the union coerces silently)
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.BandJoin.bandJoin(ntz, inst, "t", "t",
        lowerUs = -1000L, upperUs = 1000L)
    }
    assert(e1.getMessage.contains("disagree in kind"))
    // integral frame-ids × instant: epoch micros never land in any band
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.AsOfJoin.asofJoin(frames, inst, "t", Nil)
    }
    assert(e2.getMessage.contains("disagree in kind"))
    // same-kind inputs still join fine after normalization
    assert(graft.operators.BandJoin.bandJoin(Cols.normalizeNtz(ntz), inst,
      "t", "t", lowerUs = -1000L, upperUs = 1000L).count() === 1L)
  }

  test("micros/normalizeNtz round-trip: pre-1970, DST boundaries, odd offsets") {
    import org.apache.spark.sql.functions.{col, unix_micros}
    // wall instants chosen to straddle the awkward spots: negative epoch,
    // epoch zero, a US DST spring-forward, a half-hour-offset zone's
    // midnight, sub-second micros, far future
    val walls = Seq(
      "1899-12-31T23:59:59.123456", "1969-07-20T20:17:40",
      "1970-01-01T00:00:00", "2024-03-10T02:30:00", // nonexistent in US/Eastern
      "2024-06-01T12:00:00.000001", "2262-04-11T23:47:16.854775")
      .map(java.time.LocalDateTime.parse)
    val df = walls.map(Tuple1(_)).toDF("t") // LocalDateTime → TIMESTAMP_NTZ
    assert(df.schema("t").dataType === TimestampNTZType)
    val wantUs = walls.map(w =>
      w.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + w.getNano / 1000L)
    val before = spark.conf.get("spark.sql.session.timeZone")
    try {
      for (z <- Seq("UTC", "US/Eastern", "Asia/Kathmandu", "Australia/Eucla")) {
        spark.conf.set("spark.sql.session.timeZone", z)
        // NTZ wall micros: identical under every session zone, even for
        // walls that don't EXIST in that zone (DST spring-forward)
        val got = df.select(Cols.micros(df, "t")).collect().map(_.getLong(0)).toSeq
        assert(got === wantUs, s"wall micros drifted under zone $z")
        // normalizeNtz: the instant's epoch micros equal the wall micros
        // (wall read as UTC), under every session zone
        val inst = Cols.normalizeNtz(df)
        assert(inst.schema("t").dataType === TimestampType)
        assert(inst.select(unix_micros(col("t"))).collect()
          .map(_.getLong(0)).toSeq === wantUs, s"normalizeNtz drifted under $z")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", before)
  }

  test("Cols.micros: NTZ wall-clock micros are session-timezone-independent") {
    val df = Seq(new java.sql.Timestamp(t0.getTime)).toDF("t")
      .withColumn("t", col("t").cast(TimestampNTZType))
    val before = spark.conf.get("spark.sql.session.timeZone")
    val us = try {
      spark.conf.set("spark.sql.session.timeZone", "Australia/Eucla") // +8:45
      df.select(Cols.micros(df, "t")).head().getLong(0)
    } finally spark.conf.set("spark.sql.session.timeZone", before)
    val usUtc = df.select(Cols.micros(df, "t")).head().getLong(0)
    assert(us === usUtc, "wall-clock micros must not depend on session tz")
    assert(usUtc === t0.getTime * 1000L)
  }
}
