package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pure-`Column` combinators for the reference's scalar math surface
  * (SURVEY §2.2, §2.8). Everything here stays inside whole-stage codegen —
  * no UDFs, no serialization breaks.
  */
object Cols {
  /** Euclidean distance (reference `np.linalg.norm`,
    * `social_behaviour_detection.py:174,181-190,571-572`). */
  def euclidean(x1: Column, y1: Column, x2: Column, y2: Column): Column =
    hypot(x2 - x1, y2 - y1)

  /** Orientation in degrees ∈ [0, 360) of the vector (x1,y1)→(x2,y2)
    * (reference arctan2 + degrees + mod-360,
    * `social_behaviour_detection.py:194-208`). */
  def orientationDeg(x1: Column, y1: Column, x2: Column, y2: Column): Column =
    pmod(degrees(atan2(y2 - y1, x2 - x1)), lit(360.0))

  /** 3×3 projective (homography) transform of a point, homogeneous divide
    * (reference `combine_pose_id_chunk.py:21-33`). `h` is row-major. */
  def homographyX(h: Seq[Double], x: Column, y: Column): Column =
    (lit(h(0)) * x + lit(h(1)) * y + lit(h(2))) / (lit(h(6)) * x + lit(h(7)) * y + lit(h(8)))
  def homographyY(h: Seq[Double], x: Column, y: Column): Column =
    (lit(h(3)) * x + lit(h(4)) * y + lit(h(5))) / (lit(h(6)) * x + lit(h(7)) * y + lit(h(8)))

  /** All `span`-token sliding-window hash keys of a token array in one
    * compiled pass ([[graft.expressions.WindowHashes]]) — the span-dedup
    * family's shared window keying; batch and stream MUST derive keys
    * through this one function (stream state persists them). */
  def windowHashes(tok: Column, span: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.WindowHashes(
      ColumnBridge.expression(tok),
      org.apache.spark.sql.catalyst.expressions.Literal(span)))
  }

  /** All `span`-token sliding-window STRINGS in one compiled pass
    * ([[graft.expressions.WindowStrings]]) — the span family's
    * `hashWindows = false` keying (windows as text for the oracle
    * replay), zero-copy views over one joined buffer. */
  def windowStrings(tok: Column, span: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.WindowStrings(
      ColumnBridge.expression(tok),
      org.apache.spark.sql.catalyst.expressions.Literal(span)))
  }

  /** All within-document repetition tallies of a token array in one
    * compiled pass ([[graft.expressions.RepetitionCounts]]) — struct
    * (n_tokens, n_distinct_tokens, n_bigrams, n_distinct_bigrams,
    * top_bigram_cnt); the Gopher repetition family's counting kernel. */
  def repetitionCounts(tok: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.RepetitionCounts(
      ColumnBridge.expression(tok)))
  }

  /** The repetition floor as one compiled boolean
    * ([[graft.expressions.RepetitionPass]]): true iff the doc's rounded
    * dup_word_frac / top_bigram_frac are within the thresholds. Null on
    * null tokens (≡ drop under `filter`). */
  def repetitionPass(tok: Column, maxDupWordFrac: Double,
      maxTopBigramFrac: Double): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.RepetitionPass(
      ColumnBridge.expression(tok),
      org.apache.spark.sql.catalyst.expressions.Literal(maxDupWordFrac),
      org.apache.spark.sql.catalyst.expressions.Literal(maxTopBigramFrac)))
  }

  /** Count of a token array's members in a bound string set in one
    * compiled pass ([[graft.expressions.TokenSetHits]]) — the
    * stopword/marker membership count without the interpreted
    * filter/isInCollection lambda. */
  def tokenSetHits(tok: Column, tokens: Seq[String]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.TokenSetHits(
      ColumnBridge.expression(tok), tokens))
  }

  /** Count of a string array's members matching a bound regex (rlike
    * semantics) in one compiled pass
    * ([[graft.expressions.TokenRegexHits]]). */
  def tokenRegexHits(arr: Column, pattern: String): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.TokenRegexHits(
      ColumnBridge.expression(arr), pattern))
  }

  /** Count of a string's codepoints in a bound ASCII set as one
    * compiled byte scan ([[graft.expressions.AsciiSetCount]]) — the
    * char-class counting shape without a regex pass. */
  def asciiSetCount(text: Column, chars: String): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.AsciiSetCount(
      ColumnBridge.expression(text), chars))
  }

  /** Count of a token array's members containing at least one byte
    * from a bound ASCII set ([[graft.expressions.TokenAnyAsciiHits]]). */
  /** Winnowing document sketch (Schleimer et al. 2003) — array<long> of
    * distinct k-gram rolling-hash window minima
    * ([[graft.expressions.WinnowSketchExpr]], delegating to the
    * property-tested [[graft.llm.TextStats.winnow]] kernel). */
  def winnowSketch(text: Column, k: Int, window: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.WinnowSketchExpr(
      ColumnBridge.expression(text), k, window))
  }

  /** struct(dl, counts) — non-empty token count and per-bound-term
    * occurrence counts over LOWERED text in one compiled byte pass
    * ([[graft.expressions.QueryTermCounts]]). */
  def queryTermCounts(loweredText: Column, terms: Seq[String]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.QueryTermCounts(
      ColumnBridge.expression(loweredText), terms))
  }

  /** struct(n_words, n_alpha, stop_hits) over LOWERED text in one
    * compiled byte pass ([[graft.expressions.GopherWordCounts]]). */
  def gopherWordCounts(loweredText: Column, stops: Seq[String]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.GopherWordCounts(
      ColumnBridge.expression(loweredText), stops))
  }

  /** struct(n_chars, n_hash, n_ellipsis, n_lines, n_bullet, n_ell_lines)
    * over RAW text in compiled byte passes
    * ([[graft.expressions.GopherRawCounts]]). */
  def gopherRawCounts(text: Column, sep: String): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.GopherRawCounts(
      ColumnBridge.expression(text), sep))
  }

  def tokenAnyAsciiHits(tok: Column, chars: String): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.TokenAnyAsciiHits(
      ColumnBridge.expression(tok), chars))
  }

  /** Alnum-run + other-codepoint count (the BPE-ish token estimate) in
    * one compiled byte scan ([[graft.expressions.AlnumRunCount]]). */
  def alnumRunCount(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.AlnumRunCount(
      ColumnBridge.expression(text)))
  }

  /** Span-removal rebuild (interval merge + complement + reassembly) in
    * one compiled pass ([[graft.expressions.SpanRemoveRebuild]]) —
    * struct(clean_text, n_removed). */
  def spanRemoveRebuild(tok: Column, starts: Column, span: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.SpanRemoveRebuild(
      ColumnBridge.expression(tok), ColumnBridge.expression(starts),
      org.apache.spark.sql.catalyst.expressions.Literal(span)))
  }

  /** Line-removal rebuild (kept lines joined by the bound separator) in
    * one compiled pass ([[graft.expressions.LineRemoveRebuild]]) —
    * struct(clean_text, n_removed). */
  def lineRemoveRebuild(lines: Column, kpos: Column, sep: String): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.LineRemoveRebuild(
      ColumnBridge.expression(lines), ColumnBridge.expression(kpos), sep))
  }

  /** Per-document (term, tf) pairs of a token array in one compiled
    * pass ([[graft.expressions.TermCounts]]) — term frequency without
    * the corpus-token-scale groupBy exchange. */
  def termCounts(tok: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.TermCounts(
      ColumnBridge.expression(tok)))
  }

  /** PII scrub (email → IPv4 → phone, `Quality.scrubPii` semantics) as
    * one compiled byte scan ([[graft.expressions.PiiScrubExpr]]). */
  def piiScrub(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.PiiScrubExpr(
      ColumnBridge.expression(text)))
  }

  /** PII counts + scrub in one compiled byte scan
    * ([[graft.expressions.PiiStatsExpr]]) — struct(n_email, n_ip,
    * n_phone, scrubbed); counts on the original text, scrub
    * sequential. */
  def piiStats(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.PiiStatsExpr(
      ColumnBridge.expression(text)))
  }

  /** Per-document n-gram NLL sum (struct(n_tokens, s6), exact micro-nat
    * integers) over a token array against a broadcast
    * [[graft.expressions.LmModel]] in one compiled pass
    * ([[graft.expressions.NgramNll6]]) — the zero-shuffle scoring kernel
    * under the perplexity/DSIR family. */
  def ngramNll6(tok: Column,
      model: org.apache.spark.broadcast.Broadcast[graft.expressions.LmModel])
      : Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.NgramNll6(
      ColumnBridge.expression(tok), model))
  }

  /** Per-element xxhash64 of a string array in one compiled pass
    * ([[graft.expressions.ElementXxHash]]) — value-identical to
    * `transform(arr, x => xxhash64(x))`, so persisted hash-keyed state
    * survives the swap. */
  def elementXxHash(arr: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.ElementXxHash(
      ColumnBridge.expression(arr)))
  }

  /** Line-chunk staging (`regexp_replace(text, "((\\S+ ){n-1}\\S+) ",
    * "$1\\n")`) as one compiled byte scan
    * ([[graft.expressions.ChunkLines]]) — property-pinned identical to
    * the java regex form. */
  def chunkLines(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.ChunkLines(
      ColumnBridge.expression(text),
      org.apache.spark.sql.catalyst.expressions.Literal(n)))
  }

  /** Per-element cross-engine md5-low-60 hash of a string array in one
    * compiled pass ([[graft.expressions.ElementMd5Low60]]) — DuckDB
    * reproduces the values as `('0x' || substr(md5(x), 1, 15))::BIGINT`,
    * so hashed key paths keyed by this stay differentially replayable. */
  def elementMd5Low60(arr: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.ElementMd5Low60(
      ColumnBridge.expression(arr)))
  }

  /** Point in annulus ROI (reference arena inner/outer radius test,
    * `social_behaviour_detection.py:241-257`): squared-distance form avoids
    * the sqrt in the hot path. */
  def inAnnulus(x: Column, y: Column, cx: Column, cy: Column,
      rInner: Column, rOuter: Column): Column = {
    val d2 = (x - cx) * (x - cx) + (y - cy) * (y - cy)
    d2 >= rInner * rInner && d2 <= rOuter * rOuter
  }

  /** Point in convex polygon via half-plane sign tests — pure column math,
    * no UDF (reference Shapely point-in-polygon for quadrant FOVs,
    * `generate_composite_quadrant_videos.py:246-255`; convex case only).
    * Vertices must be in consistent winding order.
    */
  def inConvexPolygon(x: Column, y: Column, vertices: Seq[(Double, Double)]): Column = {
    val edges = vertices.zip(vertices.tail :+ vertices.head)
    val signs = edges.map { case ((x1, y1), (x2, y2)) =>
      (lit(x2 - x1) * (y - lit(y1))) - (lit(y2 - y1) * (x - lit(x1)))
    }
    signs.map(_ >= 0).reduce(_ && _) || signs.map(_ <= 0).reduce(_ && _)
  }

  /** Speed between consecutive samples in px/s given position deltas and dt
    * seconds (reference `social_behaviour_detection.py:579-601`). */
  def speed(dx: Column, dy: Column, dtSeconds: Column): Column =
    hypot(dx, dy) / dtSeconds

  /** pandas `isclose(atol)` (reference `social_behaviour_detection.py:211,283,295`). */
  def isClose(a: Column, b: Column, atol: Double): Column = abs(a - b) <= lit(atol)

  /** Frame id from a timestamp given stream start and fps (reference
    * `social_behaviour_detection.py:138,521`). `timeUs` is already in
    * microseconds — callers resolve the column type via [[micros]]. */
  def frameId(timeUs: Column, startUs: Column, fps: Double): Column =
    round((timeUs - startUs).cast("double") * fps / 1e6).cast("long")

  // ---- time-encoding normalization ------------------------------------
  //
  // Parquet written by pandas/pyarrow defaults to µs timestamps with
  // isAdjustedToUTC=false (the reference's own chunk writer,
  // `combine_pose_id_chunk.py:324-331`), which Spark reads as
  // TIMESTAMP_NTZ. The engine's time math is µs-since-epoch longs, so
  // every operator that touches a time column resolves it through
  // [[micros]] instead of calling `unix_micros` directly — `unix_micros`
  // throws DATATYPE_MISMATCH on NTZ input.

  /** Wall-clock microseconds since 1970-01-01T00:00 of a TIMESTAMP_NTZ
    * column. Built from WALL FIELDS (date diff + hour/minute/fractional
    * second), never from a timestamp conversion: `timestampdiff` resolves
    * NTZ operands through the session zone, so a wall that does not exist
    * there (a DST spring-forward gap, e.g. 2024-03-10T02:30 in
    * US/Eastern) silently gap-adjusts one hour — measured, and pinned by
    * NtzBoundarySpec's round-trip grid. Field extraction on NTZ is
    * defined on the wall clock alone, so this form is independent of
    * `spark.sql.session.timeZone` for EVERY wall value, and gap/band/
    * tolerance math cannot compress or stretch across DST transitions of
    * a non-UTC session. All terms stay inside whole-stage codegen. */
  def ntzMicros(c: Column): Column =
    datediff(c.cast("date"), lit(java.sql.Date.valueOf("1970-01-01")))
      .cast("long") * 86400000000L +
      hour(c).cast("long") * 3600000000L +
      minute(c).cast("long") * 60000000L +
      (date_part(lit("SECOND"), c) * 1000000).cast("long")

  /** Type-aware epoch/wall-clock microseconds of a time column: instant
    * timestamps via `unix_micros`, TIMESTAMP_NTZ via wall-clock micros,
    * integral frame-ids pass through (units stay the caller's own).
    * Fractional types are rejected loudly — a silent cast-to-long would
    * truncate tolerance/band math while sorts stayed exact. */
  def micros(c: Column, dt: DataType): Column = dt match {
    case TimestampType                             => unix_micros(c)
    case TimestampNTZType                          => ntzMicros(c)
    case LongType | IntegerType | ShortType | ByteType => c.cast("long")
    case d: DecimalType if d.scale == 0            => c.cast("long")
    case t => throw new IllegalArgumentException(
      s"time column must be timestamp, timestamp_ntz, or integral, got ${t.simpleString}")
  }

  /** [[micros]] with the type resolved from `df`'s schema. */
  def micros(df: DataFrame, name: String): Column = micros(df(name), df.schema(name).dataType)

  /** Coarse unit category of a time column — instant timestamps, wall-clock
    * NTZ, and integral frame-ids all resolve through [[micros]], but their
    * VALUES live on different axes (epoch micros / wall micros / frame
    * counts). Two-sided operators (as-of, band join) must reject a
    * cross-category pair loudly: the per-side resolution would otherwise
    * produce silently disjoint or session-tz-shifted matches. */
  def timeCategory(dt: DataType): String = dt match {
    case TimestampType    => "instant timestamp"
    case TimestampNTZType => "wall-clock timestamp_ntz"
    case LongType | IntegerType | ShortType | ByteType => "integral"
    case d: DecimalType if d.scale == 0                => "integral"
    case t => throw new IllegalArgumentException(
      s"time column must be timestamp, timestamp_ntz, or integral, got ${t.simpleString}")
  }

  /** Cast every top-level TIMESTAMP_NTZ column of `df` to an instant
    * `TimestampType` by reading the wall time as UTC —
    * timezone-independent (unlike a bare `cast` under a non-UTC session).
    * Applied at every source boundary (Tables, Bronze, HarpBin readers)
    * so the engine interior can assume `TimestampType`. */
  def normalizeNtz(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name }
    ntz.foldLeft(df)((d, n) => d.withColumn(n, timestamp_micros(ntzMicros(col(n)))))
  }

  /** Read a parquet path with every TIMESTAMP_NTZ column IMPOSED as
    * instant `TimestampType` in the reader schema: the parquet reader then
    * yields the wall-clock micros as UTC instants natively — value-
    * identical to [[normalizeNtz]], but with no expression layer over the
    * scan, so time predicates still push down to the parquet row groups
    * (an expression-wrapped column defeats PushedFilters — measured on
    * s1_time_range_scan; `NtzBoundarySpec` "readNtzAsInstant: a time
    * predicate still pushes down to the parquet scan" pins it). The PATH-level
    * boundary form; [[normalizeNtz]] covers frames received as
    * DataFrames. */
  def readNtzAsInstant(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val probe = spark.read.parquet(path)
    if (!probe.schema.fields.exists(_.dataType == TimestampNTZType)) probe
    else spark.read.schema(StructType(probe.schema.fields.map(f =>
        if (f.dataType == TimestampNTZType) f.copy(dataType = TimestampType)
        else f)))
      .parquet(path)
  }
}
