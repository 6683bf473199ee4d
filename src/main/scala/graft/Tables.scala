package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's synthetic tables (TESTDATA.md) and for
  * bronze pose-stream layouts (SURVEY §1.4).
  *
  * Two non-instant timestamp encodings appear in the wild and both
  * normalize to microsecond `TimestampType` here, at the boundary:
  *
  *  - nanosecond parquet timestamps, which Spark only reads as `LongType`
  *    (via `spark.sql.legacy.parquet.nanosAsLong`) → truncated to µs,
  *    identical to DuckDB's ns→µs cast, so oracle comparisons agree
  *    bit-for-bit;
  *  - µs timestamps with `isAdjustedToUTC=false` — what pandas/pyarrow
  *    write by default (reference `combine_pose_id_chunk.py:324-331`) —
  *    which Spark reads as `TIMESTAMP_NTZ` → wall time read as UTC
  *    ([[graft.functions.Cols.normalizeNtz]]), value-preserving and
  *    session-timezone-independent.
  */
object Tables {
  /** Session settings every entry point uses. Call before first read. */
  def configure(builder: SparkSession.Builder): SparkSession.Builder = builder
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    // ObjectHashAggregate (every TypedImperativeAggregate — the capped
    // by-key span/line aggregates) falls back to SORT-based aggregation
    // after 128 distinct keys by default, silently sorting corpus-sized
    // window-key streams. The capped buffers are small by construction
    // (≤ cap entries each), so 256k keys per task is tens of MB — hold
    // the hash path that long; genuinely huge per-task key counts still
    // fall back to sort instead of OOMing.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "262144")
    // Parquet split sizing: the default 4 MB file-open cost FLOORS the
    // split size, so a compact compressed file (text/ids compress ~10×)
    // scans as 1–2 tasks however many cores are idle — and the
    // downstream per-row kernels (tokenize, hash, score) then run
    // single-threaded while 30 cores wait. Those kernels, not the I/O,
    // are the cost: a 256 KB compressed split carries megabytes of
    // decompressed compute, and DuckDB already parallelizes the same
    // file per row group (its scans beat ours 10–50× on exactly the
    // scan-bound text queries before this). Large files are unaffected
    // (splits still cap at maxPartitionBytes = 128 MB); at cluster
    // scale splits should track row groups, not raw compressed bytes.
    .config("spark.sql.files.openCostInBytes",
      sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", String.valueOf(256 * 1024)))
    // Generated classes are cached per JVM in an LRU of 100 entries by
    // default. A handful of graft queries generate more than 100 between
    // them, so each pass evicts the next query's classes and compiles them
    // all again (25–46 compiles per warm pass of four queries); 1000
    // entries keep a warm pass at zero. Static: read when the first class
    // is generated.
    .config("spark.sql.codegen.cache.maxEntries", "1000")
    // The local file system without shell forks (graft.io.LocalFs). Hadoop's
    // stock one, without its native library, starts a `chmod` process for
    // every create or mkdir that carries a permission and a `readlink`
    // process on each side of every FileContext rename (checkpoint log
    // entries, `.crc` files, snapshots, committer output): 70–100 processes
    // per warm fight poll, most of a poll's checkpoint-log time. The
    // replacement sets the same 9 permission bits through java.nio and
    // reads a non-link's status directly; sticky bits, symbolic links,
    // checksums and `.crc` files take the stock code. Only `file://`
    // changes. Hadoop caches a FileSystem per scheme and user for the JVM,
    // so this holds only when the first `file://` FileSystem is created
    // from this session's configuration.
    .config("spark.hadoop.fs.file.impl", classOf[graft.io.ForkFreeLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[graft.io.ForkFreeLocalFs].getName)

  /** Inferred schema per table path, memoized for the JVM: the driver's
    * synthetic tables are immutable test fixtures, and every
    * schema-INFERRING `spark.read.parquet` costs a one-task footer job —
    * `table` used to pay two to three of those per call (the probe read
    * plus the NTZ re-read), multiplied by queries × reps in a bench run.
    * Only static test tables go through here; mutable layouts (index
    * version dirs, deltas) never use this cache. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path,
      _ => spark.read.parquet(path).schema)
    if (name == "events" && schema("ts").dataType.typeName == "long")
      spark.read.schema(schema).parquet(path)
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else
      // NTZ columns imposed as instant TimestampType at the reader, so
      // time predicates still push down (the Cols.readNtzAsInstant
      // contract, on the memoized schema): the parquet reader yields the
      // wall-clock micros as UTC instants natively
      spark.read.schema(StructType(schema.fields.map(f =>
          if (f.dataType == TimestampNTZType) f.copy(dataType = TimestampType)
          else f)))
        .parquet(path)
  }

  def events(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "events")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
