package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Incremental/streaming semantics — SURVEY §2.10.
  *
  * The reference hand-rolls micro-batching: a 30-minute polling loop
  * discovers unseen chunk files, remembers the processed set, and submits
  * work per chunk (`combine_pose_id_automated.py:149-185`), guarding
  * against double-writes with an exists-check
  * (`combine_pose_id_chunk.py:245-250`) and terminating the watch a fixed
  * time after the period ends (`:182-184`). Structured Streaming's file
  * source + checkpoint replaces all of it: exactly-once file tracking is
  * the checkpoint's job, idempotent output is the sink's job, and the
  * bounded watch is one `Trigger.AvailableNow` run per poll (or a timed
  * `stop()`): AvailableNow ends with the no-data batch in which a
  * stateful append query evicts with the watermark its last data batch
  * advanced, so one run emits everything that poll's data closed.
  *
  * Sessionization parity: `session_window(time, gap)` is the streaming
  * flavor of the batch cumulative-sum `Sessionize` — both split on
  * inter-event gaps; the boundary differs only at diff == gap exactly
  * (batch keeps, streaming splits), which ns-grained real data never hits.
  */
object Streaming {

  /** T1: incremental file-source ingest. New files under `path` are
    * discovered per micro-batch and never re-processed (checkpointed). */
  def fileStream(spark: SparkSession, path: String, schema: StructType,
      format: String = "parquet"): DataFrame =
    spark.readStream.schema(schema).format(format).load(path)

  /** T1/T2/S9: drain everything currently available into an idempotent
    * parquet sink and stop — the reference's poll-until-done loop as one
    * re-runnable call. The checkpoint makes re-runs exactly-once; the
    * `_spark_metadata` log makes the output directory self-describing.
    */
  def drainToParquet(df: DataFrame, outPath: String, checkpoint: String): Unit =
    parquetSink(df, outPath, checkpoint).awaitTermination()

  /** The idempotent checkpointed parquet sink both drains share. */
  private def parquetSink(df: DataFrame, outPath: String,
      checkpoint: String): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** T6: gap-based session aggregation via `session_window` — works on both
    * batch and streaming DataFrames, so batch/stream parity is the SAME
    * plan text. Output: by ++ (session_start, session_end, n_events).
    */
  def sessionCounts(events: DataFrame, timeCol: String, by: Seq[String],
      gap: String): DataFrame =
    events
      .groupBy((by.map(col) :+ session_window(col(timeCol), gap).as("sw")): _*)
      .agg(count(lit(1)).as("n_events"))
      .select(by.map(col) ++ Seq(
        col("sw.start").as("session_start"),
        col("sw.end").as("session_end"),
        col("n_events")): _*)

  /** T5/T6: watermarked streaming sessionization — late rows beyond
    * `lateness` are dropped, closed sessions are emitted exactly once
    * (append mode). */
  def streamingSessionCounts(events: DataFrame, timeCol: String,
      by: Seq[String], gap: String, lateness: String): DataFrame =
    sessionCounts(events.withWatermark(timeCol, lateness), timeCol, by, gap)

  /** T2/S9 at row grain: streaming deduplication of replayed rows. The
    * reference's exists-check guards whole chunk FILES; row-level replays
    * (a chunk partially re-delivered) need watermark-bounded dedup state:
    * duplicates of a key arriving within `lateness` of the watermark are
    * dropped, and state for keys older than the watermark is evicted — so
    * dedup memory is bounded by the lateness window, not the stream.
    */
  def dedupWithinWatermark(df: DataFrame, timeCol: String,
      keyCols: Seq[String], lateness: String): DataFrame =
    df.withWatermark(timeCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  case class FillRow(key: String, tsUs: Long, v: Option[Double])

  /** T5 + custom state: streaming forward-fill via
    * `flatMapGroupsWithState` — each key's last non-null value survives in
    * group state ACROSS micro-batches, so a value observed in chunk N fills
    * nulls at the head of chunk N+1 (the cross-chunk carry the reference
    * loses at its per-chunk job boundaries). Rows inside a micro-batch are
    * ordered by event time; batches are assumed in arrival order (the
    * bronze file source delivers chunk files in order). State is one value
    * per key — bounded, independent of stream length.
    */
  def statefulFfill(rows: Dataset[FillRow]): Dataset[FillRow] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[FillRow], state: GroupState[Double]) =>
          var last: Option[Double] = if (state.exists) Some(state.get) else None
          val out = it.toSeq.sortBy(_.tsUs).map { r =>
            last = r.v.orElse(last)
            FillRow(key, r.tsUs, last) // emitted value IS the carried state
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** T4: the Zip→timestamp→format→write chain of the reference's Bonsai
    * dataflow as a streaming select + sink (model scoring stays external).
    */
  def formatAndWrite(scored: DataFrame, register: Int, outPath: String,
      checkpoint: String): StreamingQuery =
    parquetSink(scored.withColumn("register", lit(register)), outPath, checkpoint)
}
