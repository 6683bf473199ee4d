package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.llm.Similarity

/** Ingest-time ANN index freshness: a checkpointed poller that appends
  * every newly-landed embedding file to a persisted IVF index
  * ([[graft.llm.Similarity.saveIvf]]) — the serving loop of a
  * training-data pipeline where the corpus grows by deliveries and query
  * batches must see them without a corpus-wide rebuild per poll.
  *
  * Per micro-batch: assign ONLY the delivery's vectors against the stored
  * centroids and land them as the `_COMMIT`-gated delta `b<batchId>`
  * ([[graft.llm.Similarity.appendIvfIndex]]); every `compactEvery`
  * batches, fold base + deltas into one new committed version
  * ([[graft.llm.Similarity.compactIvfIndex]]) so a weeks-running poller
  * lists a bounded number of delta dirs per query, not one per poll ever
  * run. Work is DELIVERY-proportional; the corpus-proportional passes
  * (k-means retrain, full re-assignment) happen only in an operator-
  * initiated [[graft.llm.Similarity.saveIvf]] rebuild with the
  * poller stopped (same stop-the-poller contract as
  * [[DedupStream.repairMerges]]).
  *
  * Exactly-once across crash/replay, without reading the checkpoint:
  * the delta is KEYED by the micro-batch id, so a replay rewrites the
  * same dir from the same deterministic file-source slice (the marker is
  * dropped before the rewrite — no half-written files behind a stale
  * commit), and a replay whose delta was already folded by a compaction
  * finds its batch id in the version manifest's folded-delta ledger and
  * no-ops.
  * Either way the replayed poll converges to the exact pre-crash state.
  *
  * Landing layout: parquet files of (vec_id bigint, embedding
  * array<float>) one level below `landingDir`, mirroring
  * [[DedupStream.pollNearDedup]]'s landing contract.
  *
  * The poller is FLAVOR-AGNOSTIC: deliveries land in whatever format the
  * index records ([[graft.llm.Similarity.appendIvfIndex]] reads the
  * version manifest's flavor and quantizes per-row), so an SQ8 index
  * — the cheapest serving tier — stays fresh by the same delivery-
  * proportional polls as a float one (spec-pinned: served ≡ a full
  * quantize-everything rebuild, across compaction and crash replay).
  */
object IvfStream {
  val landingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  /** One incremental poll: append every embedding file new to the
    * checkpoint to the index, compacting every `compactEvery` batches
    * (0 disables compaction). The index must exist —
    * [[graft.llm.Similarity.saveIvf]] seeds it. `retain` previous
    * committed versions survive each fold
    * ([[graft.llm.Similarity.compactIvfIndex]]) — set 1 when query
    * batches are served concurrently with the poller, so a reader that
    * resolved its version just before a fold finishes its scan. */
  def pollAppend(spark: SparkSession, landingDir: String, indexDir: String,
      workDir: String, compactEvery: Int = 16, retain: Int = 0): Unit = {
    spark.readStream.schema(landingSchema).parquet(s"$landingDir/*")
      .writeStream.option("checkpointLocation", s"$workDir/ckpt")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        if (!batch.isEmpty)
          Similarity.appendIvfIndex(batch, "vec_id", "embedding", indexDir,
            Some(s"b$batchId"))
        if (compactEvery > 0 && batchId % compactEvery == (compactEvery - 1))
          Similarity.compactIvfIndex(sp, indexDir, retain)
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
  }
}
