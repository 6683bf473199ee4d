package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.llm.{Gates, Similarity}

/** The composed training-data ingest loop: documents and their embeddings
  * land together, every delivery is near-dup deduped against the ENTIRE
  * accumulated corpus ([[DedupStream]] state), and ONLY the embeddings of
  * documents that become NEW cluster representatives enter the persisted
  * ANN index ([[graft.llm.Similarity.appendIvfIndex]]) — the index serves
  * a deduplicated corpus by construction: one vector per near-dup
  * cluster, re-deliveries and near-copies never inflate it.
  *
  * Per micro-batch, inside ONE checkpointed stream:
  *   1. [[DedupStream.processBatch]] clusters the delivery against state
  *      (its own exactly-once story, the [[StateLog]] protocol: per-batch
  *      state dirs, replays rewrite bit-identically, snapshot compaction);
  *   2. the batch's assignment table (`assign/b<id>`) names the new reps:
  *      `rep_id = doc_id` — a doc attaching to any stored cluster gets
  *      the stored (smaller-id) rep instead;
  *   3. those docs' embeddings append to the index as delta `b<id>`
  *      ([[graft.llm.Similarity.appendIvfIndex]]'s replay/fold-ledger
  *      idempotence; a delivery with no new reps appends nothing).
  *
  * A crash between (1) and (3) replays the whole batch: (1) rewrites the
  * same state dirs, (2) reads the same rewritten assignment, (3) rewrites
  * the same delta or no-ops via the index's folded-delta ledger —
  * convergent at every cut point.
  *
  * Seed the index before the first poll — with a corpus, or EMPTY with
  * externally-trained centroids (`saveIvf(centroids = Some(...))`
  * over zero rows) to grow purely by ingest.
  *
  * Documented deviation, inherited from [[DedupStream]]: clusters never
  * merge across batches, so a later bridge doc attaches to ONE stored rep
  * while batch semantics would merge two clusters — after an offline
  * [[DedupStream.repairMerges]], reps rewritten away remain in the index
  * until the next operator-initiated full rebuild (`saveIvf` over
  * the repaired representative corpus, poller stopped): the index is a
  * superset of the repaired representative set, never missing one.
  *
  * Landing layout: parquet files of [[landingSchema]] one level below
  * `landingDir`.
  */
object PipelineStream {
  val landingSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  /** Semantic-floor state (`workDir/sem`, a [[StateLog]]): the
    * (id, coarse cell, vector, kept) of every SCORABLE document the gate
    * ever saw. `kept = true` rows are the survivors — the reference set
    * later deliveries score against; `kept = false` rows (floored at
    * landing) carry their vectors so [[repairSem]] can rebuild the FULL
    * near-dup graph offline, bridges through dropped documents included
    * — without them the chain deviation would be unrepairable (the
    * bridge vector would be gone). State stays corpus-proportional
    * either way. */
  private val semSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("cell", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("kept", BooleanType)))

  private def semLog(workDir: String) = StateLog(s"$workDir/sem", semSchema)
  /** Every `sem` dir is written sorted by cell, so the gate's probed-cell
    * filter prunes parquet row groups. */
  private val byCell: DataFrame => DataFrame = _.sortWithinPartitions("cell")

  /** Score one delivery through the semantic floor (contract in
    * [[graft.llm.Gates.Semantic]]) and land its survivors in the `sem` log;
    * returns the delivery minus floored documents. */
  private def semGate(sp: SparkSession, batch0: DataFrame, workDir: String,
      indexDir: String, semMinCos: Double, compactEvery: Int,
      batchId: Long): DataFrame = {
    semLog(workDir).compactIfDue(sp, batchId, compactEvery, byCell)
    val cents = Similarity.ivfCentroids(sp, indexDir)
    // consumed by the within-delivery dedup, the anti-join, the cell
    // assignment, and the state landing — materialize the poll-sized
    // projection once
    val vecs = batch0
      .select(col("doc_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .dropDuplicates("vec_id")
      .localCheckpoint()
    // (a) within-delivery, cluster-scoped keep-min
    val d1 = Similarity.semDedupDropped(vecs, cents, "vec_id", "embedding",
      semMinCos).localCheckpoint()
    val surv1 = vecs.join(d1.select(col("_drop").as("vec_id")),
      Seq("vec_id"), "left_anti")
    val dSide = surv1
      .join(Similarity.assignCells(surv1, cents, "vec_id", "embedding", 1),
        "vec_id")
      .localCheckpoint()
    // (b) against accumulated survivors, replay-blind to own/later dirs;
    // the state scan is pre-filtered to the delivery's probed cells (an
    // isin filter parquet prunes row groups by — snapshots are written
    // sorted by cell), and the DELIVERY side broadcasts: the state never
    // shuffles, the DedupStream index-probe shape
    val probedCells = dSide.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    val state = semLog(workDir).read(sp, batchId)
      .filter(col("kept") && col("cell").isin(probedCells: _*))
      .select(col("cell"), col("embedding").as("_se"))
    val cos = Similarity.dotNative(col("_se"), col("embedding")) /
      (sqrt(Similarity.dotNative(col("_se"), col("_se"))) *
        sqrt(Similarity.dotNative(col("embedding"), col("embedding"))))
    val d2 = state.join(broadcast(dSide), Seq("cell"))
      .filter(!isnan(cos) && cos >= semMinCos)
      .select("vec_id").distinct()
      .localCheckpoint()
    // floored documents land too (kept = false), WITH their vectors —
    // the repair's raw material (see semSchema); within-delivery drops
    // re-assign their cell here (they skipped the survivor-side
    // assignment), and an unscorable drop cannot exist (a drop requires
    // a finite-cosine pair), so the inner assign join loses nothing
    val drops1 = vecs.join(d1.select(col("_drop").as("vec_id")),
      Seq("vec_id"), "left_semi")
    val drop1Side = drops1
      .join(Similarity.assignCells(drops1, cents, "vec_id", "embedding", 1),
        "vec_id")
    val landed = dSide.join(d2, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"), col("embedding"))
      .withColumn("kept", lit(true))
      .unionByName(dSide.join(d2, Seq("vec_id"), "left_semi")
        .select(col("vec_id"), col("cell"), col("embedding"))
        .withColumn("kept", lit(false)))
      .unionByName(drop1Side
        .select(col("vec_id"), col("cell"), col("embedding"))
        .withColumn("kept", lit(false)))
    semLog(workDir).write(batchId, byCell(landed))
    val floored = d1.select(col("_drop").as("doc_id"))
      .unionByName(d2.select(col("vec_id").as("doc_id")))
    batch0.join(floored, Seq("doc_id"), "left_anti")
  }

  /** One incremental poll over doc+embedding deliveries: gate each
    * delivery through `gates` ([[graft.llm.Gates]], the same value and
    * order as the batch [[graft.llm.Corpus.prepare]]; the semantic and
    * span gates score against state accumulated under `workDir`), dedup
    * the survivors against the full corpus state, then index only the new
    * representatives — gated documents never enter cluster state or the
    * index. `compactEvery`/`retain` control the INDEX fold cadence
    * ([[IvfStream.pollAppend]] semantics); the dedup, span and semantic
    * state compact on `p.compactEvery`. */
  def pollIngest(spark: SparkSession, landingDir: String, workDir: String,
      indexDir: String, gates: Gates = Gates(),
      p: DedupStream.Params = DedupStream.Params(),
      compactEvery: Int = 16, retain: Int = 0): Unit = {
    spark.readStream.schema(landingSchema).parquet(s"$landingDir/*")
      .writeStream.option("checkpointLocation", s"$workDir/ckpt")
      .outputMode("append")
      .foreachBatch { (batch1: DataFrame, batchId: Long) =>
        val sp = batch1.sparkSession
        val normGated = gates.normalized(batch1, "text")
        val batch0 = gates.semantic.fold(normGated)(sem =>
          semGate(sp, normGated, workDir, indexDir, sem.semMinCos,
            p.compactEvery, batchId))
        val spanGated = gates.span.fold(batch0) { span =>
          SpanDupStream.processBatch(sp, batch0.select("doc_id", "text"),
            workDir, SpanDupStream.Params(spanTokens = span.spanTokens,
              compactEvery = p.compactEvery), batchId)
          val floored = SpanDupStream.statsLog(workDir).batch(sp, batchId)
            .filter(col("dup_frac") > span.maxDupFrac)
            .select("doc_id")
          batch0.join(floored, Seq("doc_id"), "left_anti")
        }
        val batch = gates.filter(spanGated, "doc_id", "text")
        DedupStream.processBatch(sp, batch.select("doc_id", "text"),
          workDir, p, batchId)
        val newReps = DedupStream.assignLog(workDir).batch(sp, batchId)
          .filter(col("rep_id") === col("doc_id"))
          .select(col("doc_id").as("vec_id"))
        // dropDuplicates: a doc_id landing twice in one delivery (double-
        // landed file rows) must still append ONE vector — readers never
        // re-check the one-vector-per-representative invariant
        val newVecs = batch
          .select(col("doc_id").as("vec_id"), col("embedding"))
          .dropDuplicates("vec_id")
          .join(newReps, "vec_id")
        Similarity.appendIvfIndex(newVecs, "vec_id", "embedding", indexDir,
          Some(s"b$batchId"))
        if (compactEvery > 0 && batchId % compactEvery == (compactEvery - 1))
          Similarity.compactIvfIndex(sp, indexDir, retain)
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
  }

  /** Close the cross-batch deviation END TO END, offline (poller
    * stopped): run [[DedupStream.repairMerges]] — bridge clusters the
    * stream left split merge to their true component reps — then PRUNE
    * the index to exactly the repaired representative set. Every
    * post-repair rep is an EXISTING rep (a merged component's rep is the
    * min assigned doc id = the min of its sub-clusters' reps, and every
    * sub-cluster rep was indexed when it appeared), so pruning the stored
    * corpus is sufficient: no embedding needs to be re-landed, and
    * afterwards the index holds one vector per REPAIRED cluster — the
    * state a batch pipeline over the full corpus would have produced.
    * Rides the index version protocol ([[graft.llm.Similarity
    * .rewriteIvfIndex]]): crash-safe, folded-delta ledger carried, resuming
    * the poller afterwards is the documented single-writer hand-back. */
  def repairAndPrune(spark: SparkSession, workDir: String, indexDir: String,
      p: DedupStream.Params = DedupStream.Params(), retain: Int = 0): Unit = {
    DedupStream.repairMerges(spark, workDir, p)
    val reps = DedupStream.assignments(spark, workDir)
      .filter(col("rep_id") === col("doc_id"))
      .select(col("doc_id").as("neighbor_id"))
    // plain semi-join: the representative set IS the deduplicated corpus
    // (huge at scale) — no broadcast hint; AQE may still choose one when
    // it fits
    Similarity.rewriteIvfIndex(spark, indexDir, retain)(
      _.join(reps, Seq("neighbor_id"), "left_semi"))
  }

  /** The semantic gate's current survivor set as a (vec_id, cell) table
    * — every state row with `kept = true`, repaired snapshots included
    * ([[DedupStream.assignments]]' twin for the `sem/` state).
    * Read through [[StateLog.read]]: the DataFrame fixes its file list
    * when it is built, so re-read it after a poll that compacts. */
  def semSurvivors(spark: SparkSession, workDir: String): DataFrame =
    semLog(workDir).read(spark)
      .filter(col("kept")).select("vec_id", "cell")

  /** Offline repair of the semantic gate's cross-delivery deviation —
    * [[DedupStream.repairMerges]]' twin for the `sem/` state. The gate
    * scores each delivery against SURVIVORS only, so a document near an
    * already-DROPPED document (but no survivor) survives where batch
    * [[Similarity.semDedup]] over the full corpus would fold it into the
    * chain component (documented at [[graft.llm.Gates.Semantic]]). The
    * state carries every scorable vector it ever gated, dropped ones
    * included (see `semSchema`), so the FULL within-cell near-dup graph is
    * rebuildable offline: [[Similarity.semDedupDropped]] over ALL stored
    * vectors (the index's current coarse centroids, the gate's own
    * geometry), survivors = component min-ids — exactly the batch rule.
    * Kept flags are committed as a repaired snapshot
    * ([[StateLog.commitRepair]]: wins the same-id tie, an idempotent
    * re-repair skips an existing one), and newly-dropped documents are
    * pruned from the index under the version protocol. Run with the
    * poller STOPPED (the single-writer contract); the restarted poller
    * reads the repaired snapshot like any other state. Like
    * `repairMerges`, the fold stops at [[StateLog.repairFrontier]] so a
    * mid-batch crash replays cleanly. Scope: the sem state and the index — cluster/assignment
    * state keeps its landing-time membership, exactly as the dedup
    * repair leaves the sem state alone. Assumes the semantic gate was
    * enabled for every delivery in this work dir — a pre-gate document
    * has no sem-state row and the survivor prune would drop it from the
    * index.
    *
    * PipelineStreamSpec pins stream + repairSem ≡ batch `semDedup`
    * survivors on the bridge-chain fixture. */
  def repairSem(spark: SparkSession, workDir: String, indexDir: String,
      semMinCos: Double, retain: Int = 0): Unit = {
    val log = semLog(workDir)
    val maxId = StateLog.repairFrontier(spark, workDir, log).getOrElse(return)
    val S = log.read(spark, maxId + 1).localCheckpoint()
    val cents = Similarity.ivfCentroids(spark, indexDir)
    val drops = Similarity.semDedupDropped(
      S.select(col("vec_id"), col("embedding")), cents,
      "vec_id", "embedding", semMinCos)
    val newS = S.join(drops.withColumnRenamed("_drop", "vec_id")
        .withColumn("_d", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("embedding"),
        col("_d").isNull.as("kept"))
    StateLog.commitRepair(maxId, log -> byCell(newS))
    val kept = log.read(spark, maxId + 1)
      .filter(col("kept")).select(col("vec_id").as("neighbor_id"))
    Similarity.rewriteIvfIndex(spark, indexDir, retain)(
      _.join(kept, Seq("neighbor_id"), "left_semi"))
  }
}
