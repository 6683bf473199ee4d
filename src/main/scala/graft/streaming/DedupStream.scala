package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.llm.Dedup

/** Ingest-time NEAR-duplicate dedup: a checkpointed poller that assigns
  * every newly-landed document to a cluster representative, deduplicating
  * each poll's chunk against the ENTIRE accumulated corpus — the operation
  * a training-data pipeline runs on every crawl delivery ("is this new
  * page a near-copy of anything we already hold?"). Extends the exact
  * content-hash ingest dedup ([[graft.IngestProbe]],
  * `dropDuplicatesWithinWatermark`) to MinHash+LSH near-duplicates with
  * UNBOUNDED lookback: state lives on disk as two parquet tables, not in
  * watermark-bounded executor state.
  *
  * Persistent state mirrors exactly what BATCH banding sees, so the
  * stream's attach decision uses the identical edge predicate as the
  * batch pipeline ([[Dedup.minhashRepresentatives]]):
  *   - `contents`: one row per distinct content ever seen — (cid = min
  *     doc id of that content, rep_id = its cluster representative,
  *     content hash, hashed shingle set);
  *   - `index`: the LSH band table over those contents — (band, bh, cid).
  *
  * Per micro-batch (all DataFrame ops, no driver-side loops):
  *   1. the batch is clustered AGAINST ITSELF with full batch semantics
  *      (exact-dup collapse, banding over distinct contents, exact-Jaccard
  *      verification, connected components) — in-batch chains merge
  *      exactly as in batch;
  *   2. each of the batch's shingle-bearing distinct contents probes the
  *      state: content hash against `contents` (exact tier), band digests
  *      against `index` with the BATCH side broadcast (the poll chunk is
  *      the small side; the corpus-scale index never moves), candidates
  *      exact-Jaccard-verified against the stored shingle sets — banding
  *      adds no false positives. Documents under n tokens stay their own
  *      representative even across exact copies, exactly as in the batch
  *      operator (no shingles → no pairs → own rep);
  *   3. every in-batch cluster adopts the MINIMUM stored rep its member
  *      contents matched (deterministic under multi-match); clusters with
  *      no match keep their batch-local rep as a NEW global rep;
  *   4. the batch's distinct contents append to `contents`/`index` under
  *      their final rep (a content already stored under the same rep is
  *      skipped, so popular boilerplate re-deliveries add no state), and
  *      (doc_id, rep_id) rows for the whole batch land under `assign/`.
  *
  * Exactly-once: each table is a [[StateLog]] (per-batch dirs written in
  * overwrite mode, a replayed micro-batch reads only state BELOW its own
  * id, snapshot folds and repairs committed by rename) — a crash between
  * the state write and the checkpoint commit replays to bit-identical
  * directories instead of matching the batch against its own
  * half-committed state.
  *
  * Incremental contract (the standard streaming-dedup deviation from
  * batch, documented and spec-pinned): clusters NEVER MERGE across
  * batches. A later "bridge" content similar to contents of two existing
  * distinct clusters is assigned to the min-id rep; batch connected
  * components over the same corpus would merge all three. When no such
  * cross-cluster bridge exists (near-identical boilerplate / mirror
  * groups — the dominant crawl shape) stream ≡ batch exactly.
  *
  * 100 TB posture: per-poll work is (batch size) + (candidate count) —
  * banding probes are an equi-join of the broadcast batch band table
  * against a disk-resident index scan; only candidate contents' shingle
  * sets shuffle for verification. State grows with DISTINCT contents (the
  * inherent corpus fingerprint, parquet-compressed); per-batch state dirs
  * fold into one snapshot every `compactEvery` micro-batches, so the dir
  * count a long-running poller lists and unions per poll stays bounded at
  * `compactEvery + 1`.
  * Documents must carry globally-unique non-null ids (they name reps);
  * null-id/null-text rows are dropped at entry like the batch operators.
  */
object DedupStream {

  /** MinHash/LSH parameters shared with the batch operators.
    * `compactEvery`: fold the per-batch state dirs into one snapshot every
    * this many micro-batches (0 disables) — bounds the dir count a
    * long-running poller's every state read must list and union. */
  case class Params(n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.8, maxBandBucket: Long = 0L,
      compactEvery: Int = 16)

  val landingSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private val contentsSchema = StructType(Seq(
    StructField("cid", LongType), StructField("rep_id", LongType),
    StructField("_ch", StringType), StructField("_sh", ArrayType(LongType))))
  private val indexSchema = StructType(Seq(
    StructField("band", IntegerType), StructField("bh", LongType),
    StructField("cid", LongType)))
  private val assignSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("rep_id", LongType)))

  private def contentsLog(workDir: String) =
    StateLog(s"$workDir/contents", contentsSchema)
  private def indexLog(workDir: String) = StateLog(s"$workDir/index", indexSchema)
  private[streaming] def assignLog(workDir: String) =
    StateLog(s"$workDir/assign", assignSchema)
  private def logs(workDir: String) =
    Seq(contentsLog(workDir), indexLog(workDir), assignLog(workDir))

  /** Fold every state dir below `uptoExclusive` into one snapshot
    * `snap<uptoExclusive-1>` per state table, then sweep the folded
    * per-batch dirs and superseded snapshots ([[StateLog.compactIfDue]],
    * every id due) — bounding the directory count every state read must
    * list and union (a poller that runs for weeks otherwise accumulates
    * one dir per micro-batch, `combine_pose_id_automated.py:181-185`
    * territory). Crash/replay-safe and idempotent; single writer (do not
    * run concurrently with a live poll from another process). */
  def compactState(sp: SparkSession, workDir: String,
      uptoExclusive: Long): Unit =
    logs(workDir).foreach(_.compactIfDue(sp, uptoExclusive, every = 1))

  /** One incremental poll: cluster every document file new to the
    * checkpoint against the corpus state under `workDir`. Landing layout:
    * parquet files of [[landingSchema]] one level below `landingDir`. */
  def pollNearDedup(spark: SparkSession, landingDir: String, workDir: String,
      p: Params = Params()): Unit = {
    spark.readStream.schema(landingSchema).parquet(s"$landingDir/*")
      .writeStream.option("checkpointLocation", s"$workDir/ckpt")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, batch, workDir, p, batchId)
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
  }

  /** The accumulated (doc_id, rep_id) assignment table.
    * Read through [[StateLog.read]]: the DataFrame fixes its file list
    * when it is built, so re-read it after a poll that compacts. */
  def assignments(spark: SparkSession, workDir: String): DataFrame =
    assignLog(workDir).read(spark)

  /** The accumulated distinct-content state (cid, rep_id, _ch, _sh).
    * Read through [[StateLog.read]]: the DataFrame fixes its file list
    * when it is built, so re-read it after a poll that compacts. */
  def contents(spark: SparkSession, workDir: String): DataFrame =
    contentsLog(workDir).read(spark)

  /** Offline cross-batch cluster-merge REPAIR — closes the one documented
    * deviation from batch semantics (clusters never merge across batches).
    * Rebuilds the full near-dup graph over the STORED state and rewrites
    * every rep to its connected component's true batch rep:
    *
    *   - edges = banding collisions among stored contents (self-join of
    *     the stored band index — banding is content-deterministic, so this
    *     recovers every edge the stream used PLUS the cross-batch bridges
    *     it deliberately didn't merge on) verified by exact Jaccard over
    *     the stored shingle sets, ∪ same-content edges among
    *     shingle-bearing contents (the bridge re-append case stores one
    *     content under two reps);
    *   - component rep = min doc_id over the component's ASSIGNED docs —
    *     exactly the batch rule (batch rep = min doc id of the component),
    *     which also repairs a later-arriving smaller doc id taking over as
    *     rep. Shingle-less docs have no edges and keep their own reps,
    *     matching batch semantics.
    *
    * The repaired `contents` and `assign` tables are committed as
    * repaired snapshots ([[StateLog.commitRepair]]) at the
    * [[StateLog.repairFrontier]] — the newest checkpoint-committed state
    * id — and the index folds to the same id. Crash-safe by idempotence:
    * every write targets a snapshot that either commits whole or stays
    * absent, readers always see a complete (if possibly pre-repair) table,
    * and re-running the repair converges — component edges are keyed by
    * cid/content, never by the rep values being rewritten.
    *
    * Run with the poller STOPPED (same single-writer contract as
    * [[compactState]]). Cost is the batch-dedup analogue over the distinct
    * corpus — the reference's own remedy is re-running batch dedup over
    * the accumulated corpus; this does that without re-shingling any
    * document (sets and band digests are already stored).
    *
    * Equivalence spec-pinned: stream + repair ≡ batch
    * [[Dedup.minhashRepresentatives]] on bridge-heavy corpora. One scoped
    * exception survives by design: a band bucket overflowing
    * `maxBandBucket` is dropped loudly here like in batch, so under a cap
    * the two can differ exactly where batch itself loses recall. */
  def repairMerges(sp: SparkSession, workDir: String, p: Params): Unit = {
    val maxId = StateLog.repairFrontier(sp, workDir, logs(workDir): _*)
      .getOrElse(return)
    val below = maxId + 1
    val C = contentsLog(workDir).read(sp, below)
    val ix = indexLog(workDir).read(sp, below)
    val A = assignLog(workDir).read(sp, below)
    // banding candidates among stored contents; the same loud cap rule as
    // the batch operator (0 = exact)
    val bt = Dedup.capBandBuckets(ix, Seq("band", "bh"), p.maxBandBucket,
      "repairMerges")
    val cand = bt.alias("a").join(bt.alias("b"), Seq("band", "bh"))
      .filter(col("a.cid") < col("b.cid"))
      .select(col("a.cid").as("i"), col("b.cid").as("j")).distinct()
    val sets = C.select(col("cid").as("_id"), col("_sh")).localCheckpoint()
    val near = Dedup.verifyJaccard(cand, sets, p.minJaccard)
      .select(col("i"), col("j"))
    val sb = C.filter(size(col("_sh")) > 0).select(col("_ch"), col("cid"))
    val exact = sb.alias("a").join(sb.alias("b"), Seq("_ch"))
      .filter(col("a.cid") < col("b.cid"))
      .select(col("a.cid").as("i"), col("b.cid").as("j"))
    val comp = Dedup.componentsTiered(near.unionByName(exact))
    val compAll = C.select(col("cid"))
      .join(comp.withColumnRenamed("id", "cid"), Seq("cid"), "left")
      .select(col("cid"), coalesce(col("component"), col("cid")).as("_croot"))
    // batch rep rule: min doc id over the component's docs (docs reach
    // their component through their assigned rep — every rep of a
    // shingle-bearing cluster is itself a stored cid)
    val newRep = A.join(compAll.withColumnRenamed("cid", "rep_id"), Seq("rep_id"))
      .groupBy("_croot").agg(min("doc_id").as("_nrep"))
    val cidMap = compAll.join(newRep, Seq("_croot"))
      .select(col("cid"), col("_nrep"))
    val newC = C.join(cidMap, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("_nrep"), col("rep_id")).as("rep_id"),
        col("_ch"), col("_sh"))
    val newA = A.join(cidMap.withColumnRenamed("cid", "rep_id"), Seq("rep_id"), "left")
      .select(col("doc_id"), coalesce(col("_nrep"), col("rep_id")).as("rep_id"))
    StateLog.commitRepair(maxId, contentsLog(workDir) -> newC,
      assignLog(workDir) -> newA)
    // fold the index to the same id (contents/assign skip their fold —
    // the repaired flavor already covers id maxId)
    compactState(sp, workDir, maxId + 1)
  }

  private[streaming] def processBatch(sp: SparkSession, batch: DataFrame,
      workDir: String, p: Params, batchId: Long): Unit = {
    logs(workDir).foreach(_.compactIfDue(sp, batchId, p.compactEvery))
    val docs = batch
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
    // 1. in-batch clustering, full batch semantics. localCheckpoint: the
    // result feeds several separate jobs below (content extraction, state
    // writes, assignment write) — without materialization the whole
    // collapse/band/verify/CC pipeline re-runs per job.
    val local = Dedup.minhashRepresentatives(docs, "doc_id", "text",
        p.n, p.numHashes, p.bands, p.minJaccard, p.maxBandBucket)
      .select(col("doc_id"), col("text"), col("rep_id").as("_lrep"))
      .localCheckpoint()
    // the batch's distinct contents (cid = min doc id per content — the
    // same rule as the batch collapse; one hash-only shuffle). The
    // in-batch pipeline above computed this internally too — one extra
    // pass over the SMALL (poll-chunk) side buys reusing the batch
    // operator unmodified.
    // min() (not first()) keeps the row deterministic: a shingle-less
    // content duplicated WITHIN the batch spans several local singleton
    // clusters (batch semantics below), so its _lrep is not unique
    val cdocs = local
      .select(col("doc_id"), col("text"), col("_lrep"),
        sha2(col("text"), 256).as("_ch"))
      .groupBy("_ch")
      .agg(min("doc_id").as("_id"), min("text").as("_text"),
        min("_lrep").as("_lrep"))
      .localCheckpoint()
    val csets = cdocs.select(col("_id"), col("_ch"), col("_lrep"))
      .join(Dedup.hashedShingleSets(cdocs, "_id", "_text", p.n), Seq("_id"))
      .localCheckpoint()
    val cbands = Dedup.minhashBandTable(
      cdocs, "_id", "_text", p.n, p.numHashes, p.bands).localCheckpoint()

    val prevC = contentsLog(workDir).read(sp, batchId)
    val prevIx = indexLog(workDir).read(sp, batchId)

    // 2a. exact tier: a stored content with the identical hash. Restricted
    // to shingle-BEARING contents to mirror the batch operator exactly: a
    // document under n tokens produces no shingles, hence no pairs, hence
    // stays its own representative in the batch pipeline — even for exact
    // copies — and the stream must agree (spec-pinned).
    val exactM = csets.filter(size(col("_sh")) > 0)
      .select(col("_id"), col("_ch"))
      .join(prevC.select(col("_ch"), col("rep_id")), Seq("_ch"))
      .select(col("_id"), col("rep_id"))
    // 2b. near tier: band-digest probes into the stored index — broadcast
    // the poll side, stream the corpus-scale index under it
    val cand = prevIx.join(broadcast(cbands), Seq("band", "bh"))
      .select(col("_id").as("i"), col("cid").as("j")).distinct()
    // exact-Jaccard verify: batch sets ∪ stored sets under one id space
    // (cids are doc ids and doc ids are globally unique — collision-free)
    val sets = csets.select(col("_id"), col("_sh"))
      .unionByName(prevC.select(col("cid").as("_id"), col("_sh")))
    val nearM = Dedup.verifyJaccard(cand, sets, p.minJaccard)
      .select(col("i").as("_id"), col("j").as("cid"))
      .join(prevC.select(col("cid"), col("rep_id")), Seq("cid"))
      .select(col("_id"), col("rep_id"))
    // 3. per in-batch CLUSTER: adopt the min stored rep any member content
    // matched; no match → the batch-local rep becomes a new global rep
    val clusterM = exactM.unionByName(nearM)
      .join(csets.select(col("_id"), col("_lrep")), Seq("_id"))
      .groupBy("_lrep").agg(min("rep_id").as("_g"))
    // keyed by ALL local cluster reps (from `local`, not `csets`): a
    // shingle-less content duplicated within the batch has one contents
    // row but SEVERAL local singleton clusters, and every one of them
    // needs an assignment row
    val repOf = local.select(col("_lrep")).distinct()
      .join(clusterM, Seq("_lrep"), "left")
      .select(col("_lrep"), coalesce(col("_g"), col("_lrep")).as("_rep"))
      .localCheckpoint()

    // 4. state append: every distinct content under its final rep. A
    // content whose hash is already stored UNDER THE SAME final rep is
    // skipped (the common re-delivery case — popular boilerplate must not
    // re-append a row per delivery); when the final rep DIFFERS (this
    // batch's cluster bridged two stored clusters — the documented
    // no-merge case), the content is appended under the new rep so later
    // copies of it resolve (min rule) to the same rep its docs just got.
    val exactSame = csets.join(repOf, Seq("_lrep"))
      .join(prevC.select(col("_ch"), col("rep_id").as("_prep")), Seq("_ch"))
      .filter(col("_prep") === col("_rep"))
      .select("_id").distinct()
    val newContents = csets.join(exactSame, Seq("_id"), "left_anti")
      .join(repOf, Seq("_lrep"))
    contentsLog(workDir).write(batchId, newContents
      .select(col("_id").as("cid"), col("_rep").as("rep_id"),
        col("_ch"), col("_sh")))
    indexLog(workDir).write(batchId,
      cbands.join(newContents.select("_id"), Seq("_id"), "left_semi")
        .select(col("band"), col("bh"), col("_id").as("cid")))
    // 5. batch assignment: doc → in-batch cluster → global rep
    assignLog(workDir).write(batchId, local.select(col("doc_id"), col("_lrep"))
      .join(repOf, Seq("_lrep"))
      .select(col("doc_id"), col("_rep").as("rep_id")))
  }
}
