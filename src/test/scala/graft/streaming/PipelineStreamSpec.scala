package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.llm.{Gates, IvfTier, Similarity}

/** The composed dedup→index ingest loop: after every poll the ANN index
  * must contain EXACTLY the cluster representatives accumulated so far —
  * near-dup and exact re-deliveries never add vectors, new clusters
  * always do — and stay consistent across an empty-seeded index, empty
  * re-polls, and a replay of the last batch. */
class PipelineStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val p = DedupStream.Params(n = 3, numHashes = 16, bands = 8,
    minJaccard = 0.8)

  /** Same clique fixture as DedupStreamSpec: 42 tagged words, variant k
    * replaces slot 20 — within-cluster Jaccard ≈ 0.86, cross-cluster 0. */
  private def member(tag: String, k: Int): String =
    (0 until 42).map { i =>
      if (i == 20 && k > 0) s"${tag}_var$k" else s"${tag}_w$i"
    }.mkString(" ")

  private def vec(id: Long): Array[Float] = {
    val a = new Array[Float](8)
    a((id % 8).toInt) = 1.0f
    a(((id + 3) % 8).toInt) = 0.01f * (id % 97)
    a
  }

  private def delivery(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, vec(id)) }
      .toDF("doc_id", "text", "embedding")

  test("index contains exactly the accumulated representatives after every poll") {
    val root = java.nio.file.Files.createTempDirectory("graft_pipe").toString
    val landing = s"$root/landing"; val work = s"$root/work"
    val index = s"$root/index"
    new java.io.File(landing).mkdirs()
    // empty-seeded index: externally-trained centroids, zero corpus rows
    val cents = (0L until 4L).map(c => (c, {
      val a = new Array[Float](8); a(c.toInt * 2) = 1.0f; a
    })).toDF("cell", "_cv")
    Similarity.saveIvf(delivery().select("doc_id", "embedding")
        .withColumnRenamed("doc_id", "vec_id"),
      "vec_id", "embedding", index, IvfTier.Float, nlist = 4,
      centroids = Some(cents))

    // all indexed ids, via a full-probe serve (k and nprobe large enough
    // to return the whole corpus)
    val probe = Seq((999999L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    def indexedIds() = Similarity.ivfServe(probe, index, "vec_id",
        "embedding", k = 1000, nprobe = 4)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet

    assert(indexedIds() === Set.empty, "empty-seeded index serves empty")

    // poll 1: clusters a (3 members) and b (1), one exact dup of a's rep
    delivery(1L -> member("a", 0), 2L -> member("a", 1), 3L -> member("b", 0),
      4L -> member("a", 0)).write.parquet(s"$landing/d0")
    PipelineStream.pollIngest(spark, landing, work, index, p = p,
      compactEvery = 2)
    assert(indexedIds() === Set(1L, 3L),
      "index = one vector per cluster: a's rep 1, b's rep 3")

    // poll 2: near-dups of a and b (attach, no index growth) + new
    // cluster c (grows) — batch id 1 also triggers the fold
    delivery(11L -> member("a", 2), 12L -> member("b", 1),
      13L -> member("c", 0)).write.parquet(s"$landing/d1")
    PipelineStream.pollIngest(spark, landing, work, index, p = p,
      compactEvery = 2)
    assert(indexedIds() === Set(1L, 3L, 13L),
      "re-deliveries attach without indexing; new cluster c indexed")
    assert(new java.io.File(index).listFiles().map(_.getName)
      .count(_.startsWith("v")) === 1, "fold swept the pre-fold version")

    // dedup assignments agree with what the index serves
    val reps = DedupStream.assignments(spark, work)
      .filter(col("rep_id") === col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(reps === Set(1L, 3L, 13L))

    // idempotent empty re-poll
    PipelineStream.pollIngest(spark, landing, work, index, p = p,
      compactEvery = 2)
    assert(indexedIds() === Set(1L, 3L, 13L))

    // replay of the last batch (a restarted poller re-running batch 1):
    // dedup state rewrites bit-identically, the index append no-ops via
    // the _FOLDED ledger (batch 1's delta was folded)
    DedupStream.processBatch(spark, delivery(11L -> member("a", 2),
        12L -> member("b", 1), 13L -> member("c", 0))
      .select("doc_id", "text"), work, p, 1L)
    Similarity.appendIvfIndex(
      delivery(13L -> member("c", 0)).select(col("doc_id").as("vec_id"),
        col("embedding")), "vec_id", "embedding", index, Some("b1"))
    assert(indexedIds() === Set(1L, 3L, 13L), "replay converges")
    assert(DedupStream.assignments(spark, work).count() === 7L)
  }

  test("span floor at ingest: boilerplate-heavy docs never enter cluster state or the index; gate ≡ batch floor") {
    val root = java.nio.file.Files.createTempDirectory("graft_pipespan").toString
    val landing = s"$root/landing"; val work = s"$root/work"
    val index = s"$root/index"
    new java.io.File(landing).mkdirs()
    val cents = (0L until 4L).map(c => (c, {
      val a = new Array[Float](8); a(c.toInt * 2) = 1.0f; a
    })).toDF("cell", "_cv")
    Similarity.saveIvf(delivery().select(col("doc_id").as("vec_id"),
      col("embedding")), "vec_id", "embedding", index, IvfTier.Float, nlist = 4,
      centroids = Some(cents))
    val probe = Seq((999999L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    def indexedIds() = Similarity.ivfServe(probe, index, "vec_id",
        "embedding", k = 1000, nprobe = 4)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet

    // cross-unique texts; 4 and 5 are IDENTICAL 42-token boilerplate
    // (dup_frac 1 within their own delivery); 6 is half boiler, half
    // unique (dup_frac ≈ 0.45 — under the 0.6 floor, must survive)
    val boiler = (0 until 42).map(i => s"bp$i").mkString(" ")
    def uniq(tag: String) = (0 until 42).map(i => s"${tag}_u$i").mkString(" ")
    val half = (0 until 21).map(i => s"bp$i").mkString(" ") + " " +
      (0 until 21).map(i => s"h_u$i").mkString(" ")
    val d0 = Seq(1L -> uniq("a"), 2L -> uniq("b"), 3L -> uniq("c"),
      4L -> boiler, 5L -> boiler, 6L -> half)
    // delivery 2: doc 11 reuses the boiler — floored AGAINST STATE (its
    // own delivery holds only one copy); doc 12 is fresh and unique
    val d1 = Seq(11L -> boiler, 12L -> uniq("d"))

    delivery(d0: _*).write.parquet(s"$landing/d0")
    PipelineStream.pollIngest(spark, landing, work, index,
      Gates(span = Some(Gates.Span(5, 0.6))), p, compactEvery = 2)
    assert(indexedIds() === Set(1L, 2L, 3L, 6L),
      "identical boilerplate docs floored before indexing; half-boiler survives")

    delivery(d1: _*).write.parquet(s"$landing/d1")
    PipelineStream.pollIngest(spark, landing, work, index,
      Gates(span = Some(Gates.Span(5, 0.6))), p, compactEvery = 2)
    assert(indexedIds() === Set(1L, 2L, 3L, 6L, 12L),
      "late boilerplate reuse floored against the accumulated window state")
    val assigned = DedupStream.assignments(spark, work)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(assigned === Set(1L, 2L, 3L, 6L, 12L),
      "floored docs never entered cluster state")

    // gate ≡ batch floor: the floored set equals Corpus.prepare's
    // span-threshold drop over the full landed corpus (bridge-free:
    // every boiler window crossed the floor within/before its delivery)
    val all = delivery(d0 ++ d1: _*).select("doc_id", "text")
    val batchFloored = graft.llm.Dedup
      .spanDupStats(all, "doc_id", "text", 5, 2)
      .filter(col("dup_frac") > 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchFloored === Set(4L, 5L, 11L))
    assert(assigned === (d0 ++ d1).map(_._1).toSet -- batchFloored,
      "stream gate ≡ batch span floor on bridge-free deliveries")

    // the span scorer's state accumulated EVERY landed doc (floored
    // included), matching batch window-frequency semantics
    val scored = SpanDupStream.stats(spark, work)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(scored === (d0 ++ d1).map(_._1).toSet)
  }

  test("quantized-seeded pipeline: ingest grows the SQ8 index by representatives only, flavor survives fold and prune") {
    val root = java.nio.file.Files.createTempDirectory("graft_pipeq").toString
    val landing = s"$root/landing"; val work = s"$root/work"
    val index = s"$root/index"
    new java.io.File(landing).mkdirs()
    val cents = (0L until 4L).map(c => (c, {
      val a = new Array[Float](8); a(c.toInt * 2) = 1.0f; a
    })).toDF("cell", "_cv")
    // empty-seeded QUANTIZED index: the marker (written over zero corpus
    // rows) is the only record of the flavor — ingest must quantize
    Similarity.saveIvf(delivery().select(
        col("doc_id").as("vec_id"), col("embedding")),
      "vec_id", "embedding", index, IvfTier.Sq8, nlist = 4,
      centroids = Some(cents))
    val probe = Seq((999999L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    def indexedIds() = Similarity.ivfServe(probe, index, "vec_id",
        "embedding", k = 1000, nprobe = 4)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(indexedIds() === Set.empty, "empty-seeded quantized index serves empty")

    delivery(1L -> member("a", 0), 2L -> member("a", 1), 3L -> member("b", 0))
      .write.parquet(s"$landing/d0")
    PipelineStream.pollIngest(spark, landing, work, index, p = p,
      compactEvery = 2)
    assert(indexedIds() === Set(1L, 3L))

    // poll 2 folds (batch id 1): flavor must carry, ingest keeps quantizing
    delivery(11L -> member("a", 2), 13L -> member("c", 0))
      .write.parquet(s"$landing/d1")
    PipelineStream.pollIngest(spark, landing, work, index, p = p,
      compactEvery = 2)
    assert(indexedIds() === Set(1L, 3L, 13L))
    val latest = new java.io.File(index).listFiles().map(_.getName)
      .filter(_.startsWith("v")).sorted.last
    assert(graft.llm.IvfManifest.read(spark, s"$index/$latest").flavor ===
      graft.llm.IvfFlavor.Sq8,
      "flavor marker must survive the fold")
    // the stored rows really are SQ8 (bytes), not float
    val schema = spark.read.parquet(s"$index/$latest/corpus").schema.fieldNames
    assert(schema.contains("_cq") && !schema.contains("_cv"),
      s"folded quantized corpus must hold byte codes: ${schema.mkString(",")}")

    // prune path (rewriteIvfIndex) keeps the flavor too
    PipelineStream.repairAndPrune(spark, work, index, p)
    val afterPrune = new java.io.File(index).listFiles().map(_.getName)
      .filter(_.startsWith("v")).sorted.last
    assert(graft.llm.IvfManifest.read(spark, s"$index/$afterPrune").flavor ===
      graft.llm.IvfFlavor.Sq8,
      "flavor marker must survive repairAndPrune")
    assert(indexedIds() === Set(1L, 3L, 13L), "no bridges here: prune is a no-op")
  }

  test("PQ-seeded pipeline: ingest grows the PQ index by representatives only, codebooks and flavor survive fold and prune") {
    val root = java.nio.file.Files.createTempDirectory("graft_pipepq").toString
    val landing = s"$root/landing"; val work = s"$root/work"
    val index = s"$root/index"
    new java.io.File(landing).mkdirs()
    val cents = (0L until 4L).map(c => (c, {
      val a = new Array[Float](8); a(c.toInt * 2) = 1.0f; a
    })).toDF("cell", "_cv")
    // empty-seeded PQ index: explicit centroids AND codebooks (one-hot
    // slices) — the marker + codebooks are the only record of the flavor
    val cbs = (0 until 4).flatMap(m => (0 until 4).map { c =>
      val a = new Array[Float](2); a(c % 2) = c.toFloat; (m, c, a)
    }).toDF("m", "code", "_cbv")
    Similarity.saveIvf(delivery().select(
        col("doc_id").as("vec_id"), col("embedding")),
      "vec_id", "embedding", index, IvfTier.Pq(codebooks = Some(cbs)),
      nlist = 4, centroids = Some(cents))
    val probe = Seq((999999L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    def indexedIds() = Similarity.ivfServe(probe, index, "vec_id",
        "embedding", k = 1000, nprobe = 4)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(indexedIds() === Set.empty, "empty-seeded PQ index serves empty")

    delivery(1L -> member("a", 0), 2L -> member("a", 1), 3L -> member("b", 0))
      .write.parquet(s"$landing/d0")
    PipelineStream.pollIngest(spark, landing, work, index, p = p,
      compactEvery = 2)
    assert(indexedIds() === Set(1L, 3L))

    // poll 2 folds (batch id 1): flavor + codebooks must carry, ingest
    // keeps PQ-encoding
    delivery(11L -> member("a", 2), 13L -> member("c", 0))
      .write.parquet(s"$landing/d1")
    PipelineStream.pollIngest(spark, landing, work, index, p = p,
      compactEvery = 2)
    assert(indexedIds() === Set(1L, 3L, 13L))
    val latest = new java.io.File(index).listFiles().map(_.getName)
      .filter(_.startsWith("v")).sorted.last
    assert(graft.llm.IvfManifest.read(spark, s"$index/$latest").flavor
      .isInstanceOf[graft.llm.IvfFlavor.Pq],
      "flavor marker must survive the fold")
    assert(new java.io.File(s"$index/$latest/codebooks").exists(),
      "codebooks must survive the fold")
    val schema = spark.read.parquet(s"$index/$latest/corpus").schema.fieldNames
    assert(schema.contains("_pq") && !schema.contains("_cv"),
      s"folded PQ corpus must hold code arrays: ${schema.mkString(",")}")

    PipelineStream.repairAndPrune(spark, work, index, p)
    val afterPrune = new java.io.File(index).listFiles().map(_.getName)
      .filter(_.startsWith("v")).sorted.last
    assert(graft.llm.IvfManifest.read(spark, s"$index/$afterPrune").flavor
      .isInstanceOf[graft.llm.IvfFlavor.Pq] &&
      new java.io.File(s"$index/$afterPrune/codebooks").exists(),
      "flavor + codebooks must survive repairAndPrune")
    assert(indexedIds() === Set(1L, 3L, 13L), "no bridges here: prune is a no-op")
  }

  test("repairAndPrune: after offline bridge repair the index holds exactly the repaired reps") {
    val root = java.nio.file.Files.createTempDirectory("graft_pipe_rep").toString
    val landing = s"$root/landing"; val work = s"$root/work"
    val index = s"$root/index"
    new java.io.File(landing).mkdirs()
    val cents = (0L until 4L).map(c => (c, {
      val a = new Array[Float](8); a(c.toInt * 2) = 1.0f; a
    })).toDF("cell", "_cv")
    Similarity.saveIvf(delivery().select(col("doc_id").as("vec_id"),
        col("embedding")), "vec_id", "embedding", index, IvfTier.Float,
        nlist = 4, centroids = Some(cents))
    val probe = Seq((999999L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    def indexedIds() = Similarity.ivfServe(probe, index, "vec_id",
        "embedding", k = 1000, nprobe = 4)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    // DedupStreamSpec's bridge-chain corpus: A_k/B_k distinct until
    // bridge X_k lands in a LATER batch (all merges cross-batch)
    def word(c: String, i: Int) = s"${c}_w$i"
    def aDoc(c: String) = (0 until 42).map(word(c, _)).mkString(" ")
    def bDoc(c: String) = (0 until 42).map(i =>
      if (i == 5) s"${c}_b5" else if (i == 10) s"${c}_b10" else word(c, i))
      .mkString(" ")
    def xDoc(c: String) = (0 until 42).map(i =>
      if (i == 5) s"${c}_b5" else word(c, i)).mkString(" ")
    delivery(100L -> aDoc("u"), 200L -> bDoc("u"), 500L -> "lone text here")
      .write.parquet(s"$landing/d0")
    PipelineStream.pollIngest(spark, landing, work, index, p = p)
    delivery(700L -> xDoc("u"), 800L -> aDoc("w")).write.parquet(s"$landing/d1")
    PipelineStream.pollIngest(spark, landing, work, index, p = p)
    // pre-repair: u's two clusters are both represented (the deviation)
    assert(indexedIds() === Set(100L, 200L, 500L, 800L))
    PipelineStream.repairAndPrune(spark, work, index, p)
    // the bridge merged 200's cluster into 100's; its vector is pruned
    val repaired = DedupStream.assignments(spark, work)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(repaired === Set(100L -> 100L, 200L -> 100L, 500L -> 500L,
      700L -> 100L, 800L -> 800L))
    assert(indexedIds() === Set(100L, 500L, 800L),
      "index = exactly the repaired representative set")
    // the poller resumes on repaired state: a near-copy of the absorbed
    // cluster attaches to the merged rep, index unchanged
    delivery(900L -> bDoc("u")).write.parquet(s"$landing/d2")
    PipelineStream.pollIngest(spark, landing, work, index, p = p)
    assert(DedupStream.assignments(spark, work).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet.contains(900L -> 100L))
    assert(indexedIds() === Set(100L, 500L, 800L))
  }

  test("repetition + decontamination floors at ingest: stateless gates ≡ batch composition") {
    val root = java.nio.file.Files.createTempDirectory("graft_piperep").toString
    val landing = s"$root/landing"; val work = s"$root/work"
    val index = s"$root/index"
    new java.io.File(landing).mkdirs()
    val cents = (0L until 4L).map(c => (c, {
      val a = new Array[Float](8); a(c.toInt * 2) = 1.0f; a
    })).toDF("cell", "_cv")
    Similarity.saveIvf(delivery().select(col("doc_id").as("vec_id"),
      col("embedding")), "vec_id", "embedding", index, IvfTier.Float, nlist = 4,
      centroids = Some(cents))
    val probe = Seq((999999L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    def indexedIds() = Similarity.ivfServe(probe, index, "vec_id",
        "embedding", k = 1000, nprobe = 4)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet

    def uniq(tag: String) = (0 until 42).map(i => s"${tag}_u$i").mkString(" ")
    // one word looped 42× — dup_word_frac 41/42 ≈ 0.98 (> 0.7)
    val loop = Seq.fill(42)("x").mkString(" ")
    // 14 (m n u_i) triples: dup_word_frac (42−16)/42 ≈ 0.62 stays UNDER
    // the word floor, but "m n" is 14 of 41 bigrams ≈ 0.34 (> 0.25) —
    // trips ONLY the top-bigram predicate
    val triples = (0 until 14).map(i => s"m n t_u$i").mkString(" ")
    // benchmark text + a doc whose first half copies it: 17 of its 38
    // distinct 5-shingles are benchmark shingles ≈ 0.45 (> 0.3)
    val benchText = (0 until 42).map(i => s"bm$i").mkString(" ")
    val contaminated = (0 until 21).map(i => s"bm$i").mkString(" ") + " " +
      (0 until 21).map(i => s"c_u$i").mkString(" ")
    val bench = Seq(benchText).toDF("text")

    val d0 = Seq(1L -> uniq("a"), 2L -> loop, 3L -> triples,
      4L -> contaminated, 5L -> uniq("b"))
    // second delivery: the gates are stateless — a fresh looping doc is
    // floored on its own delivery alone
    val d1 = Seq(11L -> loop.replace("x", "y"), 12L -> uniq("d"))

    def poll(): Unit = PipelineStream.pollIngest(spark, landing, work,
      index, Gates(repetition = Some(Gates.Repetition(0.7, 0.25)),
        contamination = Some(Gates.Contamination(bench, contamN = 5,
          maxContamFrac = 0.3))), p, compactEvery = 2)

    delivery(d0: _*).write.parquet(s"$landing/d0")
    poll()
    assert(indexedIds() === Set(1L, 5L),
      "looping, bigram-heavy, and contaminated docs floored before indexing")

    delivery(d1: _*).write.parquet(s"$landing/d1")
    poll()
    assert(indexedIds() === Set(1L, 5L, 12L))
    val assigned = DedupStream.assignments(spark, work)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(assigned === Set(1L, 5L, 12L),
      "floored docs never entered cluster state")

    // gate ≡ batch: the floored set equals the repetition floor +
    // decontamination composition over the full landed corpus (both are
    // per-document/broadcast properties, so stream ≡ batch EXACTLY,
    // not just on bridge-free deliveries)
    val all = delivery(d0 ++ d1: _*).select("doc_id", "text")
    val repFloored = graft.llm.Quality.repetitionStats(all, "doc_id", "text")
      .filter(col("dup_word_frac") > 0.7 || col("top_bigram_frac") > 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val contamFloored = graft.llm.Dedup
      .contaminationStats(all, bench, "doc_id", "text", 5)
      .filter(col("contam_frac") > 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(repFloored === Set(2L, 3L, 11L))
    assert(contamFloored === Set(4L))
    assert(assigned ===
      (d0 ++ d1).map(_._1).toSet -- repFloored -- contamFloored,
      "stream gates ≡ batch repetition floor + decontamination")
  }

  test("perplexity floor at ingest: reference-LM gate ≡ batch scoring, stateless across deliveries") {
    val root = java.nio.file.Files.createTempDirectory("graft_pipeppl").toString
    val landing = s"$root/landing"; val work = s"$root/work"
    val index = s"$root/index"
    new java.io.File(landing).mkdirs()
    val cents = (0L until 4L).map(c => (c, {
      val a = new Array[Float](8); a(c.toInt * 2) = 1.0f; a
    })).toDF("cell", "_cv")
    Similarity.saveIvf(delivery().select(col("doc_id").as("vec_id"),
      col("embedding")), "vec_id", "embedding", index, IvfTier.Float, nlist = 4,
      centroids = Some(cents))
    val probe = Seq((999999L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    def indexedIds() = Similarity.ivfServe(probe, index, "vec_id",
        "embedding", k = 1000, nprobe = 4)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet

    // reference model: in-vocab text scores low ppl, alien text the OOV
    // floor — a generous threshold separates them cleanly
    val ref = Seq.tabulate(20)(i =>
      (100L + i, s"good text sample $i", Array.fill(8)(0.1f)))
      .toDF("doc_id", "text", "embedding")
    val lm = graft.llm.Quality.unigramLm(ref, "text", 32)
    val inVocab1 = "good text sample good text sample good"
    val alien1 = (0 until 8).map(i => s"alien_z$i").mkString(" ")
    val inVocab2 = "text good sample text sample"
    val alien2 = (0 until 8).map(i => s"alien_q$i").mkString(" ")
    // ref counts: good/text/sample 20 each (+20 singleton digit tokens)
    // → N=80, V=23; in-vocab ppl ≈ (104/21) ≈ 5, all-OOV ppl = 104
    val cut = 50.0

    def poll(): Unit = PipelineStream.pollIngest(spark, landing, work,
      index, Gates(perplexity = Some(Gates.Perplexity(lm, maxPpl = cut))),
      p, compactEvery = 2)

    delivery(1L -> inVocab1, 2L -> alien1).write.parquet(s"$landing/d0")
    poll()
    assert(indexedIds() === Set(1L), "high-ppl doc floored before indexing")
    // stateless: a second delivery's alien doc floors on its own
    delivery(11L -> inVocab2, 12L -> alien2).write.parquet(s"$landing/d1")
    poll()
    assert(indexedIds() === Set(1L, 11L))
    val assigned = DedupStream.assignments(spark, work)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(assigned === Set(1L, 11L), "floored docs never entered cluster state")

    // gate ≡ batch: the same model over the full landed corpus floors
    // exactly the same ids (per-document/broadcast property)
    val all = delivery(1L -> inVocab1, 2L -> alien1,
      11L -> inVocab2, 12L -> alien2).select("doc_id", "text")
    val floored = graft.llm.Quality.lmPerplexity(all, lm, "doc_id", "text")
      .filter(col("ppl") > cut)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(floored === Set(2L, 12L))
    // arg validation: a model without a threshold must refuse loudly
    val err = intercept[IllegalArgumentException] {
      PipelineStream.pollIngest(spark, landing, work, index,
        Gates(perplexity = Some(Gates.Perplexity(lm))), p)
    }
    assert(err.getMessage.contains("maxPpl"))
  }

  test("classifier floor at ingest: frozen-model gate ≡ batch scoring, stateless across deliveries") {
    val root = java.nio.file.Files.createTempDirectory("graft_pipeclf").toString
    val landing = s"$root/landing"; val work = s"$root/work"
    val index = s"$root/index"
    new java.io.File(landing).mkdirs()
    val cents = (0L until 4L).map(c => (c, {
      val a = new Array[Float](8); a(c.toInt * 2) = 1.0f; a
    })).toDF("cell", "_cv")
    Similarity.saveIvf(delivery().select(col("doc_id").as("vec_id"),
      col("embedding")), "vec_id", "embedding", index, IvfTier.Float, nlist = 4,
      centroids = Some(cents))
    val probe = Seq((999999L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    def indexedIds() = Similarity.ivfServe(probe, index, "vec_id",
        "embedding", k = 1000, nprobe = 4)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet

    // frozen model trained ONCE on a labeled sample — deliveries are
    // scored under it, never retrain it
    val dim = 1 << 14
    val labeled = (0L until 20L).map { i =>
      val y = (i % 2).toInt
      (100L + i,
        if (y == 1) s"thoughtful prose piece$i" else s"spam click bait$i", y)
    }.toDF("doc_id", "text", "label")
    val w = graft.llm.Quality.trainTextClassifier(labeled, "doc_id",
      "text", "label", dim, iters = 200).localCheckpoint()

    def poll(): Unit = PipelineStream.pollIngest(spark, landing, work,
      index, Gates(classifier = Some(Gates.Classifier(w,
        classifierDim = dim, minLogitMicro = 0L))), p, compactEvery = 2)

    delivery(1L -> "thoughtful prose writing",
      2L -> "spam click now").write.parquet(s"$landing/d0")
    poll()
    assert(indexedIds() === Set(1L), "spam-scored doc floored before indexing")
    // stateless: a second delivery's spam doc floors on its own
    delivery(11L -> "thoughtful prose essay",
      12L -> "click spam offer").write.parquet(s"$landing/d1")
    poll()
    assert(indexedIds() === Set(1L, 11L))
    val assigned = DedupStream.assignments(spark, work)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(assigned === Set(1L, 11L), "floored docs never entered cluster state")

    // gate ≡ batch, twice over: the stream-floored set equals (a) the
    // raw score threshold over the full landed corpus and (b) what
    // Corpus.prepare's classifier floor drops at the same parameters
    val all = delivery(1L -> "thoughtful prose writing",
      2L -> "spam click now", 11L -> "thoughtful prose essay",
      12L -> "click spam offer").select("doc_id", "text")
    val floored = graft.llm.Quality.scoreTextClassifier(all, "doc_id",
        "text", w, dim)
      .filter(col("logit_micro") < 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(floored === Set(2L, 12L))
    val prepared = graft.llm.Corpus.prepare(all, "doc_id", "text", Gates(
        quality = Some(Gates.QualityFloor(minQuality = 0.0,
          stops = Seq("the"))),
        language = Some(Gates.Language(langs = Seq("en"),
          langMarkers = Seq("en" -> Seq("prose", "click")))),
        classifier = Some(Gates.Classifier(w, classifierDim = dim,
          minLogitMicro = 0L))))
      .select("rep_id").collect().map(_.getLong(0)).toSet
    assert(prepared === Set(1L, 11L),
      "batch prepare's classifier floor drops the same documents")
    // arg validation: a classifier without a floor must refuse loudly
    val err = intercept[IllegalArgumentException] {
      PipelineStream.pollIngest(spark, landing, work, index,
        Gates(classifier = Some(Gates.Classifier(w))), p)
    }
    assert(err.getMessage.contains("minLogitMicro"))
    val err2 = intercept[IllegalArgumentException] {
      graft.llm.Corpus.prepare(all, "doc_id", "text", Gates(
        quality = Some(Gates.QualityFloor(0.0, Seq("the"))),
        classifier = Some(Gates.Classifier(w))))
    }
    assert(err2.getMessage.contains("minLogitMicro"))
  }

  test("gopher floor at ingest: rule failures floored per delivery, gate ≡ batch rules") {
    val root = java.nio.file.Files.createTempDirectory("graft_pipegoph").toString
    val landing = s"$root/landing"; val work = s"$root/work"
    val index = s"$root/index"
    new java.io.File(landing).mkdirs()
    val cents = (0L until 4L).map(c => (c, {
      val a = new Array[Float](8); a(c.toInt * 2) = 1.0f; a
    })).toDF("cell", "_cv")
    Similarity.saveIvf(delivery().select(col("doc_id").as("vec_id"),
      col("embedding")), "vec_id", "embedding", index, IvfTier.Float, nlist = 4,
      centroids = Some(cents))
    val probe = Seq((999999L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    def indexedIds() = Similarity.ivfServe(probe, index, "vec_id",
        "embedding", k = 1000, nprobe = 4)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet

    // MixSpec's gopher fixtures: 60 words of "the data" pass every rule;
    // a 3-word doc and a stop-word-free doc each fail one
    def clean(tag: String) = (0 until 30).map(i => s"the dat$tag$i")
      .mkString(" ")
    val short = "the of and"
    val noStops = Array.fill(60)("data").mkString(" ")

    def poll(): Unit = PipelineStream.pollIngest(spark, landing, work,
      index, Gates(gopher = true), p, compactEvery = 2)

    delivery(1L -> clean("a"), 2L -> short).write.parquet(s"$landing/d0")
    poll()
    assert(indexedIds() === Set(1L), "rule-failing doc floored before indexing")
    // stateless: a second delivery's failing doc floors on its own
    delivery(11L -> clean("b"), 12L -> noStops).write.parquet(s"$landing/d1")
    poll()
    assert(indexedIds() === Set(1L, 11L))
    val assigned = DedupStream.assignments(spark, work)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(assigned === Set(1L, 11L), "floored docs never entered cluster state")

    // gate ≡ batch: gopherRules over the full landed corpus floors
    // exactly the same ids (doc-local column math)
    val all = delivery(1L -> clean("a"), 2L -> short,
      11L -> clean("b"), 12L -> noStops).select("doc_id", "text")
    val floored = graft.llm.Quality.gopherRules(all, "doc_id", "text")
      .filter(!col("pass"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(floored === Set(2L, 12L))
  }

  test("quality/language floor at ingest: prepare's final filter as a landing gate, ≡ batch scoring") {
    val root = java.nio.file.Files.createTempDirectory("graft_pipequal").toString
    val landing = s"$root/landing"; val work = s"$root/work"
    val index = s"$root/index"
    new java.io.File(landing).mkdirs()
    val cents = (0L until 4L).map(c => (c, {
      val a = new Array[Float](8); a(c.toInt * 2) = 1.0f; a
    })).toDF("cell", "_cv")
    Similarity.saveIvf(delivery().select(col("doc_id").as("vec_id"),
      col("embedding")), "vec_id", "embedding", index, IvfTier.Float, nlist = 4,
      centroids = Some(cents))
    val probe = Seq((999999L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    def indexedIds() = Similarity.ivfServe(probe, index, "vec_id",
        "embedding", k = 1000, nprobe = 4)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet

    val stops = Seq("the", "a")
    val markers = Seq("en" -> Seq("the"), "de" -> Seq("der"))
    // 120 tagged tokens, half "the" → stopword band + length prior high
    def good(tag: String) = (0 until 60).map(i => s"the g${tag}$i")
      .mkString(" ")
    val lowQ = "zz"                                  // length prior ≈ 0
    def german(tag: String) = (0 until 60).map(i => s"der d${tag}$i")
      .mkString(" ")

    def poll(): Unit = PipelineStream.pollIngest(spark, landing, work,
      index, Gates(quality = Some(Gates.QualityFloor(0.5, stops)),
        language = Some(Gates.Language(Seq("en"), markers))),
      p, compactEvery = 2)

    delivery(1L -> good("a"), 2L -> lowQ, 3L -> german("a"))
      .write.parquet(s"$landing/d0")
    poll()
    assert(indexedIds() === Set(1L),
      "low-quality and off-language docs floored before indexing")
    delivery(11L -> good("b"), 12L -> german("b")).write.parquet(s"$landing/d1")
    poll()
    assert(indexedIds() === Set(1L, 11L))

    // gate ≡ batch: the same rounded quality score + langId over the
    // landed corpus keeps exactly the same ids
    val all = delivery(1L -> good("a"), 2L -> lowQ, 3L -> german("a"),
      11L -> good("b"), 12L -> german("b")).select("doc_id", "text")
    val kept = all.filter(round(
        graft.llm.TextStats.qualityScore(col("text"), stops), 6) >= 0.5 &&
        graft.llm.TextStats.langId(col("text"), markers) === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 11L))
    // langs without markers must refuse loudly
    val err = intercept[IllegalArgumentException] {
      PipelineStream.pollIngest(spark, landing, work, index,
        Gates(language = Some(Gates.Language(Seq("en")))), p)
    }
    assert(err.getMessage.contains("langMarkers"))
  }

  test("every doc-local gate at once: three deliveries ≡ batch prepare over the landed corpus, one Gates value") {
    val root = java.nio.file.Files.createTempDirectory("graft_pipeall").toString
    val landing = s"$root/landing"; val work = s"$root/work"
    val index = s"$root/index"
    new java.io.File(landing).mkdirs()
    val cents = (0L until 4L).map(c => (c, {
      val a = new Array[Float](8); a(c.toInt * 2) = 1.0f; a
    })).toDF("cell", "_cv")
    Similarity.saveIvf(delivery().select(col("doc_id").as("vec_id"),
      col("embedding")), "vec_id", "embedding", index, IvfTier.Float, nlist = 4,
      centroids = Some(cents))

    // 80-token documents over a shared vocabulary: the clean ones pass
    // every gate, and each of the others fails exactly one, so a gate
    // missing from either path leaves its planted document in
    val lead = "the of and to "
    def words(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    def clean(k: Int) = lead + words("wd", 75) + s" tag$k"
    val loop = lead + Seq.fill(38)("wd10 wd11").mkString(" ")   // repetition
    val hashes = lead + words("wd", 66) + " " + Seq.fill(10)("#").mkString(" ")
    val alien = lead + words("zq", 76)                          // perplexity
    val spam = lead + words("sp", 76)                           // classifier
    val contaminated = lead + words("bm", 40) + " " + words("wd", 36)
    val short = lead + words("wd", 48)                          // quality
    val german = "der die das and to " + words("wd", 75)        // language
    val bench = Seq(words("bm", 42)).toDF("text")
    // the reference LM knows the clean, spam and bench vocabularies:
    // clean text scores ppl ≈ 200, all-but-4-OOV text ≈ 1,900
    val lm = graft.llm.Quality.unigramLm(
      Seq(clean(0), spam, words("bm", 42)).flatMap(Seq.fill(10)(_))
        .toDF("text"), "text", 256)
    val dim = 1 << 14
    val labeled = (0 until 10).flatMap(i => Seq(
        (100L + i, lead + words("wd", 75) + s" pos$i", 1),
        (200L + i, lead + words("sp", 75) + s" neg$i", 0)))
      .toDF("doc_id", "text", "label")
    val w = graft.llm.Quality.trainTextClassifier(labeled, "doc_id",
      "text", "label", dim, iters = 200).localCheckpoint()
    val gates = Gates(
      repetition = Some(Gates.Repetition(0.5, 0.25)),
      gopher = true,
      perplexity = Some(Gates.Perplexity(lm, maxPpl = 500.0)),
      classifier = Some(Gates.Classifier(w, minLogitMicro = 0L,
        classifierDim = dim)),
      contamination = Some(Gates.Contamination(bench, maxContamFrac = 0.3)),
      quality = Some(Gates.QualityFloor(0.55,
        Seq("the", "a", "of", "and", "to"))),
      language = Some(Gates.Language(Seq("en"),
        Seq("en" -> Seq("the", "of"), "de" -> Seq("der", "die")))))

    def poll(): Unit = PipelineStream.pollIngest(spark, landing, work,
      index, gates, p, compactEvery = 2)
    delivery(1L -> clean(1), 3L -> loop, 4L -> hashes, 5L -> alien)
      .write.parquet(s"$landing/d0")
    poll()
    delivery(2L -> clean(2), 6L -> spam, 7L -> contaminated)
      .write.parquet(s"$landing/d1")
    poll()
    delivery(11L -> clean(11), 8L -> short, 9L -> german)
      .write.parquet(s"$landing/d2")
    poll()
    val streamed = DedupStream.assignments(spark, work)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val landed = spark.read.parquet(s"$landing/*").select("doc_id", "text")
    val batch = graft.llm.Corpus.prepare(landed, "doc_id", "text", gates)
      .select("rep_id").collect().map(_.getLong(0)).toSet
    assert(streamed === Set(1L, 2L, 11L),
      "each planted document falls to a gate; the clean ones pass them all")
    assert(streamed === batch, "stream ≡ batch prepare under one Gates value")
  }

  test("normalize at ingest: transport-noise variants of one content collapse to one cluster and one vector") {
    val root = java.nio.file.Files.createTempDirectory("graft_pipenorm").toString
    val landing = s"$root/landing"; val work = s"$root/work"
    val index = s"$root/index"
    new java.io.File(landing).mkdirs()
    val cents = (0L until 4L).map(c => (c, {
      val a = new Array[Float](8); a(c.toInt * 2) = 1.0f; a
    })).toDF("cell", "_cv")
    Similarity.saveIvf(delivery().select(col("doc_id").as("vec_id"),
      col("embedding")), "vec_id", "embedding", index, IvfTier.Float, nlist = 4,
      centroids = Some(cents))
    val probe = Seq((999999L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    def indexedIds() = Similarity.ivfServe(probe, index, "vec_id",
        "embedding", k = 1000, nprobe = 4)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet

    val clean = member("a", 0)
    // the same content three ways a crawler delivers it (worse than
    // near-dup: byte noise, not word substitution), plus one distinct doc
    val d0 = Seq(1L -> clean, 2L -> (clean + " \r\n"),
      3L -> ("\t" + clean.replace(" a_w7 ", " \ta_w7  ")),
      8L -> member("z", 0))
    PipelineStream.pollIngest(spark, landing, work, index,
      Gates(normalize = true), p, compactEvery = 2)
    delivery(d0: _*).write.parquet(s"$landing/d0")
    PipelineStream.pollIngest(spark, landing, work, index,
      Gates(normalize = true), p, compactEvery = 2)
    // 1/2/3 are byte-identical after canonicalization: ONE cluster under
    // rep 1 (exact-dup collapse, not even banding needed), one vector
    assert(indexedIds() === Set(1L, 8L),
      "normalized variants index one vector per content")
    val assigned = DedupStream.assignments(spark, work)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L),
      "normalized variants collapse to the min-id representative")
    // the landed cluster-state contents are the CANONICAL text: a later
    // clean re-delivery of the same content is an exact dup against state
    delivery(21L -> clean).write.parquet(s"$landing/d1")
    PipelineStream.pollIngest(spark, landing, work, index,
      Gates(normalize = true), p, compactEvery = 2)
    val assigned2 = DedupStream.assignments(spark, work)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned2(21L) === 1L, "state holds canonical text")
    assert(indexedIds() === Set(1L, 8L))
  }
  test("semantic floor at ingest: within-delivery and vs-state drops, unscorable passes, replay idempotent, chain deviation pinned") {
    val root = java.nio.file.Files.createTempDirectory("graft_pipesem").toString
    val landing = s"$root/landing"; val work = s"$root/work"
    val index = s"$root/index"
    new java.io.File(landing).mkdirs()
    val cents = (0L until 4L).map(c => (c, {
      val a = new Array[Float](8); a(c.toInt * 2) = 1.0f; a
    })).toDF("cell", "_cv")
    Similarity.saveIvf(delivery().select(col("doc_id").as("vec_id"),
      col("embedding")), "vec_id", "embedding", index, IvfTier.Float, nlist = 4,
      centroids = Some(cents))
    val probe = Seq((999999L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    def indexedIds() = Similarity.ivfServe(probe, index, "vec_id",
        "embedding", k = 1000, nprobe = 4)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet

    // vectors in cell 0 (spike at dim 0) parameterized by the dim-1 fine
    // component: angle(x) = atan(x), the 0.995 floor is a ±5.73° ball.
    // TEXTS ARE ALL DISTINCT cliques, so minhash gives the floor no help
    // — every drop below is a semantic-only signal.
    def v(fine: Float): Array[Float] = {
      val a = new Array[Float](8); a(0) = 1.0f; a(1) = fine; a
    }
    def cosv(x: Array[Float], y: Array[Float]): Double = {
      def dot(p: Array[Float], q: Array[Float]) =
        p.zip(q).map { case (m, n) => m.toDouble * n }.sum
      dot(x, y) / (math.sqrt(dot(x, x)) * math.sqrt(dot(y, y)))
    }
    val A = v(0.10f)      // 5.7°: chain anchor
    val A2 = v(0.101f)    // ≈ A — within-delivery dup
    val e11 = v(0.189f)   // 10.7°: inside A's ball, 21 is inside ITS ball
    val e21 = v(0.2813f)  // 15.7°: outside A's ball
    val C = v(0.75f)      // 36.9°: distinct survivor
    val zero = new Array[Float](8)
    assert(cosv(A, A2) >= 0.995 && cosv(A, e11) >= 0.995 &&
      cosv(e11, e21) >= 0.995 && cosv(A, e21) < 0.995 &&
      cosv(A, C) < 0.995 && cosv(C, e21) < 0.995, "fixture geometry")
    def land(name: String, rows: (Long, String, Array[Float])*): Unit =
      rows.toSeq.toDF("doc_id", "text", "embedding")
        .write.parquet(s"$landing/$name")
    def poll(): Unit = PipelineStream.pollIngest(spark, landing, work,
      index, Gates(semantic = Some(Gates.Semantic(0.995))), p,
      compactEvery = 2)

    land("d0", (1L, member("a", 0), A), (2L, member("b", 0), A2),
      (4L, member("c", 0), C), (9L, member("z", 0), zero))
    poll()
    // 2 floored (≈ A, min id 1 wins); 9's zero vector is unscorable —
    // never floored, enters cluster state, but cannot land in a cell
    // (the assignCells contract), so it is absent from the index
    assert(indexedIds() === Set(1L, 4L),
      "within-delivery semantic dup floored; zero-norm unindexable")

    land("d1", (11L, member("d", 0), e11), (12L, member("e", 0), v(1.9f)))
    poll()
    assert(indexedIds() === Set(1L, 4L, 12L),
      "state survivor floors a later near-duplicate delivery")
    val assigned = DedupStream.assignments(spark, work)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(assigned === Set(1L, 4L, 9L, 12L),
      "semantically floored docs never entered cluster state")

    // idempotent empty re-poll
    poll()
    assert(indexedIds() === Set(1L, 4L, 12L))

    // chain deviation (the DedupStream bridge contract's semantic twin):
    // 21 is within the floor of DROPPED 11's vector but of NO survivor →
    // it survives, where batch semDedup over the full corpus would fold
    // it into the {A, A2, 11, 21} chain component. Scored at landing.
    land("d2", (21L, member("f", 0), e21))
    poll()
    assert(indexedIds() === Set(1L, 4L, 12L, 21L),
      "a doc near only DROPPED vectors survives — scored at landing")

    // repairSem closes the deviation offline: the full graph over ALL
    // stored vectors (dropped bridges included) folds {1, 2, 11, 21}
    // into one component, min-id 1 survives, 21 leaves the state AND the
    // index — exactly batch semDedup over every scorable ingested vector
    PipelineStream.repairSem(spark, work, index, semMinCos = 0.995)
    assert(indexedIds() === Set(1L, 4L, 12L),
      "repair folds the chain bridge and prunes the index")
    val batchSurvivors = Similarity.semDedup(
      Seq((1L, A), (2L, A2), (4L, C), (11L, e11), (12L, v(1.9f)),
        (21L, e21)).toDF("vec_id", "embedding"),
      cents.select(col("cell"), col("_cv")), "vec_id", "embedding", 0.995)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(batchSurvivors === Set(1L, 4L, 12L), "batch ground truth")
    // idempotent re-repair: same snapshot, same index
    PipelineStream.repairSem(spark, work, index, semMinCos = 0.995)
    assert(indexedIds() === Set(1L, 4L, 12L))

    // the poller continues on the repaired state: a doc near survivor 1
    // still floors, and a doc near now-REPAIR-DROPPED 21 only is the
    // (expected) fresh deviation — repair is point-in-time
    land("d3", (31L, member("g", 0), v(0.102f)))
    poll()
    assert(indexedIds() === Set(1L, 4L, 12L),
      "poller floors against the repaired survivor set")
  }
}
