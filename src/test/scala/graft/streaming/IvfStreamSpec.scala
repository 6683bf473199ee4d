package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{Tables, TestSpark}
import graft.llm.{IvfTier, Similarity}

/** The IVF ingest poller must serve, after every poll, exactly what the
  * live IVF path computes over the accumulated corpus with the STORED
  * centroids — across multi-delivery polls, compaction boundaries,
  * replayed micro-batches (pre- and post-fold), and empty re-polls. */
class IvfStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("poller appends deliveries exactly once across polls, compactions, and replays") {
    val root = java.nio.file.Files.createTempDirectory("graft_ivfstream").toString
    val landing = s"$root/landing"; val index = s"$root/index"
    val work = s"$root/work"
    new java.io.File(landing).mkdirs()
    val embs = Tables.embeddings(spark, TestSpark.sfDir)
    val vid = col("vec_id")
    val base = embs.filter(vid % 4 === 0)
    val deliveries = (1 to 3).map(m => embs.filter(vid % 4 === m))
    val q = embs.filter(vid % 37 === 0)
    Similarity.saveIvf(base, "vec_id", "embedding", index, IvfTier.Float,
      nlist = 8)
    // eager: later compactions sweep v1's files out from under a lazy plan
    val cents = Similarity.ivfCentroids(spark, index).localCheckpoint(true)
    def live(corpus: org.apache.spark.sql.DataFrame) = rows(
      Similarity.ivfTopK(q, corpus, cents, "vec_id", "embedding", k = 5, nprobe = 3))
    def served() = rows(
      Similarity.ivfServe(q, index, "vec_id", "embedding", k = 5, nprobe = 3))

    // poll 1: one delivery, no compaction yet (compactEvery = 2 → folds
    // on batch ids 1, 3, …)
    deliveries(0).write.parquet(s"$landing/d0")
    IvfStream.pollAppend(spark, landing, index, work, compactEvery = 2)
    assert(served() === live(base.union(deliveries(0))), "after poll 1")

    // poll 2: next delivery lands; batch id 1 triggers the fold
    deliveries(1).write.parquet(s"$landing/d1")
    IvfStream.pollAppend(spark, landing, index, work, compactEvery = 2)
    val afterTwo = live(base.union(deliveries(0)).union(deliveries(1)))
    assert(served() === afterTwo, "after poll 2")
    val vdir = new java.io.File(index).listFiles().map(_.getName)
      .filter(_.startsWith("v")).sorted.toSeq
    assert(vdir === Seq("v2"), s"compaction must have folded to v2: $vdir")
    assert(new java.io.File(s"$index/v2").listFiles().map(_.getName)
      .count(_.startsWith("delta")) === 0, "deltas folded")

    // idempotent empty re-poll: nothing new landed
    IvfStream.pollAppend(spark, landing, index, work, compactEvery = 2)
    assert(served() === afterTwo, "empty re-poll must not change serving")

    // poll 3: third delivery → delta b2 on v2 (no fold at batch id 2)
    deliveries(2).write.parquet(s"$landing/d2")
    IvfStream.pollAppend(spark, landing, index, work, compactEvery = 2)
    val full = live(base.union(deliveries(0)).union(deliveries(1))
      .union(deliveries(2)))
    assert(served() === full, "after poll 3")
    assert(new java.io.File(s"$index/v2").listFiles().map(_.getName)
      .filter(_.startsWith("delta")).toSeq === Seq("deltab2"))

    // crash-replay of the live delta: a restarted poller re-runs batch 2
    // against the same file slice — the rewrite must converge bit-stable
    Similarity.appendIvfIndex(deliveries(2), "vec_id", "embedding", index,
      Some("b2"))
    assert(served() === full, "replayed un-folded batch converges")

    // crash-replay of a FOLDED batch: batch 1's rows live in v2's base
    // now; a replay must find it in the _FOLDED ledger and no-op —
    // re-appending would double its rows
    Similarity.appendIvfIndex(deliveries(1), "vec_id", "embedding", index,
      Some("b1"))
    assert(served() === full, "replayed folded batch must no-op")

    // the ledger carries forward across the NEXT compaction too
    Similarity.compactIvfIndex(spark, index)
    Similarity.appendIvfIndex(deliveries(0), "vec_id", "embedding", index,
      Some("b0"))
    assert(served() === full, "ledger survives subsequent compactions")
  }

  test("quantized index stays fresh through the same poller: served ≡ quantize-everything rebuild across fold and crash replay") {
    val root = java.nio.file.Files.createTempDirectory("graft_ivfqstream").toString
    val landing = s"$root/landing"; val index = s"$root/index"
    val work = s"$root/work"
    new java.io.File(landing).mkdirs()
    val embs = Tables.embeddings(spark, TestSpark.sfDir)
    val vid = col("vec_id")
    val base = embs.filter(vid % 4 === 0)
    val deliveries = (1 to 3).map(m => embs.filter(vid % 4 === m))
    val q = embs.filter(vid % 37 === 0)
    Similarity.saveIvf(base, "vec_id", "embedding", index, IvfTier.Sq8,
      nlist = 8)
    val cents = Similarity.ivfCentroids(spark, index).localCheckpoint(true)
    // the parity reference: quantize the WHOLE accumulated corpus in one
    // save with the same centroids, serve that — per-row encoding and
    // cell assignment are arrival-order-free, so the poller-grown index
    // must serve bit-identically
    def rebuilt(corpus: org.apache.spark.sql.DataFrame) = {
      val d = java.nio.file.Files.createTempDirectory("graft_ivfqref").toString
      Similarity.saveIvf(corpus, "vec_id", "embedding", d, IvfTier.Sq8,
        nlist = 8, centroids = Some(cents))
      rows(Similarity.ivfServe(q, d, "vec_id", "embedding", 5, 3))
    }
    def served() = rows(
      Similarity.ivfServe(q, index, "vec_id", "embedding", 5, 3))

    deliveries(0).write.parquet(s"$landing/d0")
    IvfStream.pollAppend(spark, landing, index, work, compactEvery = 2)
    assert(served() === rebuilt(base.union(deliveries(0))), "after poll 1")

    // poll 2 folds (batch id 1, compactEvery = 2) — marker must carry
    deliveries(1).write.parquet(s"$landing/d1")
    IvfStream.pollAppend(spark, landing, index, work, compactEvery = 2)
    val afterTwo = rebuilt(base.union(deliveries(0)).union(deliveries(1)))
    assert(served() === afterTwo, "across the compaction boundary")
    assert(graft.llm.IvfManifest.read(spark, s"$index/v2").flavor ===
      graft.llm.IvfFlavor.Sq8,
      "fold must carry the flavor marker")

    // poll 3 lands a live delta on the folded version
    deliveries(2).write.parquet(s"$landing/d2")
    IvfStream.pollAppend(spark, landing, index, work, compactEvery = 2)
    val full = rebuilt(base.union(deliveries(0)).union(deliveries(1))
      .union(deliveries(2)))
    assert(served() === full, "after poll 3")

    // crash replay of the live quantized delta converges bit-stable
    Similarity.appendIvfIndex(deliveries(2), "vec_id", "embedding", index,
      Some("b2"))
    assert(served() === full, "replayed un-folded quantized batch converges")
    // crash replay of a FOLDED batch no-ops via the ledger
    Similarity.appendIvfIndex(deliveries(1), "vec_id", "embedding", index,
      Some("b1"))
    assert(served() === full, "replayed folded quantized batch must no-op")
  }
}
