package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.streaming.DedupStream

/** Ingest-time near-dup dedup probe (SURVEY §8): the [[DedupStream]]
  * poller at the operational shape — documents land in poll-sized
  * deliveries and EVERY delivery is ~100 % near-duplicate against the
  * accumulated state (each poll brings new mutated copies of every
  * existing cluster: the worst case for the index probe, since every
  * content generates candidates and attaches).
  *
  * Corpus = [[DedupStress]]'s namespaced generator: `nBase` base texts ×
  * `copies` members, copy k mutating word slot k — planted groups are the
  * only near-dup structure at any scale. Deliveries slice by copy index,
  * so poll 0 seeds the clusters and later polls must attach every
  * document across batches. The final assertion is EXACT: all
  * `nBase × copies` documents assigned rep = their base's first doc —
  * fewer clusters = over-merge, more = under-merge, both failures.
  *
  * The poller runs with aggressive state compaction (`compactEvery = 3`)
  * so the probe also demonstrates the bounded-dir-count contract at
  * operational scale, and finishes with an offline [[DedupStream
  * .repairMerges]] pass over the full accumulated state (bridge-free
  * corpus → the repair must be an exact no-op on every assignment while
  * still building and resolving the complete stored-content graph — the
  * expensive part at scale).
  *
  * Prints one summary line; run with `sbt "runMain graft.DedupIngestProbe"`.
  * `SPARK_GRAFT_INGEST_BASE` scales (base-text count; docs = 20× that —
  * 50000 gives a 1 M-doc probe); `SPARK_GRAFT_INGEST_POLLS` sets the
  * delivery count (default 10).
  */
object DedupIngestProbe {
  def main(args: Array[String]): Unit = {
    Probe.watchHeap()
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val nBase = sys.env.getOrElse("SPARK_GRAFT_INGEST_BASE", "5000").toInt
    val copies = 20
    val nPolls = sys.env.getOrElse("SPARK_GRAFT_INGEST_POLLS", "10").toInt
    require(copies % nPolls == 0, s"polls must divide $copies")
    val copiesPerPoll = copies / nPolls
    val base = java.nio.file.Files.createTempDirectory("graft_dingest").toString
    val landing = s"$base/landing"; val work = s"$base/work"
    new java.io.File(landing).mkdirs()

    def corpusSlice(copyLo: Int, copyHi: Int) = spark
      .range(nBase.toLong * copyLo, nBase.toLong * copyHi)
      .select(col("id").as("doc_id"),
        (col("id") % nBase).as("base"),
        (col("id") / nBase).cast("long").as("copy"))
      .select(col("doc_id"), concat_ws(" ",
        (0 until 40).map { w =>
          val b = concat(lit("w"), (col("base") * 40 + w).cast("string"))
          when(lit(w) === col("copy") % 40,
            concat(lit("m"), col("copy"), lit("_"), b)).otherwise(b)
        }: _*).as("text"))

    val p = DedupStream.Params(n = 3, numHashes = 64, bands = 16,
      minJaccard = 0.7, compactEvery = 3)
    def dirCount = {
      val d = new java.io.File(s"$work/contents").listFiles()
      if (d == null) 0 else d.count(f => !f.getName.startsWith("."))
    }
    var maxDirs = 0
    val times = (0 until nPolls).map { k =>
      corpusSlice(k * copiesPerPoll, (k + 1) * copiesPerPoll)
        .write.parquet(s"$landing/poll$k")
      val t0 = System.nanoTime()
      DedupStream.pollNearDedup(spark, landing, work, p)
      maxDirs = math.max(maxDirs, dirCount)
      (System.nanoTime() - t0) / 1e9
    }
    def checkExact(): (Long, Long) = {
      val assign = DedupStream.assignments(spark, work)
      // EXACT: every document's rep is its base's copy-0 doc id (= base id)
      (assign.count(), assign.filter(col("rep_id") =!= col("doc_id") % nBase).count())
    }
    val (nDocs, nWrong) = checkExact()
    val nState = DedupStream.contents(spark, work).count()
    // offline repair over the full state: bridge-free corpus → must be an
    // exact no-op on assignments while resolving the whole content graph
    val tr0 = System.nanoTime()
    DedupStream.repairMerges(spark, work, p)
    val repairSec = (System.nanoTime() - tr0) / 1e9
    val (nDocsR, nWrongR) = checkExact()
    println(f"DEDUP_INGEST docs=$nDocs wrong=$nWrong stateRows=$nState " +
      f"maxStateDirs=$maxDirs repair=$repairSec%.1fs wrongAfterRepair=$nWrongR " +
      times.zipWithIndex.map { case (t, i) => f"poll$i=$t%.1fs" }
        .mkString(" ") + f" heapAfterGcPeakMb=${Probe.heapAfterGcPeakMb}")
    require(nDocs == nBase.toLong * copies, s"expected ${nBase * copies} assignments, got $nDocs")
    require(nWrong == 0L, s"$nWrong documents assigned to a wrong cluster")
    require(maxDirs <= p.compactEvery + 1, s"state dirs grew to $maxDirs")
    require(nDocsR == nDocs && nWrongR == 0L,
      s"repair changed a bridge-free corpus: docs=$nDocsR wrong=$nWrongR")
    spark.stop()
  }
}
