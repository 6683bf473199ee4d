package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.llm.Dedup

/** Dedup stress probe (SURVEY §8): 100 000 docs with 20× planted
  * duplication — 5 000 base texts, each in a ≥20-member near-dup group
  * with per-copy token mutations. This is the candidate-blowup worst case
  * for banded LSH (every band bucket is hot). Measures (1) MinHash+LSH
  * pair extraction with exact Jaccard verification and (2)
  * connected-components survivor selection (star contraction).
  *
  * Prints one summary line; run with `sbt "runMain graft.DedupStress"`.
  * `SPARK_GRAFT_STRESS_BASE` scales the corpus (base-text count; docs =
  * 20×that — 50000 gives the 1 M-doc 10× probe recorded in SURVEY §8).
  */
object DedupStress {
  def main(args: Array[String]): Unit = {
    Probe.watchHeap()
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val nBase = sys.env.getOrElse("SPARK_GRAFT_STRESS_BASE", "5000").toInt
    val copies = 20
    // deterministic synthetic corpus built on the cluster: base text =
    // 40 pseudo-words from the base id; each copy mutates one word slot
    // (pairwise Jaccard within a group ≈ 0.9 — near-dups, not exact dups).
    // Word ids are NAMESPACED PER BASE (base·40 + slot): cross-base texts
    // share zero words by construction, so the planted groups are the
    // ONLY near-dup structure at any nBase. (The earlier modular generator
    // `(base·41 + 7w) mod 99991` wrapped at nBase ≳ 2400: base pairs at
    // offset 41⁻¹·7 shared 39/40 words, chaining the whole corpus into
    // one component — a fixture artifact, caught by the exact-cluster
    // assertion when this probe first ran at 10×.)
    // NOTE Spark's `/` on integer columns is FLOATING-POINT division — the
    // copy index needs the truncating cast
    val docs = spark.range(nBase.toLong * copies)
      .select(col("id").as("doc_id"),
        (col("id") % nBase).as("base"),
        (col("id") / nBase).cast("long").as("copy"))
      .select(col("doc_id"), concat_ws(" ",
        (0 until 40).map { w =>
          val base = concat(lit("w"), (col("base") * 40 + w).cast("string"))
          // copy-specific mutation on one slot
          when(lit(w) === col("copy") % 40,
            concat(lit("m"), col("copy"), lit("_"), base)).otherwise(base)
        }: _*).as("text"))
      .localCheckpoint()
    val t0 = System.nanoTime()
    val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16, minJaccard = 0.7)
      .localCheckpoint()
    val nPairs = pairs.count()
    val tPairs = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val reps = Dedup.withRepresentatives(docs, "doc_id", pairs)
    val nReps = reps.filter(col("doc_id") === col("rep_id")).count()
    val tCluster = (System.nanoTime() - t1) / 1e9
    println(f"DEDUP_STRESS docs=${nBase * copies} pairs=$nPairs " +
      f"pairsSecs=$tPairs%.1f reps=$nReps clusterSecs=$tCluster%.1f " +
      f"heapAfterGcPeakMb=${Probe.heapAfterGcPeakMb}")
    // EXACT cluster count: fewer = over-merge (distinct bases collapsed),
    // more = under-merge (a planted group split) — both are failures
    require(nReps == nBase,
      s"expected exactly $nBase clusters (one per base), got $nReps")
    spark.stop()
  }
}
