package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{IvfTier, Similarity}
import graft.streaming.IvfStream

/** ANN-index ingest probe (SURVEY §8): the [[IvfStream]] poller at the
  * operational shape — a large base corpus is indexed ONCE, then
  * embedding deliveries land poll by poll and each poll must cost
  * DELIVERY-proportional work (stored-centroid assignment + delta write),
  * not corpus-proportional work, while a fixed query batch served between
  * polls stays correct and roughly flat in latency as the corpus grows.
  *
  * Vectors are deterministic synthetic points around `nlist` well-
  * separated unit-axis anchors (dim 64), id-hashed jitter, so nearest-
  * anchor structure is stable at any scale and no RNG state is involved.
  * Each poll appends `perPoll` new vectors; after every poll the probe
  * serves a 200-query batch from the index and asserts EXACTLY the live
  * [[Similarity.ivfTopK]] result over the accumulated corpus with the
  * stored centroids — correctness at every step, not just at the end.
  * Compaction runs every 3 polls (`compactEvery = 3`), so the probe also
  * demonstrates the bounded delta-dir contract and fold-crossing parity.
  *
  * Prints one summary line; run with `sbt "runMain graft.IvfIngestProbe"`.
  * `SPARK_GRAFT_IVF_BASE` = base corpus size (default 200000; 1000000 for
  * the 10× probe), `SPARK_GRAFT_IVF_PERPOLL` = delivery size (default
  * 50000), `SPARK_GRAFT_IVF_POLLS` = delivery count (default 6).
  *
  * `SPARK_GRAFT_IVF_QUANT=1` runs the SQ8 flavor: quantized base save,
  * the SAME poller (appendIvfIndex reads the version manifest's flavor and
  * encodes deliveries per-row), quantized serve after every poll — and
  * the exactness assert becomes served ≡ a full quantize-everything
  * rebuild with the stored centroids (per-row encoding is arrival-order-
  * free, so the parity is bit-exact). The rebuild is the PARITY REFERENCE
  * only, computed outside the timed sections: poll cost stays delivery-
  * proportional in the measured numbers.
  */
object IvfIngestProbe {
  def main(args: Array[String]): Unit = {
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val nBase = sys.env.getOrElse("SPARK_GRAFT_IVF_BASE", "200000").toLong
    val perPoll = sys.env.getOrElse("SPARK_GRAFT_IVF_PERPOLL", "50000").toLong
    val nPolls = sys.env.getOrElse("SPARK_GRAFT_IVF_POLLS", "6").toInt
    val dim = 64; val nlist = 16
    val root = java.nio.file.Files.createTempDirectory("graft_ivfingest").toString
    val landing = s"$root/landing"; val index = s"$root/index"
    val work = s"$root/work"
    new java.io.File(landing).mkdirs()

    // vector j of id i: anchor axis a = i mod nlist gets 1.0, the rest a
    // small deterministic id-hash jitter — cluster structure independent
    // of scale, no RNG
    def vectors(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          (when(j === (col("id") % nlist).cast("int"), lit(1.0f))
            .otherwise(lit(0.0f))
            + (pmod(hash(col("id"), j), lit(1000)).cast("float") / 50000f)
          ).cast("float")).as("embedding"))

    val quant = sys.env.get("SPARK_GRAFT_IVF_QUANT").contains("1")
    val tier = if (quant) IvfTier.Sq8 else IvfTier.Float
    val t0 = System.nanoTime()
    Similarity.saveIvf(vectors(0, nBase), "vec_id", "embedding", index, tier,
      nlist, sampleFraction = math.min(1.0, 100000.0 / nBase))
    val tBuild = (System.nanoTime() - t0) / 1e9
    val cents = Similarity.ivfCentroids(spark, index).localCheckpoint(true)
    val queries = vectors(0, 200).localCheckpoint(true)

    def served(dir: String) = Similarity.ivfServe(queries, dir, "vec_id",
        "embedding", k = 10, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // the exactness reference over the accumulated corpus: the live float
    // path with the stored centroids, or (quant) a full SQ8 rebuild —
    // computed OUTSIDE the timed poll/serve sections
    def want(hi: Long) =
      if (quant) {
        val d = java.nio.file.Files.createTempDirectory("graft_ivfqw").toString
        Similarity.saveIvf(vectors(0, hi), "vec_id", "embedding", d, tier,
          nlist, centroids = Some(cents))
        served(d)
      } else Similarity.ivfTopK(queries, vectors(0, hi), cents,
          "vec_id", "embedding", k = 10, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    var mismatches = 0L
    val stats = (0 until nPolls).map { k =>
      val lo = nBase + k * perPoll; val hi = lo + perPoll
      vectors(lo, hi).write.parquet(s"$landing/d$k")
      val tp = System.nanoTime()
      IvfStream.pollAppend(spark, landing, index, work, compactEvery = 3)
      val pollS = (System.nanoTime() - tp) / 1e9
      val ts = System.nanoTime()
      val got = served(index)
      val serveS = (System.nanoTime() - ts) / 1e9
      if (got != want(hi)) mismatches += 1
      val vdir = new java.io.File(index).listFiles().map(_.getName)
        .filter(_.startsWith("v")).sorted.last
      val deltas = new java.io.File(s"$index/$vdir").listFiles()
        .count(_.getName.startsWith("delta"))
      (pollS, serveS, deltas)
    }
    val polls = stats.map(s => f"${s._1}%.1f").mkString("/")
    val serves = stats.map(s => f"${s._2}%.1f").mkString("/")
    val maxDeltas = stats.map(_._3).max
    println(s"IVF_INGEST${if (quant) "_SQ8" else ""} base=$nBase " +
      s"perPoll=$perPoll polls=$nPolls " +
      f"build=$tBuild%.1fs pollS=$polls serveS=$serves " +
      s"maxDeltas=$maxDeltas mismatchedPolls=$mismatches " +
      s"${if (mismatches == 0) "OK" else "FAIL"}")
    spark.stop()
    if (mismatches != 0) sys.exit(1)
  }
}
