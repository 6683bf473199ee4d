package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{IvfTier, Similarity}
import graft.streaming.{DedupStream, PipelineStream}

/** Composed ingest-loop probe (SURVEY §8): [[PipelineStream]] at the
  * operational shape — every delivery is ~100 % near-duplicate against
  * the accumulated corpus ([[DedupIngestProbe]]'s worst-case mutation
  * corpus, one mutated copy of every existing cluster per poll), each
  * document carrying an embedding. The invariant probed after EVERY poll:
  * the ANN index holds EXACTLY one vector per planted cluster (`nBase`) —
  * near-dup deliveries must dedup away and never reach the index, while
  * the dedup state keeps assigning every document to its planted rep.
  * Per-poll wall must stay delivery-proportional (the corpus-proportional
  * passes never run in the loop), and the final [[PipelineStream
  * .repairAndPrune]] over the bridge-free corpus must be an exact no-op
  * on both the assignments and the index.
  *
  * Prints one summary line; run with `sbt "runMain graft.PipelineIngestProbe"`.
  * `SPARK_GRAFT_PIPE_BASE` = planted cluster count (default 10000; docs =
  * 20× that), `SPARK_GRAFT_PIPE_POLLS` = delivery count (default 10).
  */
object PipelineIngestProbe {
  def main(args: Array[String]): Unit = {
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val nBase = sys.env.getOrElse("SPARK_GRAFT_PIPE_BASE", "10000").toInt
    val copies = 20
    val nPolls = sys.env.getOrElse("SPARK_GRAFT_PIPE_POLLS", "10").toInt
    require(copies % nPolls == 0, s"polls must divide $copies")
    val copiesPerPoll = copies / nPolls
    val dim = 32
    val root = java.nio.file.Files.createTempDirectory("graft_pipeingest").toString
    val landing = s"$root/landing"; val work = s"$root/work"
    val index = s"$root/index"
    new java.io.File(landing).mkdirs()

    // DedupIngestProbe's namespaced mutation corpus + a deterministic
    // id-hash embedding per doc
    def corpusSlice(copyLo: Int, copyHi: Int): DataFrame = spark
      .range(nBase.toLong * copyLo, nBase.toLong * copyHi)
      .select(col("id").as("doc_id"),
        (col("id") % nBase).as("base"),
        (col("id") / nBase).cast("long").as("copy"))
      .select(col("doc_id"), concat_ws(" ",
        (0 until 40).map { w =>
          val b = concat(lit("w"), (col("base") * 40 + w).cast("string"))
          when(lit(w) === col("copy") % 40,
            concat(lit("m"), col("copy"), lit("_"), b)).otherwise(b)
        }: _*).as("text"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          (when(j === (col("doc_id") % 16).cast("int"), lit(1.0f))
            .otherwise(lit(0.0f))
            + (pmod(hash(col("doc_id"), j), lit(1000)).cast("float") / 50000f)
          ).cast("float")).as("embedding"))

    // empty-seeded index, deterministic external centroids: 16 unit axes
    val cents = spark.range(16).select(col("id").as("cell"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        when(j === col("id").cast("int"), lit(1.0f)).otherwise(lit(0.0f)))
        .as("_cv"))
    Similarity.saveIvf(
      corpusSlice(0, 0).select(col("doc_id").as("vec_id"), col("embedding")),
      "vec_id", "embedding", index, IvfTier.Float, nlist = 16,
      centroids = Some(cents))

    val p = DedupStream.Params(n = 3, numHashes = 64, bands = 16,
      minJaccard = 0.7, compactEvery = 3)
    def indexCount: Long = Similarity.ivfIndexStats(spark, index)
      .agg(sum("n")).head.getLong(0)
    var badPolls = 0L
    val times = (0 until nPolls).map { k =>
      corpusSlice(k * copiesPerPoll, (k + 1) * copiesPerPoll)
        .write.parquet(s"$landing/poll$k")
      val t0 = System.nanoTime()
      PipelineStream.pollIngest(spark, landing, work, index, p = p,
        compactEvery = 3)
      val w = (System.nanoTime() - t0) / 1e9
      if (indexCount != nBase.toLong) badPolls += 1
      w
    }
    val assign = DedupStream.assignments(spark, work)
    val wrong = assign.filter(col("rep_id") =!= col("doc_id") % nBase).count()
    val total = assign.count()
    val t1 = System.nanoTime()
    PipelineStream.repairAndPrune(spark, work, index, p)
    val repairS = (System.nanoTime() - t1) / 1e9
    val postRepairWrong = DedupStream.assignments(spark, work)
      .filter(col("rep_id") =!= col("doc_id") % nBase).count()
    val postIndex = indexCount
    val polls = times.map(t => f"$t%.1f").mkString("/")
    val ok = badPolls == 0 && wrong == 0 && postRepairWrong == 0 &&
      postIndex == nBase.toLong && total == nBase.toLong * copies
    println(s"PIPE_INGEST base=$nBase docs=${nBase.toLong * copies} " +
      s"polls=$nPolls pollS=$polls badIndexPolls=$badPolls wrong=$wrong " +
      f"repairNoopS=$repairS%.1f postRepairWrong=$postRepairWrong " +
      s"indexVectors=$postIndex ${if (ok) "OK" else "FAIL"}")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
