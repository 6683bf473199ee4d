package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{Gates, IvfTier, Quality, Similarity}
import graft.streaming.{DedupStream, PipelineStream}

/** Ingest-at-scale probe (round-11 stretch 8): `pollIngest` end-to-end
  * over ≥ 10 successive sf1-sized deliveries with EVERY gate on —
  * classifier, trained langid, semantic, span, repetition, gopher,
  * perplexity (bigram), decontamination, quality, normalize — measuring
  * per-delivery wall and state growth. The streaming twin of the sf1
  * bench tier: the thing to demonstrate is that a delivery's cost
  * depends on the DELIVERY (plus bounded state reads), not on how much
  * history has accumulated, and that state grows with survivors, not
  * with deliveries.
  *
  * Run: `sbt "runMain graft.IngestProbe"`; scale with
  * `SPARK_GRAFT_INGEST_DOCS` (docs per delivery, default 50000 — the
  * sf1 documents table size) and `SPARK_GRAFT_INGEST_N` (deliveries,
  * default 10). */
object IngestProbe {
  def main(args: Array[String]): Unit = {
    val perDelivery = sys.env.getOrElse("SPARK_GRAFT_INGEST_DOCS", "50000").toInt
    val nDeliveries = sys.env.getOrElse("SPARK_GRAFT_INGEST_N", "10").toInt
    val spark = Tables.configure(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    val root = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val landing = s"$root/landing"; val work = s"$root/work"
    val index = s"$root/index"
    new java.io.File(landing).mkdirs()

    def dirBytes(p: String): Long = {
      val f = new java.io.File(p)
      if (!f.exists()) 0L
      else if (f.isFile) f.length()
      else f.listFiles().map(x => dirBytes(x.getPath)).sum
    }

    // --- fixed fixtures ------------------------------------------------
    // English survivor text: stopwords INTERLEAVED with per-doc unique
    // tokens (36 tokens, stop ratio 0.5) — every 8-token window contains
    // a unique token, so survivors never trip the span-dup floor, while
    // quality/langid still see the stop vocabulary.
    val enStops = Array("the", "of", "and", "to", "a")
    val esStops = Array("el", "la", "los", "y", "de")
    def enDoc(u: Long) =
      (0 until 18).map(i => s"${enStops(i % 5)} u${u}x$i").mkString(" ")
    def esDoc(u: Long) =
      (0 until 18).map(i => s"${esStops(i % 5)} v${u}x$i").mkString(" ")
    val boiler = (0 until 24).map(i => s"bp$i").mkString(" ")
    val benchText = "the secret benchmark answer sequence alpha beta " +
      "gamma delta epsilon zeta eta theta"
    def spamDoc(u: Long) = ("spam " * 40).trim + s" u$u"
    def gibberish(u: Long) = (0 until 40).map(_ => "###").mkString(" ") + s" u$u"

    // labeled langid sample (en/es) and quality sample (good/spam)
    val langLabeled = ((0L until 200L).map(i => (i, enDoc(i), "en")) ++
      (200L until 400L).map(i => (i, esDoc(i), "es")))
      .toDF("doc_id", "text", "lang")
    val dim = 1 << 16
    val langW = Quality.trainTextClassifierMulti(langLabeled, "doc_id",
      "text", "lang", dim, iters = 60).localCheckpoint()
    val qLabeled = ((0L until 200L).map(i => (i, enDoc(i), 1)) ++
      (200L until 400L).map(i => (i, spamDoc(i), 0)))
      .toDF("doc_id", "text", "label")
    val clfW = Quality.trainTextClassifier(qLabeled, "doc_id", "text",
      "label", dim, iters = 60).localCheckpoint()
    // reference LM (unigram + bigram) from the English sample
    val ref = (0L until 2000L).map(i => i -> enDoc(i)).toDF("doc_id", "text")
    val uni = Quality.unigramLm(ref, "text", 4000).localCheckpoint()
    val bi = Quality.bigramLm(ref, "text", uni, 8000).localCheckpoint()
    val bench = Seq(0L -> benchText).toDF("doc_id", "text")

    // empty-seeded semantic index. 64 cells, not a handful: the
    // within-cell pair join costs delivery_c x state_c per cell — a
    // too-coarse partition makes every delivery rescan ~all accumulated
    // state (measured: walls grew ~2.5x over 10 deliveries at nlist=8);
    // production runs use nlist in the thousands so the probed slice
    // stays a sliver. Deterministic signed-hash centroid directions
    // match the delivery vectors' own distribution.
    val rnd16 = (c: Long) => Array.tabulate(16) { i =>
      (((c * 31L + i) * 0x9e3779b97f4a7c15L >>> 40) % 2001 - 1000) / 1000.0f
    }
    val cents = (0L until 64L).map(c => (c, rnd16(c))).toDF("cell", "_cv")
    Similarity.saveIvf(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", index, IvfTier.Float, nlist = 64,
      centroids = Some(cents))

    val p = DedupStream.Params()

    // --- deliveries ----------------------------------------------------
    // per delivery: 60% unique en survivors, 10% exact dups of ONE
    // template (cross-delivery), 8% boilerplate-span, 5% repetition
    // spam, 5% es, 5% gibberish, 4% contaminated, 3% near-dup vectors
    // of survivor 0 (semantic floor)
    println("INGEST_PROBE delivery wall_s survivors state_mb index_mb")
    val walls = new Array[Double](nDeliveries)
    var totalSurvivors = 0L
    for (dlv <- 0 until nDeliveries) {
      val base = dlv.toLong * 10000000L
      val docs = spark.range(perDelivery).select(
        (col("id") + base).as("doc_id"),
        // 0-59 unique en survivors; 60-69 one exact-dup template;
        // 70-77 boilerplate-span; 78-82 repetition spam; 83-87 es;
        // 88-92 gibberish; 93-95 contaminated; 96-99 survivor text with
        // COLLIDING embeddings (the semantic floor's prey)
        when(col("id") % 100 < 60 || col("id") % 100 >= 96,
            concat_ws(" ", (0 until 18).flatMap(i => Seq(
              lit(enStops(i % 5)),
              concat(lit("u"), col("id") + base, lit(s"x$i")))): _*))
          .when(col("id") % 100 < 70, lit(enDoc(424242L)))
          .when(col("id") % 100 < 78,
            concat(lit(boiler + " "), lit("the of and to a tail "),
              concat(lit("t"), col("id") + base)))
          .when(col("id") % 100 < 83,
            concat(lit(("spam " * 40).trim + " "),
              concat(lit("u"), col("id") + base)))
          .when(col("id") % 100 < 88,
            concat_ws(" ", (0 until 18).flatMap(i => Seq(
              lit(esStops(i % 5)),
              concat(lit("v"), col("id") + base, lit(s"x$i")))): _*))
          .when(col("id") % 100 < 93,
            concat(lit((0 until 40).map(_ => "###").mkString(" ") + " "),
              concat(lit("u"), col("id") + base)))
          .otherwise(
            concat(lit("the of and to a " + benchText + " "),
              concat(lit("u"), col("id") + base)))
          .as("text"),
        // embeddings: id-distinct directions, except the 96-99 class
        // collides onto one direction (semantic near-dups of each other)
        when(col("id") % 100 >= 96, array(
            (lit(1.0f) +: (1 until 16).map(_ => lit(0.0f))): _*))
          .otherwise(array((0 until 16).map(i =>
            ((pmod(xxhash64(col("id") + base, lit(i)), lit(2001)) -
              lit(1000)) / lit(1000.0)).cast("float")): _*))
          .as("embedding"))
      docs.write.mode("overwrite").parquet(s"$landing/d$dlv")

      val t0 = System.nanoTime()
      PipelineStream.pollIngest(spark, landing, work, index, Gates(
          normalize = true,
          semantic = Some(Gates.Semantic(0.95)),
          span = Some(Gates.Span(8, 0.5)),
          repetition = Some(Gates.Repetition(0.6, 0.3)),
          gopher = false, // the stop-heavy fixture is tuned for quality/lang
          perplexity = Some(Gates.Perplexity(uni, 50000.0, Some(bi))),
          classifier = Some(Gates.Classifier(clfW, 0L, dim)),
          contamination = Some(Gates.Contamination(bench, 0.2, 5)),
          quality = Some(Gates.QualityFloor(0.5,
            Seq("the", "a", "of", "and", "to"))),
          language = Some(Gates.Language(Seq("en"),
            Seq("en" -> Seq("the", "of"), "es" -> Seq("el", "la")),
            Some(langW), dim))),
        p, compactEvery = 4)
      val wall = (System.nanoTime() - t0) / 1e9
      walls(dlv) = wall
      val survivors = DedupStream.assignments(spark, work).count()
      totalSurvivors = survivors
      println(f"INGEST_PROBE $dlv%2d $wall%7.2f $survivors%9d " +
        f"${dirBytes(work) / 1e6}%8.1f ${dirBytes(index) / 1e6}%8.1f")
    }

    // near-constant wall: ignore the first delivery (cold caches); the
    // remaining walls must stay within 2.5x of each other
    val later = walls.drop(1)
    val ok = later.max <= 2.5 * later.min && totalSurvivors > 0
    println(f"INGEST_PROBE total_survivors=$totalSurvivors " +
      f"wall_min=${later.min}%.2f wall_max=${later.max}%.2f " +
      s"${if (ok) "OK" else "FAIL"}")
    spark.stop()
  }
}
