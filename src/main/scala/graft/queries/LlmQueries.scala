package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{Bpe, Corpus, Dedup, Gates, IvfRefine, IvfTier, Multimodal, Quality, Relevance, Sampling, Similarity, TextStats}
import Q._

/** LLM training-data pipeline queries over the `documents` and `embeddings`
  * tables: dedup (exact / n-gram Jaccard / MinHash+LSH / SimHash),
  * similarity search (brute-force + IVF), text analysis, and multimodal
  * binary plumbing.
  *
  * Oracle SQL references the parquet files via the `{SFDIR}` placeholder,
  * substituted by Verify at dump time — robust to whether the driver
  * registers `documents`/`embeddings` as views.
  */
object LlmQueries {
  private val STOPS = Seq("the", "a", "of", "and", "to")
  private val MARKERS = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "la", "los", "y"))
  /** d7's gates: quality floor 0.5 and English by marker vote. */
  private val D7 = Gates(quality = Some(Gates.QualityFloor(0.5, STOPS)),
    language = Some(Gates.Language(Seq("en"), MARKERS)))

  /** Chunk-every-4-tokens line injection for d16/tx9/d21 —
    * alternation-free and backtracking-trivial so Java and RE2 replace
    * the same spans; the oracle interpolates this constant (replacement
    * backref syntax is the engines' own: `$1` Java, `\1` RE2). The
    * ENGINE side runs the compiled byte-scan twin
    * ([[graft.functions.Cols.chunkLines]], property-pinned ≡ this
    * regex). */
  private val LineChunkRe = "((\\S+ ){3}\\S+) "

  private def docs(s: SparkSession, dir: String) = t(s, dir, "documents")

  /** Deterministically-messed URL for the tx15/tx16 twin fixtures:
    * scheme case, `www.`, default ports, bare-`/` paths, fragments, and
    * a registry-suffix (`.co.uk`) arm all vary with doc_id; the oracle
    * rebuilds the identical strings from the same columns. */
  private def messyUrl = concat(
    when(col("doc_id") % 3 === 0, lit("HTTP://"))
      .when(col("doc_id") % 3 === 1, lit("https://"))
      .otherwise(lit("http://")),
    when(col("doc_id") % 2 === 0, lit("WWW.")).otherwise(lit("")),
    when(col("doc_id") % 11 === 0, lit("cdn.")).otherwise(lit("")),
    col("source"), lit("-site"),
    when(col("doc_id") % 5 === 0, lit(".co.uk")).otherwise(lit(".com")),
    when(col("doc_id") % 3 === 0, lit(":80"))
      .when(col("doc_id") % 3 === 1, lit(":443"))
      .otherwise(lit("")),
    when(col("doc_id") % 7 === 0, lit("/"))
      .otherwise(concat(lit("/P/"), col("doc_id"))),
    when(col("doc_id") % 4 === 0, lit("#Frag")).otherwise(lit("")))
  private def embs(s: SparkSession, dir: String) = t(s, dir, "embeddings")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup by content hash (shuffles 32-byte hashes, not documents)
    "d1_exact_dedup" -> ((s, dir) => {
      sortAll(Dedup.exactDedup(docs(s, dir), "doc_id", "text")
        .select(col("rep_id"), col("n_copies")))
    }),

    // Exact n-gram Jaccard near-dup pairs via inverted shingle index
    "d2_ngram_jaccard" -> ((s, dir) => {
      sortAll(Dedup.jaccardPairs(docs(s, dir), "doc_id", "text", 3, 0.8)
        .select(col("i"), col("j"), round(col("jaccard"), 6).as("jac")))
    }),

    // MinHash(64) + LSH(16 bands of 4) with exact-Jaccard verification.
    // At J≈0.98 (the planted near-dup band) P(miss) = (1−J⁴)^16 < 1e-18,
    // and every emitted pair is exact-verified, so the result equals the
    // exact pair set on this data — same oracle as d2.
    "d3_minhash_lsh" -> ((s, dir) => {
      sortAll(Dedup.minhashDedupPairs(docs(s, dir), "doc_id", "text",
          3, 64, 16, 0.8)
        .select(col("i"), col("j"), round(col("jaccard"), 6).as("jac")))
    }),

    // SimHash near-dup pairs (hamming ≤ 3 via exact 4-band blocking).
    // Token hash = md5 low-64 → the full signature + pair set replays in
    // DuckDB bit ops (hash-gated); band-blocking exactness additionally
    // brute-force-checked in ScalaTest.
    "d4_simhash" -> ((s, dir) => {
      val sig = Dedup.simhash(docs(s, dir), "doc_id", "text")
      sortAll(Dedup.simhashPairs(sig, 3, 4))
    }),

    // Near-dup pair table → connected components → survivors: one row per
    // multi-member cluster (rep = min doc_id) with the member count — the
    // step that actually DROPS near-duplicates from a corpus
    "d6_neardup_clusters" -> ((s, dir) => {
      // scale path: clusters straight from collapsed representatives — the
      // member-level pair table (quadratic in exact-dup group size) is
      // never materialized
      val reps = Dedup.minhashRepresentatives(docs(s, dir), "doc_id", "text",
        3, 64, 16, 0.8)
      sortAll(reps.groupBy(col("rep_id")).agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") > 1))
    }),

    // Embedding-cosine near-dup pairs — exact distributed block-triangle
    // all-pairs (no driver collect; per-task memory bounded by block size)
    "d5_embedding_neardup" -> ((s, dir) => {
      sortAll(Similarity.cosineNearDupPairs(embs(s, dir), "vec_id", "embedding", 0.35)
        .select(col("i"), col("j"), round(col("cos"), 6).as("cos")))
    }),

    // Brute-force exact cosine top-5 for 50 query vectors (the ANN baseline)
    "ann1_cosine_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") < 50)
      sortAll(Similarity.cosineTopK(q, e, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 6).as("cos")))
    }),

    // IVF-partitioned ANN: 8 deterministic coarse cells, 3 probes; output is
    // mean recall@5 vs the exact scan. With deterministic centroids the
    // entire computation (cell assignment, probe fan-out, per-cell top-k,
    // recall) replays in SQL → hash-gated like everything else.
    "ann2_ivf_recall" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") < 50)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("_cv"))
      val exact = Similarity.cosineTopK(q, e, "vec_id", "embedding", 5)
      val approx = Similarity.ivfTopK(q, e, cents, "vec_id", "embedding", 5, 3)
      Similarity.recallAgainst(exact, approx, 5)
    }),

    // Persisted-index serving path: save the index with the SAME
    // deterministic centroids as ann2 (external-codebook injection, no
    // k-means), then serve the query batch against the directory — the
    // probed-cells-only file scan. Results must equal the live IVF path,
    // so the whole thing replays in DuckDB like ann2.
    "ann3_ivf_indexed" -> ((s, dir) => {
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("_cv"))
      val idx = java.nio.file.Files.createTempDirectory("graft_ann3").toString
      Similarity.saveIvf(e, "vec_id", "embedding", idx, IvfTier.Float,
        nlist = 8, centroids = Some(cents))
      val q = e.filter(col("vec_id") < 50)
      sortAll(Similarity.ivfServe(q, idx, "vec_id", "embedding",
          k = 5, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 6).as("cos")))
    }),

    // Incremental-growth parity: index HALF the corpus, append the other
    // half against the stored centroids, serve — cell assignment per
    // vector is independent of arrival, so the result must hash-equal
    // ann3's full-save serve (same oracle SQL) — the append path gated by
    // the driver differential, not just ScalaTest.
    "ann4_ivf_appended" -> ((s, dir) => {
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("_cv"))
      val idx = java.nio.file.Files.createTempDirectory("graft_ann4").toString
      Similarity.saveIvf(e.filter(col("vec_id") % 2 === 0), "vec_id",
        "embedding", idx, IvfTier.Float, nlist = 8, centroids = Some(cents))
      Similarity.appendIvfIndex(e.filter(col("vec_id") % 2 =!= 0), "vec_id",
        "embedding", idx)
      val q = e.filter(col("vec_id") < 50)
      sortAll(Similarity.ivfServe(q, idx, "vec_id", "embedding",
          k = 5, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 6).as("cos")))
    }),

    // Quantized tier END TO END through the driver differential: SQ8-save half
    // the corpus, append the other half (the version manifest's SQ8 flavor
    // makes the append quantize per-row), then serve REFINED at full candidate
    // width — every probed pair is exactly re-scored, so the result is the
    // exact probed-cell top-5 and replays in DuckDB like ann3. The refine
    // contract ("quantized proposes, exact re-scoring decides") is the
    // documented serving mode; the lossy raw-SQ8 ranking itself stays
    // recall-gated in ScalaTest, as befits a lossy tier.
    "ann5_ivf_quantized_appended" -> ((s, dir) => {
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("_cv"))
      val idx = java.nio.file.Files.createTempDirectory("graft_ann5").toString
      Similarity.saveIvf(e.filter(col("vec_id") % 2 === 0), "vec_id",
        "embedding", idx, IvfTier.Sq8, nlist = 8, centroids = Some(cents))
      Similarity.appendIvfIndex(e.filter(col("vec_id") % 2 =!= 0), "vec_id",
        "embedding", idx)
      val q = e.filter(col("vec_id") < 50)
      // factor sized so k·factor ≥ corpus: candidates = ALL probed pairs
      val factor = (e.count() / 5 + 1).toInt
      sortAll(Similarity.ivfServe(q, idx, "vec_id", "embedding", k = 5,
          nprobe = 3, refine = Some(IvfRefine(e, factor)))
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 6).as("cos")))
    }),

    // Product-quantized tier end to end: PQ save (8 subspaces, per-row
    // 8-byte codes) over half the corpus, delivery-proportional append
    // of the other half (encoded against the STORED codebooks — the
    // manifest's PQ flavor selects the format), then the refined serve. The
    // refine factor spans the whole corpus, so exact rescoring decides
    // every rank and the result is independent of the trained codebooks
    // — what makes a lossy tier's construction loop oracle-able (the
    // ann5 pattern); the raw ADC ranking stays recall-gated in ScalaTest
    "ann6_ivf_pq_appended" -> ((s, dir) => {
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("_cv"))
      // deterministic EXPLICIT codebooks (subvector slices of the first
      // 8 embeddings) — the ann5 explicit-centroids trick: the oracle's
      // full-width refine is codebook-independent, so the gate pays no
      // in-query k-means; codebook TRAINING is gated in ScalaTest
      val cbs = e.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("code"), col("embedding"))
        .select(col("code"), explode(sequence(lit(0), lit(7))).as("m"),
          col("embedding"))
        .select(col("m"), col("code"),
          slice(col("embedding"), col("m") * 8 + 1, lit(8)).as("_cbv"))
      val idx = java.nio.file.Files.createTempDirectory("graft_ann6").toString
      Similarity.saveIvf(e.filter(col("vec_id") % 2 === 0), "vec_id",
        "embedding", idx, IvfTier.Pq(m = 8, k = 8, codebooks = Some(cbs)),
        nlist = 8, centroids = Some(cents))
      Similarity.appendIvfIndex(e.filter(col("vec_id") % 2 =!= 0), "vec_id",
        "embedding", idx)
      val q = e.filter(col("vec_id") < 50)
      val factor = (e.count() / 5 + 1).toInt
      sortAll(Similarity.ivfServe(q, idx, "vec_id", "embedding", k = 5,
          nprobe = 3, refine = Some(IvfRefine(e, factor)))
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 6).as("cos")))
    }),

    // RESIDUAL PQ (the FAISS IVFPQ layout) end to end: save with
    // residual=true so codes quantize v − c(cell), append the odd half
    // (the manifest's residual flag routes delivery encoding through the
    // stored residual space), serve refined at full candidate width — exact
    // rescoring decides every rank, which is what makes the lossy
    // construction loop oracle-able (ann5/ann6's pattern); residual raw
    // recall and error superiority stay gated in ScalaTest
    "ann8_ivf_pq_residual" -> ((s, dir) => {
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("_cv"))
      val cbs = e.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("code"), col("embedding"))
        .select(col("code"), explode(sequence(lit(0), lit(7))).as("m"),
          col("embedding"))
        .select(col("m"), col("code"),
          slice(col("embedding"), col("m") * 8 + 1, lit(8)).as("_cbv"))
      val idx = java.nio.file.Files.createTempDirectory("graft_ann8").toString
      Similarity.saveIvf(e.filter(col("vec_id") % 2 === 0), "vec_id",
        "embedding", idx, IvfTier.Pq(m = 8, k = 8, codebooks = Some(cbs),
          residual = true), nlist = 8, centroids = Some(cents))
      Similarity.appendIvfIndex(e.filter(col("vec_id") % 2 =!= 0), "vec_id",
        "embedding", idx, Some("b1"))
      val q = e.filter(col("vec_id") < 50)
      val factor = (e.count() / 5 + 1).toInt
      sortAll(Similarity.ivfServe(q, idx, "vec_id", "embedding", k = 5,
          nprobe = 3, refine = Some(IvfRefine(e, factor)))
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 6).as("cos")))
    }),

    // PER-CELL (local) PQ end to end: save with perCell=true and EXPLICIT
    // cell-varying codebooks (cell c's code k = slices of embedding (c + k) mod
    // 8 — every cell a DIFFERENT table, so the gate actually exercises per-cell
    // routing in encode, append, and the per-(query, probed cell) ADC lookup),
    // append the odd half (the manifest's per-cell flag routes delivery
    // encoding through the stored cell's codebooks), serve refined at full
    // candidate width — exact rescoring decides every rank (the ann5/ann6/ann8
    // pattern), so the lossy local construction loop replays as the probed-cell
    // exact top-5.
    "ann10_ivf_pq_local" -> ((s, dir) => {
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("_cv"))
      val base = e.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("_src"), col("embedding"))
      val cbs = s.range(8).select(col("id").cast("int").as("cell"))
        .crossJoin(base)
        .select(col("cell"),
          pmod(col("_src") - col("cell") + 8, lit(8)).cast("int").as("code"),
          col("embedding"))
        .select(col("cell"), explode(sequence(lit(0), lit(7))).as("m"),
          col("code"), col("embedding"))
        .select(col("cell"), col("m").cast("int").as("m"), col("code"),
          slice(col("embedding"), col("m") * 8 + 1, lit(8)).as("_cbv"))
      val idx = java.nio.file.Files.createTempDirectory("graft_ann10").toString
      Similarity.saveIvf(e.filter(col("vec_id") % 2 === 0), "vec_id",
        "embedding", idx, IvfTier.Pq(m = 8, k = 8, codebooks = Some(cbs),
          perCell = true), nlist = 8, centroids = Some(cents))
      Similarity.appendIvfIndex(e.filter(col("vec_id") % 2 =!= 0), "vec_id",
        "embedding", idx, Some("b1"))
      val q = e.filter(col("vec_id") < 50)
      val factor = (e.count() / 5 + 1).toInt
      sortAll(Similarity.ivfServe(q, idx, "vec_id", "embedding", k = 5,
          nprobe = 3, refine = Some(IvfRefine(e, factor)))
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 6).as("cos")))
    }),

    // ROTATED (OPQ-layout) PQ end to end: save with an EXPLICIT orthogonal
    // rotation (the dimension-reversal permutation — exactly orthogonal, and it
    // genuinely reshuffles what every subspace sees) plus explicit codebooks,
    // append the odd half (the manifest's rotated flag routes delivery encoding
    // through the stored rotated space), serve refined at full width — the
    // query side must rotate for its ADC lookups, and exact rescoring decides
    // every rank, so the rotated construction loop replays as the same
    // probed-cell exact top-5.
    "ann11_ivf_pq_rotated" -> ((s, dir) => {
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("_cv"))
      val cbs = e.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("code"), col("embedding"))
        .select(col("code"), explode(sequence(lit(0), lit(7))).as("m"),
          col("embedding"))
        .select(col("m"), col("code"),
          slice(col("embedding"), col("m") * 8 + 1, lit(8)).as("_cbv"))
      val rot = s.range(64).select(col("id").cast("int").as("i"),
        transform(sequence(lit(0), lit(63)), j =>
          when(j === lit(63) - col("id").cast("int"), lit(1.0f))
            .otherwise(lit(0.0f))).as("_rv"))
      val idx = java.nio.file.Files.createTempDirectory("graft_ann11").toString
      Similarity.saveIvf(e.filter(col("vec_id") % 2 === 0), "vec_id",
        "embedding", idx, IvfTier.Pq(m = 8, k = 8, codebooks = Some(cbs),
          residual = true, rotation = Some(rot)), nlist = 8,
        centroids = Some(cents))
      Similarity.appendIvfIndex(e.filter(col("vec_id") % 2 =!= 0), "vec_id",
        "embedding", idx, Some("b1"))
      val q = e.filter(col("vec_id") < 50)
      val factor = (e.count() / 5 + 1).toInt
      sortAll(Similarity.ivfServe(q, idx, "vec_id", "embedding", k = 5,
          nprobe = 3, refine = Some(IvfRefine(e, factor)))
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 6).as("cos")))
    }),

    // PQ codebook-drift diagnostic end to end: PQ-save the even half with
    // EXPLICIT codebooks (slices of the first 8 embeddings — the ann6
    // trick that keeps k-means out of the gate), append the odd half as a
    // delivery, then read the per-unit encode-time quantization error.
    // The oracle replays the nearest-sub-centroid search and the relative
    // reconstruction error in SQL: per-row error is float-cast exactly
    // like the stored `_qerr`, so double-vs-double last-ulp drift cannot
    // flip the 6-decimal aggregate.
    "ann7_pq_qerr_stats" -> ((s, dir) => {
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("_cv"))
      val cbs = e.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("code"), col("embedding"))
        .select(col("code"), explode(sequence(lit(0), lit(7))).as("m"),
          col("embedding"))
        .select(col("m"), col("code"),
          slice(col("embedding"), col("m") * 8 + 1, lit(8)).as("_cbv"))
      val idx = java.nio.file.Files.createTempDirectory("graft_ann7").toString
      Similarity.saveIvf(e.filter(col("vec_id") % 2 === 0), "vec_id",
        "embedding", idx, IvfTier.Pq(m = 8, k = 8, codebooks = Some(cbs)),
        nlist = 8, centroids = Some(cents))
      Similarity.appendIvfIndex(e.filter(col("vec_id") % 2 =!= 0), "vec_id",
        "embedding", idx, Some("b1"))
      sortAll(Similarity.pqIndexStats(s, idx)
        .withColumnRenamed("rows", "n_rows"))
    }),

    // Deterministic Lloyd k-means (integer fixed point, explicit seeds,
    // two unrolled iterations) — the clustering primitive behind
    // cluster-balanced curation, hash-gated because assignment and the
    // half-away integer means are exact in both engines. The oracle
    // replays both iterations as CTEs: argmin by (squared distance,
    // cell), per-(cell, dim) HUGEINT sums, and the sign-split positive
    // quotient that equals HALF_UP under truncating or floor division.
    "km1_kmeans_lloyd" -> ((s, dir) => {
      val e = embs(s, dir).filter(col("vec_id").isNotNull)
      val seeds = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cell"), col("embedding").as("_cv"))
      sortAll(Similarity.kmeansLloyd(e, "embedding", seeds, iters = 2))
    }),

    // Cluster-BALANCED sampling — the curation recipe the k-means
    // primitive exists for (diversify by taking evenly across
    // clusters): train on the corpus (km1's exact recipe), assign every
    // vector to its nearest FINAL centroid with the same integer L2
    // argmin, then an exact per-cluster quota by the deterministic
    // md5-rank draw (the quotaExact/sm4 machinery). One more unrolled
    // assignment CTE + the rank replay on top of km1's oracle.
    "km2_cluster_sample" -> ((s, dir) => {
      val e = embs(s, dir).filter(col("vec_id").isNotNull)
      val seeds = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cell"), col("embedding").as("_cv"))
      val cent = Similarity.kmeansLloyd(e, "embedding", seeds, iters = 2)
      val assigned = Similarity.kmeansAssign(e, "vec_id", "embedding", cent)
        .withColumn("stratum", col("cell").cast("string"))
      sortAll(Sampling.quotaExact(assigned, "stratum", "vec_id",
          (0 to 3).map(c => c.toString -> 25L).toMap)
        .select(col("vec_id"), col("cell"), col("rk")))
    }),

    // Exact substring-span duplication: per-doc fraction of 5-token
    // windows appearing verbatim in ≥2 distinct documents. The hashed
    // scale path (8-byte keys shuffle, not window text): the oracle
    // compares only the per-doc COUNTS, which hashing preserves unless a
    // 64-bit collision merges distinct windows (~1e-7 at this corpus
    // size; LlmSpec additionally pins hashed ≡ string-keyed).
    "d8_span_dups" -> ((s, dir) => {
      sortAll(Dedup.spanDupStats(docs(s, dir), "doc_id", "text",
        spanTokens = 5))
    }),

    // Composed corpus preparation: quality floor (rounded fixed-point
    // boundary) + predicted-language selection + exact dedup — the batch
    // recipe a training-data pipeline runs, as ONE oracle-gated query
    "d7_corpus_prepare" -> ((s, dir) => {
      sortAll(Corpus.prepare(docs(s, dir), "doc_id", "text", D7))
    }),

    // d7's composition with transport noise injected (tx7's deterministic
    // mess) and the normalize pre-pass switched on: canonicalization must
    // put every messed doc back into its clean dup group BEFORE the
    // hash-dedup — the oracle replays mess → normalize → the full prepare
    // pipeline, so what gets gated is the composition, not just the parts
    "d14_prepare_normalized" -> ((s, dir) => {
      val p = greatest(lit(1), (length(col("text")) / 2).cast("int"))
      val messy = docs(s, dir)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          concat(lit("\u0007\t "), col("text").substr(lit(1), p),
            lit("\u0001"), col("text").substr(p + 1, length(col("text"))),
            lit("  \r\n")).as("text"))
      sortAll(Corpus.prepare(messy, "doc_id", "text",
        D7.copy(normalize = true)))
    }),

    // Span-dup REMOVAL — the cleaning action behind d8's signal: excise
    // every token covered by a 5-token window duplicated in ≥2 distinct
    // docs, survivors re-joined. String-keyed here so the DuckDB replay
    // needs no hash-parity assumption (the hashed scale path is
    // spec-pinned equal in LlmSpec, like d8's).
    "d9_span_removal" -> ((s, dir) => {
      sortAll(Dedup.removeDupSpans(docs(s, dir), "doc_id", "text",
        spanTokens = 5, minDocs = 2, hashWindows = false))
    }),

    // d7's composition with the span-duplication floor in front: docs
    // whose duplicate-window fraction exceeds 0.2 are dropped before
    // quality/language/dedup — the threshold-drop form of the Lee-et-al
    // recipe, composed and oracle-gated as one query
    "d10_prepare_span_floor" -> ((s, dir) => {
      sortAll(Corpus.prepare(docs(s, dir), "doc_id", "text",
        D7.copy(span = Some(Gates.Span(5, 0.2)))))
    }),

    // Token counting: whitespace + BPE-ish regex estimate
    "tx1_token_stats" -> ((s, dir) => {
      val d = docs(s, dir)
      sortAll(d.select(col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_tokens"),
        TextStats.bpeTokenEstimate(col("text")).as("n_bpe"),
        length(col("text")).cast("long").as("n_chars_m")))
    }),

    // Quality scoring: length prior + stopword band + alphanumeric purity
    "tx2_quality_score" -> ((s, dir) => {
      val d = docs(s, dir)
      sortAll(d.select(col("doc_id"),
        round(TextStats.stopwordRatio(col("text"), STOPS), 6).as("stop_ratio"),
        round(TextStats.qualityScore(col("text"), STOPS), 6).as("quality")))
    }),

    // Language ID: marker-token votes, deterministic argmax; accuracy vs the
    // labeled lang column
    "tx3_lang_id" -> ((s, dir) => {
      val d = docs(s, dir)
      val pred = d.withColumn("pred_lang", TextStats.langId(col("text"), MARKERS))
      sortAll(pred.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n")))
    }),

    // Document fingerprint: md5 over normalized text (exact-dedup key)
    "tx4_fingerprint" -> ((s, dir) => {
      val d = docs(s, dir)
      sortAll(d.select(col("doc_id"),
        TextStats.fingerprint(col("text")).as("fp")))
    }),

    // Multimodal plumbing: binary payload + metadata struct + batched
    // per-partition feature extraction (decode stubbed, schema real)
    "mm1_binary_features" -> ((s, dir) => {
      val media = Multimodal.withBinaryPayload(docs(s, dir), "doc_id", "text")
      val feats = Multimodal.decodeFeatures(media).toDF()
      sortAll(feats.select(col("doc_id"), col("n_bytes"), col("first_byte")))
    }),

    // Perceptual-hash payload dedup: 64-bit dHash over the binary column
    // (65 evenly-spaced byte samples, bit = adjacent comparison — pure
    // column math, no codec), Hamming ≤ 3 pairs via the shared simhash
    // band blocking (pigeonhole-exact at 4 bands). Each document also
    // contributes a TWIN payload with one mid-stream byte replaced —
    // the near-identical-payload population the operator exists for
    // (the raw table's texts are all ≥13 bits apart: document near-dups
    // share tokens, not byte offsets) — so the gate checks one
    // recovered pair per document, not an empty set. The oracle replays
    // the twin construction, the byte sampling, and the bit fold in
    // DuckDB and brute-forces the pair set — the d4_simhash
    // differential pattern on the BINARY tier
    "mm2_dhash_pairs" -> ((s, dir) => {
      val d = docs(s, dir)
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          length(col("text")) >= 1)
        .select(col("doc_id"), col("text"))
      val p = greatest(lit(1), (length(col("text")) / 2).cast("int"))
      val twin = d.select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text").substr(lit(1), p - 1), lit("~"),
          col("text").substr(p + 1, length(col("text")))).as("text"))
      val media = Multimodal.withBinaryPayload(d.unionByName(twin),
        "doc_id", "text")
      sortAll(Multimodal.dHashPairs(media, maxDist = 3, bands = 4))
    }),

    // Frame tier of the perceptual family: payloads split into 64-byte
    // frames (every 2nd sampled), per-frame dHash, Hamming ≤ 3 banding,
    // matches lifted to (video_i, video_j, n_matches). Each source doc
    // contributes a one-byte-perturbed TWIN (mm2's construction) — a
    // "re-encoded copy" whose unperturbed frames match exactly — and
    // the 20% doc subset keeps the oracle's brute-force frame scan
    // quadratic-in-small. The oracle replays frame slicing, the 65-point
    // sampling WITHIN each frame, the bit fold, and the video lift.
    "mm3_frame_dup_videos" -> ((s, dir) => {
      val d = docs(s, dir)
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          length(col("text")) >= 1 && col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
      val p = greatest(lit(1), (length(col("text")) / 2).cast("int"))
      val twin = d.select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text").substr(lit(1), p - 1), lit("~"),
          col("text").substr(p + 1, length(col("text")))).as("text"))
      val media = Multimodal.withBinaryPayload(d.unionByName(twin),
        "doc_id", "text")
      sortAll(Multimodal.frameDupPairs(media, frameBytes = 64, everyN = 2,
        maxDist = 3, minFrames = 1L))
    }),

    // the cluster form of mm3: frame pairs → video pairs → connected
    // components → (rep_id, n_members) per multi-member cluster — the
    // segment-level dedup table a video corpus rewrite consumes
    "mm4_frame_dup_clusters" -> ((s, dir) => {
      val d = docs(s, dir)
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          length(col("text")) >= 1 && col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
      val p = greatest(lit(1), (length(col("text")) / 2).cast("int"))
      val twin = d.select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text").substr(lit(1), p - 1), lit("~"),
          col("text").substr(p + 1, length(col("text")))).as("text"))
      val media = Multimodal.withBinaryPayload(d.unionByName(twin),
        "doc_id", "text")
      sortAll(Multimodal.frameDupClusters(media, frameBytes = 64,
        everyN = 2, maxDist = 3, minFrames = 1L))
    }),

    // d7's composition with the WITHIN-doc repetition floor in front:
    // looping docs (dup_word_frac > 0.6 or top_bigram_frac > 0.1) are
    // dropped before quality/language/dedup — the Gopher repetition
    // filters composed and oracle-gated as one query
    "d11_prepare_repetition_floor" -> ((s, dir) => {
      sortAll(Corpus.prepare(docs(s, dir), "doc_id", "text",
        D7.copy(repetition = Some(Gates.Repetition(0.6, 0.1)))))
    }),

    // Benchmark decontamination: distinct 5-shingle overlap of every
    // corpus doc (source ≠ src0) against the benchmark set (source =
    // src0) — broadcast bench shingles, nothing corpus-sized shuffles.
    // String-keyed so the DuckDB replay needs no hash-parity assumption
    // (the hashed scale path is spec-pinned equal, the d9 pattern)
    // Winnowing fingerprint near-dup pairs (Schleimer et al. 2003 —
    // MOSS): rolling 8-gram char hashes, window-4 minima, fingerprints
    // in > 8 docs dropped (the over-represented rule — the cap that
    // bounds the bucket join at any scale), docs sharing >= 3 kept
    // fingerprints. The oracle replays the Java-long wrapping
    // polynomial exactly (HUGEINT arithmetic, one mod-2^64 wrap — a
    // ring homomorphism, so wrapping once equals wrapping at every
    // step), the full-window minima incl. the <=window single-min arm,
    // the distinct sketch, the frequency cap, and the bucket self-join
    "d22_winnow_pairs" -> ((s, dir) => {
      sortAll(Dedup.winnowPairs(docs(s, dir), "doc_id", "text",
        k = 8, window = 4, minShared = 3L, maxBucket = 8L))
    }),

    "d12_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      sortAll(Dedup.contaminationStats(
        d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"),
        "doc_id", "text", 5, hashShingles = false))
    }),

    // Deterministic training-order shuffle: content-addressed shard +
    // position (md5 draw), byte-reproducible on any engine/partitioning
    "sh1_shuffle_shards" -> ((s, dir) => {
      sortAll(Sampling.shuffleShards(docs(s, dir), "doc_id", 8, "ep1")
        .select(col("doc_id"), col("lang"), col("shard"), col("pos")))
    }),

    // Gopher-style repetition signals: duplicate-word / duplicate-bigram /
    // top-bigram fractions — per-row array_distinct + one uniform
    // (doc, bigram) shuffle, partial-agg end to end
    "tx5_repetition" -> ((s, dir) => {
      sortAll(Quality.repetitionStats(docs(s, dir), "doc_id", "text"))
    }),

    // PII scrubbing: the raw table carries no PII, so each document gets a
    // deterministic synthetic payload (email + IPv4 + phone derived from
    // doc_id) appended — the population the scrubber exists for — then
    // counts per category and the md5 of the scrubbed text. The oracle
    // replays the injection and the exact same patterns (interpolated
    // from the one Scala constant) in DuckDB's regex engine
    "tx6_pii_scrub" -> ((s, dir) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10.0."),
        pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".7 call +1 415 555 "),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      val d = docs(s, dir).select(col("doc_id"), aug.as("_t"))
      // one compiled byte scan for all three counts + the sequential
      // scrub (Quality.piiStats) — the regex form paid six regex passes
      sortAll(d.select(col("doc_id"), Quality.piiStats(col("_t")).as("_p"))
        .select(col("doc_id"),
          col("_p.n_email").as("n_email"),
          col("_p.n_ip").as("n_ip"),
          col("_p.n_phone").as("n_phone"),
          md5(col("_p.scrubbed").cast("binary")).as("scrub_fp")))
    }),

    // Deterministic ~37% corpus sample by content-addressed md5 draw —
    // a pure filter, no shuffle, stable under re-partitioning
    "sm1_hash_sample" -> ((s, dir) => {
      sortAll(Sampling.hashSample(docs(s, dir), "doc_id", 37)
        .select(col("doc_id"), col("lang"), col("source")))
    }),

    // Exactly-10-per-(lang, source) balanced sample, ranked by md5(id)
    "sm2_stratified_quota" -> ((s, dir) => {
      sortAll(Sampling.stratifiedQuota(docs(s, dir), Seq("lang", "source"),
          "doc_id", 10)
        .select(col("doc_id"), col("lang"), col("source"),
          col("rk").cast("long").as("rk")))
    }),

    // Greedy sequence packing into 64-token bins per (lang, id-mod-4
    // shard); the oracle replays the sequential fold as a recursive CTE
    "pk1_pack_greedy" -> ((s, dir) => {
      sortAll(Sampling.packGreedy(docs(s, dir), "doc_id", "text", "lang",
          64L, 4)
        .withColumn("shard", col("shard").cast("long")))
    }),

    // SemDeDup end to end: nearest-of-8-deterministic-centroids cell
    // assignment (ann2's trick keeps k-means out of the gate), exact
    // within-cell cosine pairs at d5's threshold, connected components,
    // min-id survivor per component — the oracle replays assignment,
    // pairs, and the component closure, so the CLUSTER-SCOPED contract
    // (a cross-cell near-pair does NOT merge) is what gets hash-gated
    "d13_semdedup" -> ((s, dir) => {
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("_cv"))
      sortAll(Similarity.semDedup(e, cents, "vec_id", "embedding", 0.35)
        .select(col("vec_id")))
    }),

    // Per-source rate mix: explicit keep-percentages for three sources,
    // 10% for the rest — the row-local (shuffle-free) mix selector
    "sm3_mix_sample" -> ((s, dir) => {
      sortAll(Sampling.mixSample(docs(s, dir), "source", "doc_id",
          Map("src0" -> 80, "src1" -> 50, "src2" -> 20), defaultPct = 10)
        .select(col("doc_id"), col("source")))
    }),

    // Exact weighted mix: target weights over three sources at total=100
    // → per-source quotas 50/30/20 by md5 rank; unlisted sources drop
    "sm4_mix_quota" -> ((s, dir) => {
      sortAll(Sampling.mixQuota(docs(s, dir), "source", "doc_id",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), 100L)
        .select(col("doc_id"), col("source"), col("rk")))
    }),

    // CCNet's head/middle/tail recipe end to end (Wenzek et al. 2020):
    // bucket every doc by its bigram-LM perplexity at fixed cutoffs
    // (500/900 ≈ the corpus terciles), then keep head 100% / middle
    // 50% / tail 10% by the row-local md5 draw — scoring AND sampling
    // are both shuffle-free scans
    "sm6_ppl_bucket_sample" -> ((s, dir) => {
      val d = docs(s, dir)
      val (uni, bi) = Quality.ngramLm(d, "text", 16, 64)
      val b = Quality.pplBuckets(d, uni, bi, "doc_id", "text", 500.0, 900.0)
      sortAll(Sampling.mixSample(b, "bucket", "doc_id",
          Map("head" -> 100, "middle" -> 50, "tail" -> 10))
        .select(col("doc_id"), col("n_tokens"), col("ppl"), col("bucket")))
    }),

    // Temperature-scaled mixing at τ = 0.5 (the multilingual-LM
    // up-weight-small-domains recipe): per-source quotas ∝ √n_s, the
    // fixed-pointed weight/quota arithmetic replayed integer-exactly
    "sm7_temperature_quota" -> ((s, dir) => {
      sortAll(Sampling.temperatureQuota(docs(s, dir), "source", "doc_id",
          tau = 0.5, total = 60L)
        .select(col("doc_id"), col("source"), col("rk")))
    }),

    // d7's composition with the SEMANTIC floor in front: SemDeDup's
    // within-cell embedding near-dups (d13's construction over the same
    // id space) drop before quality/language/dedup — the full
    // embedding-aware corpus preparation as ONE oracle-gated query
    "d15_prepare_semantic_floor" -> ((s, dir) => {
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("_cv"))
      sortAll(Corpus.prepare(docs(s, dir), "doc_id", "text",
        D7.copy(semantic = Some(Gates.Semantic(0.35))), Some(e), Some(cents)))
    }),

    // Line-level duplicate removal (the CCNet/RefinedWeb recipe): chunk
    // every 4 tokens into a line (deterministic injection — the synthetic
    // docs carry no newlines; planted dup clusters make whole lines
    // recur across docs), drop every line appearing verbatim in ≥2
    // distinct docs, re-join survivors. Gated on the HASHED scale path
    // (8-byte keys, line text never shuffles) via the cross-engine
    // md5-low-60 keys the oracle replays; the xxhash64 production
    // default and the string mode are spec-pinned equal in LlmSpec
    "d16_line_dedup" -> ((s, dir) => {
      val lined = docs(s, dir)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.Cols.chunkLines(col("text"), 4).as("text"))
      sortAll(Dedup.removeDupLines(lined, "doc_id", "text", minDocs = 2,
        md5Keys = true))
    }),

    // Gopher/MassiveText composite quality rules over deterministically
    // staged inputs: d16's line chunking, every 3rd doc bulleted, every
    // 4th ellipsis-terminated — with the bullet/ellipsis thresholds
    // tightened so the staged defects actually flip the pass flag. Pure
    // per-row column math; the oracle replays staging and all 7 rules
    "tx9_gopher_rules" -> ((s, dir) => {
      val lined = graft.functions.Cols.chunkLines(col("text"), 4)
      val withBullet = when(col("doc_id") % 3 === 0,
        concat(lit("- "), lined)).otherwise(lined)
      val aug = when(col("doc_id") % 4 === 0,
        concat(withBullet, lit(" ..."))).otherwise(withBullet)
      val d = docs(s, dir)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"), aug.as("text"))
      sortAll(Quality.gopherRules(d, "doc_id", "text", minWords = 30,
        maxBulletFrac = 0.05, maxEllipsisFrac = 0.05))
    }),

    // DSIR importance log-ratios: target model = src0's docs, source
    // model = the whole pool (both top-16 unigram LMs) — docs that look
    // like src0 score positive. Per-token micro-nat fixed-point keeps
    // the ratio sum integer-exact in both engines
    "sm5_dsir_weights" -> ((s, dir) => {
      val d = docs(s, dir)
      // one-pass trainer: ≡ (unigramLm(filter src0), unigramLm(pool))
      // bit for bit (spec-pinned), one corpus scan instead of two
      val (tgt, src) = Quality.dsirModels(d, col("source") === "src0",
        "text", 16)
      sortAll(Quality.lmLogRatio(d, tgt, src, "doc_id", "text"))
    }),

    // Bigram-LM perplexity with stupid backoff (Brants et al. 2007 —
    // the step toward CCNet's KenLM shape: word order becomes visible):
    // unigram top-16 + bigram top-64 trained on the corpus itself,
    // backoff 0.4. All three log-prob paths (first-token unigram, known
    // bigram relative frequency, backed-off unigram) micro-nat
    // fixed-pointed, so the oracle replay is integer-exact
    "tx18_ngram_perplexity" -> ((s, dir) => {
      val d = docs(s, dir)
      // one-pass trainer: ≡ (unigramLm, bigramLm) bit for bit
      // (spec-pinned), one corpus scan instead of three
      val (uni, bi) = Quality.ngramLm(d, "text", 16, 64)
      sortAll(Quality.ngramPerplexity(d, uni, bi, "doc_id", "text"))
    }),

    // Trigram stupid backoff (tx18 one order up, toward CCNet's 5-gram
    // KenLM): uni-16 / bi-64 / tri-256 trained in ONE corpus scan
    // (ngramLm3), the tri -> bi -> uni chain scored by the same
    // zero-shuffle compiled scan; all chain arms micro-nat fixed-pointed
    "tx20_trigram_perplexity" -> ((s, dir) => {
      val d = docs(s, dir)
      val (uni, bi, tri) = Quality.ngramLm3(d, "text", 16, 64, 256)
      sortAll(Quality.trigramPerplexity(d, uni, bi, tri, "doc_id", "text"))
    }),

    // Interpolated Kneser–Ney (Kneser & Ney 1995; Chen & Goodman 1999)
    // over the SAME uni-16/bi-64 tables as tx18 — the real smoothing
    // the stupid-backoff chain approximates: seen pairs discounted by
    // 0.75 and interpolated with λ(w1)·Pcont(w2); unseen pairs back off
    // through the per-context λ into the smoothed CONTINUATION
    // distribution (N1+(·,w2), not raw frequency). The oracle replays
    // the continuation statistics and every rounding arm
    "tx21_kn_perplexity" -> ((s, dir) => {
      val d = docs(s, dir)
      val (uni, bi) = Quality.ngramLm(d, "text", 16, 64)
      sortAll(Quality.knPerplexity(d, uni, bi, "doc_id", "text"))
    }),

    // Unigram-LM perplexity (the CCNet quality-scoring shape): model
    // trained on the corpus itself pruned to the top-16 tokens (of 31
    // distinct — the OOV smoothing path is exercised), every doc scored
    // by smoothed mean token nll. Micro-nat fixed-pointing makes the
    // per-doc sum integer-exact in both engines (Quality.lmPerplexity)
    "tx8_lm_perplexity" -> ((s, dir) => {
      val d = docs(s, dir)
      val lm = Quality.unigramLm(d, "text", 16)
      sortAll(Quality.lmPerplexity(d, lm, "doc_id", "text"))
    }),

    // Text canonicalization over deterministically-messed inputs (the
    // tx6/mm2 twin pattern): control bytes injected mid-word must strip
    // WITHOUT splitting the word, whitespace zoo collapses to single
    // spaces, edges trim, output lowercases
    "tx7_normalize" -> ((s, dir) => {
      val p = greatest(lit(1), (length(col("text")) / 2).cast("int"))
      val messy = concat(lit("\u0007\t "), col("text").substr(lit(1), p),
        lit("\u0001"), col("text").substr(p + 1, length(col("text"))),
        lit("  \r\n"))
      sortAll(docs(s, dir)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          Quality.normalizeText(messy, lowercase = true).as("norm")))
    }),

    // d7's composition with benchmark DECONTAMINATION in front: the
    // corpus (source ≠ src0) drops every doc whose distinct-5-shingle
    // overlap with the src0 benchmark set exceeds 5% — d12's signal as
    // prepare's threshold gate, closing batch/stream gate symmetry.
    // String-keyed shingles so the replay needs no hash parity (the
    // hashed scale path is spec-pinned equal)
    "d17_prepare_decontaminated" -> ((s, dir) => {
      val d = docs(s, dir)
      sortAll(Corpus.prepare(d.filter(col("source") =!= "src0"),
        "doc_id", "text", D7.copy(contamination = Some(Gates.Contamination(
          d.filter(col("source") === "src0"), maxContamFrac = 0.05,
          contamN = 5, contamHash = false)))))
    }),

    // d7's composition with the Gopher/MassiveText rule floor in front:
    // docs failing any of the published default rules (raw corpus text —
    // no staging; 1904/5000 pass at sf0.1) are dropped before
    // quality/language/dedup
    "d18_prepare_gopher_floor" -> ((s, dir) => {
      sortAll(Corpus.prepare(docs(s, dir), "doc_id", "text",
        D7.copy(gopher = true)))
    }),

    // d7's composition with the CLASSIFIER floor switched on, under the
    // tx17 explicit weight table (keeps the driver-kernel trainer out of
    // the gate): docs whose exact integer logit is negative drop before
    // the quality/language/dedup composition — the oracle replays the
    // whole scoring path plus the threshold plus the d7 tail. The floor
    // has NO boundary hazard: both engines compute the identical
    // integer, so any threshold is bit-stable.
    "d19_prepare_classifier_floor" -> ((s, dir) => {
      val dim = 1 << 16
      val weights = s.range(dim)
        .select(col("id").as("feature"),
          (col("id") % 2001 - 1000).as("w_micro"))
        .unionByName(s.range(1).select(lit(-1L).as("feature"),
          lit(12345L).as("w_micro")))
      sortAll(Corpus.prepare(docs(s, dir), "doc_id", "text",
        D7.copy(classifier = Some(Gates.Classifier(weights,
          minLogitMicro = 0L, classifierDim = dim)))))
    }),

    // Top-3 TF-IDF terms per document — integer micro-unit scores (the
    // tx8 fixed-point recipe: the idf ln is the only transcendental,
    // rounded to micro-nats before any arithmetic)
    "tx10_tfidf" -> ((s, dir) => {
      sortAll(Relevance.tfidfTopTerms(docs(s, dir), "doc_id", "text", 3))
    }),

    // BM25 top-25 for a 3-term keyword query (k1=1.2, b=0.75 cleared to
    // exact integer arithmetic) — query-based corpus selection
    "tx11_bm25" -> ((s, dir) => {
      sortAll(Relevance.bm25TopK(docs(s, dir), "doc_id", "text",
        Seq("spark", "merge", "window"), 25))
    }),

    // the WIDE-arithmetic paths forced on every row (longBound = 1 —
    // the 100-TB regime where Long products would wrap), replayed by an
    // independent DuckDB HUGEINT implementation: the decimal(38,0)
    // branch is gated against ground truth, not just against the narrow
    // branch it must equal
    "tx12_bm25_wide" -> ((s, dir) => {
      sortAll(Relevance.bm25TopK(docs(s, dir), "doc_id", "text",
        Seq("spark", "merge", "window"), 25, longBound = 1L))
    }),
    "tx13_tfidf_wide" -> ((s, dir) => {
      sortAll(Relevance.tfidfTopTerms(docs(s, dir), "doc_id", "text", 3,
        longBound = 1L))
    }),

    // URL tier, the tx7 twin-fixture pattern: URLs deterministically
    // MESSED from doc_id/source in BOTH engines (scheme case, www,
    // default ports, bare-/ paths, fragments, a registry-suffix arm),
    // then the full canonicalization replayed
    "tx15_canonical_url" -> ((s, dir) => {
      sortAll(docs(s, dir)
        .filter(col("doc_id").isNotNull && col("source").isNotNull)
        .select(col("doc_id"),
          Quality.canonicalizeUrl(messyUrl).as("canon_url"),
          Quality.registrableDomain(messyUrl).as("domain")))
    }),

    // domain-level aggregate over the same messed URLs: docs, tokens,
    // exact-dup count, summed fixed-point quality — the mix-strata
    // source table
    "tx16_domain_stats" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
        .filter(col("doc_id").isNotNull && col("source").isNotNull)
        .withColumn("url", messyUrl)
      // suffix CONFIG TABLE (the full-PSL path): the embedded subset
      // plus a 3-label registry entry the fixture hosts hit — exercises
      // longest-match-first, the host-IS-the-suffix pass-through, and
      // the k+1-label take, all replayed by the oracle's CASE chain
      val suffixes = Quality.suffixesFromTable(
        (Quality.SecondLevelSuffixes :+ "src0-site.co.uk").toDF("suffix"))
      sortAll(Quality.domainStats(d, "doc_id", "url", "text", STOPS,
        suffixes = suffixes))
    }),

    // Quality-classifier SCORING with an EXPLICIT weight table (the
    // ann-gate trick — explicit parameters keep the driver-kernel
    // trainer out of the hash gate; training itself is spec-gated for
    // determinism and separation): w_micro(f) = f mod 2001 − 1000 over
    // every hashed feature id plus intercept 12345, so the gate
    // exercises the full scoring path — lowercased split, unigrams +
    // bigrams, md5-low-32 mod dim, per-doc counts, the exact integer
    // dot — replayed feature by feature in DuckDB
    // Trained language ID (scoreTextClassifierMulti's argmax over exact
    // per-class integer logits, smallest-label tie-break) under EXPLICIT
    // per-class weight tables — the tx17 trick: training isn't
    // SQL-expressible, so the oracle replays scoring under synthetic
    // formula weights; the trainer itself is spec-gated (ClassifierSpec)
    "tx19_langid_trained" -> ((s, dir) => {
      val dim = 1 << 16
      def cls(label: String, mod: Int, off: Int, b0: Long) =
        s.range(dim).select(lit(label).as("label"),
          col("id").as("feature"),
          (col("id") % mod - off).as("w_micro"))
          .unionByName(s.range(1).select(lit(label).as("label"),
            lit(-1L).as("feature"), lit(b0).as("w_micro")))
      val weights = cls("en", 1999, 999, 1000000L)
        .unionByName(cls("fr", 2003, 1001, -500000L))
        .unionByName(cls("de", 1993, 996, 0L))
      sortAll(Quality.langIdTrained(docs(s, dir), "doc_id", "text",
        weights, dim))
    }),

    // d7's composition with the TRAINED language gate: prepare keeps
    // docs whose argmax class under the explicit multi-class weight
    // table is 'en' (replacing the marker vote), then the standard
    // quality floor + exact dedup — the gateable form of item "langid
    // as a trained operator"
    "d20_prepare_langid_trained" -> ((s, dir) => {
      val dim = 1 << 16
      def cls(label: String, mod: Int, off: Int, b0: Long) =
        s.range(dim).select(lit(label).as("label"),
          col("id").as("feature"),
          (col("id") % mod - off).as("w_micro"))
          .unionByName(s.range(1).select(lit(label).as("label"),
            lit(-1L).as("feature"), lit(b0).as("w_micro")))
      val weights = cls("en", 1999, 999, 1000000L)
        .unionByName(cls("fr", 2003, 1001, -500000L))
        .unionByName(cls("de", 1993, 996, 0L))
      sortAll(Corpus.prepare(docs(s, dir), "doc_id", "text",
        D7.copy(language = Some(Gates.Language(Seq("en"), MARKERS,
          Some(weights), dim)))))
    }),

    "tx17_classifier_score" -> ((s, dir) => {
      val dim = 1 << 16
      val weights = s.range(dim)
        .select(col("id").as("feature"),
          (col("id") % 2001 - 1000).as("w_micro"))
        .unionByName(s.range(1).select(lit(-1L).as("feature"),
          lit(12345L).as("w_micro")))
      sortAll(Quality.scoreTextClassifier(docs(s, dir), "doc_id", "text",
        weights, dim))
    }),

    // The DISTRIBUTED gradient-descent trainer ITSELF, hash-gated — the
    // step past the tx17/tx19 trick (explicit weights because float-
    // sequential training isn't SQL-expressible): integer micro-unit
    // weights at all times make every iteration's gradient an exact
    // integer sum, so the ORACLE REPLAYS TRAINING by unrolling the three
    // iterations as CTEs (iteration 1 from zero weights is exp-free:
    // sigma(0) = 1/2 exactly). Labels are a deterministic fixture rule
    // (doc_id mod 3) both engines derive
    "tx22_classifier_train_gd" -> ((s, dir) => {
      sortAll(Quality.trainTextClassifierGd(
        docs(s, dir).withColumn("y", (col("doc_id") % 3 === 0).cast("int")),
        "doc_id", "text", "y", dim = 1 << 16, bigrams = true,
        iters = 3, lr = 0.5, l2 = 0.0))
    }),

    // the K-class softmax GD trainer hash-gated the same way (tx22's
    // contract, lifted to K = 3): iteration 1 from zero weights is
    // exp-free — softmax of all-equal logits is exactly 1/K — and
    // iteration 2's softmax replays with the max-shift on the exact
    // integer logits and the denominator as an EXPLICIT ordered sum
    // (de + en + es, the engine's ascending-class fold)
    "tx23_classifier_train_multi_gd" -> ((s, dir) => {
      sortAll(Quality.trainTextClassifierMultiGd(
        docs(s, dir).withColumn("lang",
          when(col("doc_id") % 3 === 0, "en")
            .when(col("doc_id") % 3 === 1, "de").otherwise("es")),
        "doc_id", "text", "lang", dim = 1 << 16, bigrams = true,
        iters = 2, lr = 0.5, l2 = 0.0))
    }),

    // multi-query batch BM25: 3 keyword queries scored in ONE corpus
    // pass (per-query top-10), overlapping terms included — the oracle
    // replays the shared df/tf/contrib computation and the per-query
    // regroup + rank
    "tx14_bm25_batch" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1L, Seq("spark", "merge", "window")),
        (2L, Seq("data", "shuffle")), (3L, Seq("window")))
        .toDF("query_id", "terms")
      sortAll(Relevance.bm25TopKBatch(docs(s, dir), "doc_id", "text",
        qs, "query_id", "terms", 10))
    }),

    // BPE tokenizer TRAINING: 6 merges over the corpus word-type table —
    // the oracle replays every iteration (pair counts, deterministic
    // argmax, the merge pass as a list_reduce fold). Trained on the
    // DISTRIBUTED BATCHED path (driverTypeCap = 0 forces it; maxBatch = 8)
    // against the strictly-sequential oracle: the hash gate IS the proof
    // that disjoint-prefix batching equals the per-merge loop on real data
    // SentencePiece-unigram trainer (Kudo 2018, hard-EM form): seed
    // substrings -> 2 Viterbi-EM iterations -> prune, all integer
    // micro-nat fixed-pointed; the oracle unrolls the per-position DP
    // (maxWordLen=8 caps the unroll; maxPieceLen=3)
    // THE WHOLE PIPELINE AS ONE PLAN — the RefinedWeb-shaped recipe end
    // to end, every gate class composed and hash-gated as a single
    // query: span excision -> line chunk -> line dedup (hashed keys) ->
    // normalize -> [gopher + repetition + bigram-perplexity floor +
    // classifier floor + trained langid + benchmark decontamination +
    // semantic floor + quality floor + exact dedup] (Corpus.prepare) ->
    // target-rate mix quota -> epoch shuffle shards -> context chunks.
    // Each stage already has its own gated oracle (d9, d16, d14/tx7,
    // d18, d11, tx18, d19, d20, d17, d15, d7, sm4, sh1, ck1); this
    // composes their replays into one differential proof that the
    // stages agree THROUGH each other's outputs.
    "d21_full_pipeline" -> ((s, dir) => {
      val dim = 1 << 16
      val all = docs(s, dir)
      val d0 = all.filter(col("doc_id").isNotNull && col("text").isNotNull &&
        col("source") =!= "src0")
      val bench = all.filter(col("source") === "src0")
      // span excision (d9's shape: 5-token windows in >= 2 docs)
      val spanRm = Dedup.removeDupSpans(d0, "doc_id", "text",
          spanTokens = 5, minDocs = 2, hashWindows = false)
        .select(col("doc_id"), col("clean_text").as("text"))
      // line chunking + line-level dedup (d16's shape, md5-low-60 keys)
      val lined = spanRm.select(col("doc_id"),
        graft.functions.Cols.chunkLines(col("text"), 4).as("text"))
      val lineRm = Dedup.removeDupLines(lined, "doc_id", "text",
          minDocs = 2, md5Keys = true)
        .select(col("doc_id"), col("clean_text").as("text"))
      // normalize: collapses the line separators back to canonical
      // single-space text — every downstream floor tokenizes this.
      // CACHED (columnar, spillable): the span+line+normalize prefix
      // costs three shuffles, and prepare's gate branches plus the
      // model trainers and the packaging tail would each re-execute it
      // — a production pipeline writes this canonical table out; the
      // cache is that materialization point in one plan
      val normed = lineRm.select(col("doc_id"),
        Quality.normalizeText(col("text")).as("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // reference LM (one-pass uni+bi trainer) + frozen weight tables
      val (uni, bi) = Quality.ngramLm(normed, "text", 16, 64)
      val w19 = s.range(dim).select(col("id").as("feature"),
          (col("id") % 2001 - 1000).as("w_micro"))
        .unionByName(s.range(1).select(lit(-1L).as("feature"),
          lit(12345L).as("w_micro")))
      def cls(label: String, mod: Int, off: Int, b0: Long) =
        s.range(dim).select(lit(label).as("label"),
          col("id").as("feature"), (col("id") % mod - off).as("w_micro"))
          .unionByName(s.range(1).select(lit(label).as("label"),
            lit(-1L).as("feature"), lit(b0).as("w_micro")))
      // equal intercepts: the argmax is decided by the feature sums, so
      // the language gate genuinely splits the corpus (~1/3 'en')
      val w20 = cls("en", 1999, 999, 0L)
        .unionByName(cls("fr", 2003, 1001, 0L))
        .unionByName(cls("de", 1993, 996, 0L))
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("_cv"))
      val prepared = Corpus.prepare(normed, "doc_id", "text", D7.copy(
          semantic = Some(Gates.Semantic(0.35)),
          repetition = Some(Gates.Repetition(0.6, 0.1)),
          gopher = true,
          perplexity = Some(Gates.Perplexity(uni, 2000.0, Some(bi))),
          classifier = Some(Gates.Classifier(w19, 12000L, dim)),
          contamination = Some(Gates.Contamination(bench, 0.05, 5,
            contamHash = false)),
          language = Some(Gates.Language(Seq("en"), MARKERS, Some(w20),
            dim))),
        Some(e), Some(cents))
      // representatives back to text + source for the packaging tail
      val sv = prepared.select(col("rep_id"))
        .join(normed.select(col("doc_id").as("rep_id"), col("text")),
          Seq("rep_id"))
        .join(all.select(col("doc_id").as("rep_id"), col("source")),
          Seq("rep_id"))
      // equal target rates over every non-benchmark source: quota
      // round(60/19) = 3 per source — bites once a source clears 3
      // survivors (sf0.1+), keeps the tail populated at sf0.01
      val quota = Sampling.mixQuota(sv, "source", "rep_id",
        (1 to 19).map(i => s"src$i" -> 1.0 / 19).toMap, 60L)
      val sharded = Sampling.shuffleShards(quota, "rep_id", 4, "ep1")
      // rep_id is UNIQUE in `sharded` (prepare emits min-id per distinct
      // text hash, a partition of the id space), so carrying the
      // metadata columns through the row-local chunk flatmap is exactly
      // the former inner self-join `chunks ⋈ sharded on doc_id` — minus
      // the join's second derivation of the whole prepare prefix
      val chunks = Sampling.chunkDocs(sharded, "rep_id", "text", 32, 8,
        carry = Seq("source", "rk", "shard", "pos"))
      sortAll(chunks
        .select(col("doc_id"), col("source"), col("rk"), col("shard"),
          col("pos"), col("chunk_id"), col("n_tokens"),
          md5(col("chunk_text").cast("binary")).as("chunk_fp")))
    }),

    "sp1_sp_unigram_train" -> ((s, dir) => {
      sortAll(graft.llm.SpUnigram.train(docs(s, dir), "doc_id", "text",
        vocab = 120, iters = 2, maxPieceLen = 3, seedVocab = 200,
        maxWordLen = 8))
    }),

    // ENCODE under the sp1-trained vocab: the same per-word integer
    // Viterbi the trainer runs, memoized per distinct word — per-doc
    // piece count + md5 piece-stream fingerprint (the bp2 pattern)
    "sp2_sp_unigram_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = graft.llm.SpUnigram.train(d, "doc_id", "text",
        vocab = 120, iters = 2, maxPieceLen = 3, seedVocab = 200,
        maxWordLen = 8)
      sortAll(graft.llm.SpUnigram.encode(d, "doc_id", "text", model))
    }),

    // SOFT-EM SentencePiece (Kudo's full forward-backward EM in the
    // rounded integer form): one expectation iteration over the seed
    // vocab, edge posteriors fixed-pointed to micro-units, expected
    // counts rounded half-up back to whole counts. The oracle unrolls
    // the alpha/beta lattice position by position with the SAME ordered
    // log-sum-exp fold the kernel computes
    "sp3_sp_unigram_soft" -> ((s, dir) => {
      sortAll(graft.llm.SpUnigram.train(docs(s, dir), "doc_id", "text",
        vocab = 120, iters = 1, maxPieceLen = 3, seedVocab = 200,
        maxWordLen = 8, softEm = true))
    }),

    "bp1_bpe_train" -> ((s, dir) => {
      sortAll(Bpe.train(docs(s, dir), "doc_id", "text", 6, maxBatch = 8,
        driverTypeCap = 0L))
    }),

    // the same 6-merge table trained on the DRIVER KERNEL (the
    // production fast path: incremental pair-count deltas + heap argmax)
    // against the same unrolled oracle — both Bpe.train tiers are
    // hash-gated against one ground truth
    "bp3_bpe_train_kernel" -> ((s, dir) => {
      sortAll(Bpe.train(docs(s, dir), "doc_id", "text", 6))
    }),

    // BPE ENCODE against the 6-merge table trained on the same corpus:
    // per-doc subword token count + md5 fingerprint of the token stream —
    // proves the encode kernel ≡ the training-state fold (encoding an
    // in-vocab word must reproduce its final training symbols)
    "bp2_bpe_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      sortAll(Bpe.encode(d, "doc_id", "text",
        Bpe.train(d, "doc_id", "text", 6, maxBatch = 8)))
    }),

    // Context-length chunking: 32-token chunks with 8-token overlap —
    // pure per-row slice math + one posexplode, no shuffle
    "ck1_chunk_docs" -> ((s, dir) => {
      sortAll(Sampling.chunkDocs(docs(s, dir), "doc_id", "text", 32, 8))
    }),

    // FILTERED ANN serving (the vector-DB "search within a predicate"):
    // ann3's persisted index, candidates restricted to vec_id % 3 == 0
    // BEFORE ranking — the true top-5 of the allowed subset, which
    // post-filtering a plain top-5 cannot produce
    "ann9_ivf_filtered" -> ((s, dir) => {
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("_cv"))
      val idx = java.nio.file.Files.createTempDirectory("graft_ann9").toString
      Similarity.saveIvf(e, "vec_id", "embedding", idx, IvfTier.Float,
        nlist = 8, centroids = Some(cents))
      val q = e.filter(col("vec_id") < 50)
      val allow = e.filter(col("vec_id") % 3 === 0).select("vec_id")
      sortAll(Similarity.ivfServe(q, idx, "vec_id", "embedding",
          k = 5, nprobe = 3, allow = Some(allow))
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 6).as("cos")))
    })
  )

  private def docsPq = "read_parquet('{SFDIR}/documents.parquet')"

  /** tx15/tx16 oracle CTEs: rebuild the messed URL fixture, then replay
    * [[graft.llm.Quality.canonicalizeUrl]]/[[graft.llm.Quality
    * .registrableDomain]] step by step (same RE2/Java-agreeing
    * patterns, the embedded suffix list spliced in). Final CTE `dom`
    * exposes (doc_id, text, canon_url, domain). */
  private def messyUrlCtes: String = messyUrlCtes(None)

  /** With `deepSuffix`, the domain CASE gains the 3-label
    * longest-match-first arms the engine's generalized suffix chain
    * produces for that entry (tx16's config-table fixture). */
  private def messyUrlCtes(deepSuffix: Option[String]): String = {
    val suffixes = graft.llm.Quality.SecondLevelSuffixes
      .map(s => s"'$s'").mkString(", ")
    val deepArms = deepSuffix.map { d =>
      s"""      WHEN len(tk) > 3 AND array_to_string(tk[len(tk)-2:len(tk)], '.') = '$d' THEN array_to_string(tk[len(tk)-3:len(tk)], '.')
         |      WHEN len(tk) = 3 AND array_to_string(tk[len(tk)-2:len(tk)], '.') = '$d' THEN h
         |""".stripMargin
    }.getOrElse("")
    // NOTE: this block is SPLICED into templates that run their own
    // stripMargin, so no line here may start with whitespace + '|' —
    // every '||' concatenation sits at END of line
    s"""m AS (SELECT doc_id, text,
       |    (CASE doc_id % 3 WHEN 0 THEN 'HTTP://' WHEN 1 THEN 'https://'
       |      ELSE 'http://' END) ||
       |    (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END) ||
       |    (CASE WHEN doc_id % 11 = 0 THEN 'cdn.' ELSE '' END) ||
       |    source || '-site' ||
       |    (CASE WHEN doc_id % 5 = 0 THEN '.co.uk' ELSE '.com' END) ||
       |    (CASE doc_id % 3 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
       |      ELSE '' END) ||
       |    (CASE WHEN doc_id % 7 = 0 THEN '/'
       |      ELSE '/P/' || CAST(doc_id AS VARCHAR) END) ||
       |    (CASE WHEN doc_id % 4 = 0 THEN '#Frag' ELSE '' END) AS url
       |  FROM $docsPq WHERE doc_id IS NOT NULL AND source IS NOT NULL),
       |c AS (SELECT doc_id, text,
       |    regexp_replace(trim(url), '#.*', '') AS t FROM m),
       |c2 AS (SELECT doc_id, text, t,
       |    lower(regexp_extract(t, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
       |      AS scheme,
       |    regexp_replace(lower(regexp_extract(t,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\\.', '')
       |      AS host0,
       |    regexp_replace(t, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '')
       |      AS rest0
       |  FROM c),
       |c3 AS (SELECT doc_id, text, t, scheme,
       |    CASE scheme WHEN 'http' THEN regexp_replace(host0, ':80$$', '')
       |      WHEN 'https' THEN regexp_replace(host0, ':443$$', '')
       |      ELSE host0 END AS host,
       |    CASE WHEN rest0 = '/' THEN '' ELSE rest0 END AS rest
       |  FROM c2),
       |cn AS (SELECT doc_id, text,
       |    CASE WHEN scheme = '' THEN lower(t)
       |      ELSE scheme || '://' || host || rest END AS canon_url,
       |    regexp_replace(host, ':[0-9]+$$', '') AS h
       |  FROM c3),
       |dom AS (SELECT doc_id, text, canon_url,
       |    CASE WHEN regexp_matches(h, '^[0-9.]+$$') OR len(tk) <= 2 THEN h
       |$deepArms      WHEN array_to_string(tk[len(tk)-1:len(tk)], '.')
       |        IN ($suffixes)
       |      THEN array_to_string(tk[len(tk)-2:len(tk)], '.')
       |      ELSE array_to_string(tk[len(tk)-1:len(tk)], '.') END AS domain
       |  FROM (SELECT doc_id, text, canon_url, h, string_split(h, '.') AS tk
       |        FROM cn))""".stripMargin
  }
  private def embsPq = "read_parquet('{SFDIR}/embeddings.parquet')"

  /** BPE training replay, UNROLLED: the word-type table `w0` (characters
    * via `string_split(w, '')`), then per merge iteration i a pair-count
    * CTE `p_i` (tx5's index-join shape), the deterministic argmax `m_i`
    * (count DESC, left ASC, right ASC), and the merged table `w_i` — one
    * left-to-right non-overlapping pass as a `list_reduce` fold over
    * singleton lists (the accumulator must be list-typed, and DuckDB's
    * reduce keeps the element type). Returns the full `WITH`-body prefix
    * ending at `w$n`; callers append their consumer CTE/SELECT. */
  /** One unrolled hard-EM iteration of the SentencePiece-unigram replay
    * (sp1's oracle): micro-nat piece scores from vocab `prev`, the
    * 8-position Viterbi DP (max over (score, path) structs — DuckDB's
    * struct comparison is the same lexicographic order the kernel
    * implements, path compared in binary), segment paths split on
    * chr(1), recount, singles floored back in. */
  /** sp1's full training replay as a WITH-chain prefix (wt → … → fin):
    * shared by the sp1 oracle (reads fin ∪ floored singles) and the sp2
    * encode oracle (segments the corpus under that same final model). */
  private def spTrainCtes: String =
    s"""wt AS MATERIALIZED (SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM $docsPq
       |    WHERE doc_id IS NOT NULL AND text IS NOT NULL)
       |  WHERE w <> '' GROUP BY w),
       |wtc AS MATERIALIZED (SELECT w, freq FROM wt WHERE len(w) <= 8),
       |poss AS (SELECT unnest(generate_series(1, 8)) AS i),
       |lns AS (SELECT unnest(generate_series(1, 3)) AS l),
       |seed AS MATERIALIZED (SELECT substr(w, i, l) AS piece,
       |    CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM wtc, poss, lns WHERE i + l - 1 <= len(w) GROUP BY 1),
       |sing AS MATERIALIZED (SELECT DISTINCT substr(w, i, 1) AS piece
       |  FROM wtc, poss WHERE i <= len(w)),
       |ts AS MATERIALIZED (SELECT piece, cnt FROM seed ORDER BY cnt DESC, piece
       |  LIMIT 200),
       |v0 AS MATERIALIZED (SELECT piece, cnt FROM ts
       |  UNION ALL
       |  SELECT s.piece, greatest(1, coalesce(seed.cnt, 1)) AS cnt
       |  FROM sing s LEFT JOIN seed ON s.piece = seed.piece
       |  WHERE s.piece NOT IN (SELECT piece FROM ts)),
       |${spEmIter(1, "v0")},
       |${spEmIter(2, "v1")},
       |fin AS MATERIALIZED (SELECT piece, cnt FROM v2 ORDER BY cnt DESC, piece
       |  LIMIT 120)""".stripMargin

  /** The encode-side Viterbi unroll against sp1's final model (fin ∪
    * floored singles — exactly the trained table the engine collects):
    * per-word DP over positions 1..8, pieces 1..3 chars, max by
    * (score, path) — DuckDB's struct max is the trainer's
    * greater-path-string tie rule. Ends with sege(w, path). */
  private def spEncodeCtes: String = {
    val dp = (1 to 8).map { i =>
      val arms = (1 to 3).filter(_ <= i).map { l =>
        s"""    SELECT b.w, b.sc + x.lsc AS sc,
           |      CASE WHEN b.path = '' THEN x.piece
           |           ELSE b.path || chr(1) || x.piece END AS path
           |    FROM be${i - l} b JOIN lle x
           |      ON x.piece = substr(b.w, ${i - l + 1}, $l)
           |    WHERE len(b.w) >= $i""".stripMargin
      }.mkString("\n    UNION ALL\n")
      s"""be$i AS MATERIALIZED (
         |  SELECT w, struct_extract(mx, 'sc') AS sc,
         |    struct_extract(mx, 'path') AS path FROM (
         |    SELECT w, max({'sc': sc, 'path': path}) AS mx FROM (
         |$arms) GROUP BY w))""".stripMargin
    }.mkString(",\n")
    s"""modele AS MATERIALIZED (SELECT piece, cnt FROM fin
       |  UNION ALL
       |  SELECT s.piece, greatest(1, coalesce(v.cnt, 1)) AS cnt
       |  FROM sing s LEFT JOIN v2 v USING (piece)
       |  WHERE s.piece NOT IN (SELECT piece FROM fin)),
       |tte AS MATERIALIZED (SELECT CAST(round(ln(CAST(sum(cnt) AS DOUBLE))
       |    * 1000000) AS BIGINT) AS lt FROM modele),
       |lle AS MATERIALIZED (SELECT piece,
       |    CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT)
       |      - (SELECT lt FROM tte) AS lsc
       |  FROM modele),
       |be0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS sc, '' AS path
       |  FROM wtc),
       |$dp,
       |sege AS MATERIALIZED (${(1 to 8).map(i =>
            s"SELECT w, path FROM be$i WHERE len(w) = $i")
            .mkString("\n  UNION ALL\n  ")})""".stripMargin
  }

  /** One SOFT-EM iteration unrolled: forward alpha CTEs sa0..sa8 and
    * backward beta CTEs sb8..sb0 (integer micro-nats; multi-edge nodes
    * combine by the ordered log-sum-exp fold — max-shift, exp, LEFT
    * fold in ascending piece length, ln, re-fix-point — exactly the
    * kernel's arithmetic), then per-edge posterior weights
    * round(exp((alpha + lsc + beta − Z)/10⁶)·10⁶) summed as
    * freq-weighted micro-units and rounded half-up to whole counts.
    * Reads model `v0`, word table `wtc`, singles `sing`; ends with
    * `sv1` (the recounted model, singles floored). */
  private def spSoftIter: String = {
    def lse(inner: String) =
      s"""SELECT w, freq, CAST(amx + round(ln(list_reduce(
         |      list_transform(ts, x -> exp(CAST(x - amx AS DOUBLE) / 1000000.0)),
         |      (p, q) -> p + q)) * 1000000) AS BIGINT) AS v
         |  FROM (SELECT w, freq, max(t) AS amx, list(t ORDER BY l) AS ts
         |        FROM ($inner) GROUP BY w, freq)""".stripMargin
    val fwd = (1 to 8).map { i =>
      val arms = (1 to 3).filter(_ <= i).map { l =>
        s"""    SELECT b.w, b.freq, $l AS l, b.a + x.lsc AS t
           |    FROM sa${i - l} b JOIN sl x
           |      ON x.piece = substr(b.w, ${i - l + 1}, $l)
           |    WHERE len(b.w) >= $i""".stripMargin
      }.mkString("\n    UNION ALL\n")
      s"""sa$i AS MATERIALIZED (SELECT w, freq, v AS a FROM (
         |${lse(arms)}))""".stripMargin
    }.mkString(",\n")
    val bwd = (0 to 7).reverse.map { i =>
      val arms = (1 to 3).filter(_ + i <= 8).map { l =>
        s"""    SELECT b.w, b.freq, $l AS l, x.lsc + b.b AS t
           |    FROM sb${i + l} b JOIN sl x
           |      ON x.piece = substr(b.w, ${i + 1}, $l)
           |    WHERE len(b.w) > $i""".stripMargin
      }.mkString("\n    UNION ALL\n")
      s"""sb$i AS MATERIALIZED (
         |  SELECT w, freq, CAST(0 AS BIGINT) AS b FROM wtc WHERE len(w) = $i
         |  UNION ALL
         |  SELECT w, freq, v AS b FROM (
         |${lse(arms)}))""".stripMargin
    }.mkString(",\n")
    val edgeArms = (for (i <- 0 to 7; l <- 1 to 3 if i + l <= 8) yield
      s"""    SELECT au.w, au.freq, substr(au.w, ${i + 1}, $l) AS piece,
         |      au.a + x.lsc + bu.b AS num
         |    FROM sa$i au JOIN sl x ON x.piece = substr(au.w, ${i + 1}, $l)
         |    JOIN sb${i + l} bu ON au.w = bu.w
         |    WHERE len(au.w) >= ${i + l}""".stripMargin)
      .mkString("\n    UNION ALL\n")
    val zArms = (1 to 8).map(i =>
      s"SELECT w, a AS z FROM sa$i WHERE len(w) = $i")
      .mkString("\n  UNION ALL\n  ")
    s"""st1 AS MATERIALIZED (SELECT CAST(round(ln(CAST(sum(cnt) AS DOUBLE))
       |    * 1000000) AS BIGINT) AS lt FROM v0),
       |sl AS MATERIALIZED (SELECT piece,
       |    CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT)
       |      - (SELECT lt FROM st1) AS lsc
       |  FROM v0),
       |sa0 AS MATERIALIZED (SELECT w, freq, CAST(0 AS BIGINT) AS a FROM wtc),
       |sb8 AS MATERIALIZED (SELECT w, freq, CAST(0 AS BIGINT) AS b
       |  FROM wtc WHERE len(w) = 8),
       |$fwd,
       |$bwd,
       |szu AS MATERIALIZED ($zArms),
       |sedge AS MATERIALIZED (
       |$edgeArms),
       |scc AS MATERIALIZED (SELECT piece,
       |    CAST(sum(freq * CAST(round(exp(CAST(num - z AS DOUBLE) / 1000000.0)
       |      * 1000000) AS BIGINT)) AS BIGINT) AS micro
       |  FROM sedge JOIN szu USING (w) GROUP BY piece),
       |swhole AS MATERIALIZED (SELECT piece, (micro + 500000) // 1000000 AS cnt
       |  FROM scc WHERE (micro + 500000) // 1000000 > 0),
       |sv1 AS MATERIALIZED (SELECT piece, cnt FROM swhole
       |  UNION ALL
       |  SELECT s.piece, greatest(1, coalesce(c.cnt, 1)) AS cnt
       |  FROM sing s LEFT JOIN swhole c USING (piece)
       |  WHERE s.piece NOT IN (SELECT piece FROM swhole))""".stripMargin
  }

  private def spEmIter(n: Int, prev: String): String = {
    val dp = (1 to 8).map { i =>
      val arms = (1 to 3).filter(_ <= i).map { l =>
        s"""    SELECT b.w, b.freq, b.sc + x.lsc AS sc,
           |      CASE WHEN b.path = '' THEN x.piece
           |           ELSE b.path || chr(1) || x.piece END AS path
           |    FROM b$n${i - l} b JOIN l$n x
           |      ON x.piece = substr(b.w, ${i - l + 1}, $l)
           |    WHERE len(b.w) >= $i""".stripMargin
      }.mkString("\n    UNION ALL\n")
      s"""b$n$i AS MATERIALIZED (
         |  SELECT w, freq, struct_extract(mx, 'sc') AS sc,
         |    struct_extract(mx, 'path') AS path FROM (
         |    SELECT w, freq, max({'sc': sc, 'path': path}) AS mx FROM (
         |$arms) GROUP BY w, freq))""".stripMargin
    }.mkString(",\n")
    s"""t$n AS MATERIALIZED (SELECT CAST(round(ln(CAST(sum(cnt) AS DOUBLE)) * 1000000)
       |    AS BIGINT) AS lt FROM $prev),
       |l$n AS MATERIALIZED (SELECT piece,
       |    CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT)
       |      - (SELECT lt FROM t$n) AS lsc
       |  FROM $prev),
       |b${n}0 AS MATERIALIZED (SELECT w, freq, CAST(0 AS BIGINT) AS sc, '' AS path
       |  FROM wtc),
       |$dp,
       |seg$n AS MATERIALIZED (${(1 to 8).map(i =>
            s"SELECT freq, path FROM b$n$i WHERE len(w) = $i")
            .mkString("\n  UNION ALL\n  ")}),
       |cc$n AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split(path, chr(1))) AS piece, freq
       |    FROM seg$n) GROUP BY piece),
       |v$n AS MATERIALIZED (SELECT piece, cnt FROM cc$n
       |  UNION ALL
       |  SELECT s.piece, greatest(1, coalesce(c.cnt, 1)) AS cnt
       |  FROM sing s LEFT JOIN cc$n c USING (piece)
       |  WHERE s.piece NOT IN (SELECT piece FROM cc$n))""".stripMargin
  }

  private def bpeCtes(n: Int): String = {
    val iters = (1 to n).map { i =>
      s"""p$i AS (SELECT syms[i] AS l, syms[i+1] AS r, sum(freq) AS cnt
         |        FROM w${i - 1} JOIN nums ON i <= len(syms) - 1 GROUP BY 1, 2),
         |m$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |w$i AS (SELECT w, list_reduce(list_transform(syms, s -> [s]),
         |         (a, x) -> CASE WHEN len(a) > 0 AND a[-1] = m$i.l AND x[1] = m$i.r
         |                   THEN a[:len(a)-1] || [m$i.l || m$i.r] ELSE a || x END) AS syms,
         |         freq
         |        FROM w${i - 1}, m$i)""".stripMargin
    }.mkString(",\n")
    s"""nums AS (SELECT unnest(generate_series(1, 4000)) AS i),
       |wt AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
       |       FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
       |             FROM $docsPq WHERE doc_id IS NOT NULL AND text IS NOT NULL)
       |       WHERE w <> '' GROUP BY w),
       |w0 AS (SELECT w, string_split(w, '') AS syms, freq FROM wt),
       |$iters""".stripMargin
  }

  /** Shared shingle CTE: 3-word shingles, distinct per doc. */
  private val shingleCte =
    s"""words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM $docsPq),
       |nums AS (SELECT unnest(generate_series(1, 4000)) AS i),
       |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
       |       FROM words JOIN nums ON i <= len(w) - 2),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS m
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT i, j, m * 1.0 / (ca.n + cb.n - m) AS jaccard
       |  FROM pairs JOIN cnt ca ON i = ca.doc_id JOIN cnt cb ON j = cb.doc_id)""".stripMargin

  private val jaccardOracle =
    s"""WITH $shingleCte
       |SELECT i, j, round(jaccard, 6) AS jac FROM jac WHERE jaccard >= 0.8
       |${orderBySql("i", "j", "jac")}""".stripMargin

  /** The d7 corpus-preparation replay (quality floor + language CASE +
    * exact dedup), parameterized over the document source so the
    * span-floored variant (d10) prepends its drop-list CTEs and swaps in
    * the survivor subquery. */
  private def prepareOracle(extraCtes: String, fromSource: String): String =
    s"""WITH ${extraCtes}f AS (
       |  SELECT doc_id, text,
       |    round(least(n_tokens * 1.0 / 100.0, 1.0) * 0.5
       |          + (stop_hits * 1.0 / n_tokens) * 0.3
       |          + (CASE WHEN n_chars = 0 THEN 0.0
       |                  ELSE alpha_chars * 1.0 / n_chars END) * 0.2, 6) AS q,
       |    CASE WHEN v_es > greatest(v_en, v_de) THEN 'es'
       |         WHEN v_de > v_en THEN 'de' ELSE 'en' END AS pl
       |  FROM (
       |    SELECT doc_id, text,
       |      CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS n_tokens,
       |      CAST(len(list_filter(string_split(lower(text), ' '),
       |        t -> t IN ('the','a','of','and','to'))) AS DOUBLE) AS stop_hits,
       |      CAST(length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE) AS alpha_chars,
       |      CAST(length(text) AS DOUBLE) AS n_chars,
       |      len(list_filter(string_split(lower(text), ' '),
       |        t -> t IN ('the','a','of','and'))) AS v_en,
       |      len(list_filter(string_split(lower(text), ' '),
       |        t -> t IN ('der','die','das','und'))) AS v_de,
       |      len(list_filter(string_split(lower(text), ' '),
       |        t -> t IN ('el','la','los','y'))) AS v_es
       |    FROM $fromSource))
       |SELECT min(doc_id) AS rep_id, count(*) AS n_copies,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |FROM f WHERE q >= 0.5 AND pl = 'en'
       |GROUP BY text
       |${orderBySql("rep_id", "n_copies", "n_tokens")}""".stripMargin

  /** Shared probed-cell IVF replay: nearest-cell corpus sharding
    * (nprobe=1), 3-cell query probes, exact top-5 within probed cells —
    * the served result of ann3 (indexed), ann4 (float append), and ann5
    * (quantized append + full-width refine) alike. */
  private val probedCellTop5Oracle = probedCellTop5OracleWhere("")

  /** The probed-cell replay with an optional candidate restriction — the
    * filtered-search (ann9) form; the predicate lands on the corpus CTE,
    * which the cell-assignment CTE also reads, exactly like the engine's
    * left-semi BEFORE scoring (assignment itself comes from the stored
    * index either way). */
  private def probedCellTop5OracleWhere(corpusWhere: String) =
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM $embsPq WHERE vec_id < 50),
       |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
       |      FROM $embsPq $corpusWhere),
       |cent AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS ev
       |         FROM $embsPq WHERE vec_id < 8),
       |ca AS (SELECT neighbor_id, cell FROM (
       |         SELECT c.neighbor_id, cent.cell,
       |           row_number() OVER (PARTITION BY c.neighbor_id ORDER BY
       |             list_inner_product(cv, ev)
       |               / (sqrt(list_inner_product(cv, cv)) * sqrt(list_inner_product(ev, ev)))
       |             DESC, cent.cell) AS rn
       |         FROM c, cent) WHERE rn <= 1),
       |qa AS (SELECT query_id, cell FROM (
       |         SELECT q.query_id, cent.cell,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY
       |             list_inner_product(qv, ev)
       |               / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(ev, ev)))
       |             DESC, cent.cell) AS rn
       |         FROM q, cent) WHERE rn <= 3),
       |sa AS (SELECT q.query_id, c.neighbor_id,
       |         list_inner_product(qv, cv)
       |           / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))) AS cos
       |       FROM q JOIN qa USING (query_id)
       |       JOIN ca USING (cell)
       |       JOIN c USING (neighbor_id)
       |       WHERE query_id <> neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id) AS rn FROM sa)
       |SELECT query_id, neighbor_id, round(cos, 6) AS cos FROM r WHERE rn <= 5
       |${orderBySql("query_id", "neighbor_id", "cos")}""".stripMargin

  /** One unrolled Lloyd iteration: distances from `cPrev`, argmin
    * assignment (ties to the lowest cell), HUGEINT per-(cell, dim)
    * sums, and the sign-split positive half-away quotient — suffix `i`
    * names the iteration's CTEs d/a/s/c{i}. */
  private def kmIterSql(i: Int, cPrev: String): String =
    s"""d$i AS (SELECT vm.id, $cPrev.cell,
       |  sum((vm.v - $cPrev.c) * (vm.v - $cPrev.c)) AS d
       |  FROM vm JOIN $cPrev USING (j) GROUP BY vm.id, $cPrev.cell),
       |a$i AS (SELECT id, cell FROM (SELECT id, cell,
       |    row_number() OVER (PARTITION BY id ORDER BY d, cell) AS rn
       |  FROM d$i) WHERE rn = 1),
       |s$i AS (SELECT a$i.cell, vm.j, sum(CAST(vm.v AS HUGEINT)) AS s,
       |    count(*) AS n
       |  FROM a$i JOIN vm USING (id) GROUP BY a$i.cell, vm.j),
       |c$i AS (SELECT $cPrev.cell, $cPrev.j, COALESCE(CAST(
       |    CASE WHEN s$i.s < 0
       |      THEN -(((-2) * s$i.s + s$i.n) // (2 * s$i.n))
       |      ELSE (2 * s$i.s + s$i.n) // (2 * s$i.n) END AS BIGINT),
       |    $cPrev.c) AS c
       |  FROM $cPrev LEFT JOIN s$i
       |    ON s$i.cell = $cPrev.cell AND s$i.j = $cPrev.j)""".stripMargin

  val oracle: Map[String, String] = Map(
    "km1_kmeans_lloyd" ->
      s"""WITH dims AS (SELECT unnest(generate_series(1, 64)) AS gj),
         |vm AS (SELECT e.vec_id AS id, gj - 1 AS j,
         |    CAST(round(CAST(e.embedding[gj] AS DOUBLE) * 1000000)
         |      AS BIGINT) AS v
         |  FROM $embsPq e, dims
         |  WHERE e.vec_id IS NOT NULL AND e.embedding IS NOT NULL
         |    AND len(e.embedding) = 64),
         |c0 AS (SELECT id AS cell, j, v AS c FROM vm WHERE id < 4),
         |${kmIterSql(1, "c0")},
         |${kmIterSql(2, "c1")}
         |SELECT c2.cell, CAST(c2.j AS INTEGER) AS j, c2.c AS c_micro,
         |  CAST(COALESCE(cn.n, 0) AS BIGINT) AS n
         |FROM c2 LEFT JOIN (SELECT cell, count(*) AS n FROM a2
         |  GROUP BY cell) cn USING (cell)
         |${orderBySql("cell", "j", "c_micro", "n")}""".stripMargin,

    "km2_cluster_sample" ->
      s"""WITH dims AS (SELECT unnest(generate_series(1, 64)) AS gj),
         |vm AS (SELECT e.vec_id AS id, gj - 1 AS j,
         |    CAST(round(CAST(e.embedding[gj] AS DOUBLE) * 1000000)
         |      AS BIGINT) AS v
         |  FROM $embsPq e, dims
         |  WHERE e.vec_id IS NOT NULL AND e.embedding IS NOT NULL
         |    AND len(e.embedding) = 64),
         |c0 AS (SELECT id AS cell, j, v AS c FROM vm WHERE id < 4),
         |${kmIterSql(1, "c0")},
         |${kmIterSql(2, "c1")},
         |d3 AS (SELECT vm.id, c2.cell,
         |  sum((vm.v - c2.c) * (vm.v - c2.c)) AS d
         |  FROM vm JOIN c2 USING (j) GROUP BY vm.id, c2.cell),
         |a3 AS (SELECT id, cell FROM (SELECT id, cell,
         |    row_number() OVER (PARTITION BY id ORDER BY d, cell) AS rn
         |  FROM d3) WHERE rn = 1)
         |SELECT vec_id, cell, rk FROM (
         |  SELECT id AS vec_id, cell,
         |    row_number() OVER (PARTITION BY cell
         |      ORDER BY md5(CAST(id AS VARCHAR)), id) AS rk
         |  FROM a3)
         |WHERE rk <= 25
         |${orderBySql("vec_id", "cell", "rk")}""".stripMargin,

    "d1_exact_dedup" ->
      s"""SELECT min(doc_id) AS rep_id, count(*) AS n_copies
         |FROM $docsPq GROUP BY text
         |${orderBySql("rep_id", "n_copies")}""".stripMargin,

    "d2_ngram_jaccard" -> jaccardOracle,
    "d3_minhash_lsh" -> jaccardOracle,

    // independent simhash replay: md5-low-64 token hash, ±1 bit votes,
    // positive-sum signature, brute-force hamming pair scan (the Spark side
    // band-blocks, which is exact-complete for maxDist < bands)
    "d4_simhash" ->
      s"""WITH words AS (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM $docsPq),
         |tok AS (
         |  SELECT doc_id, ('0x' || substr(md5(w), 1, 16))::UBIGINT AS h FROM words),
         |bitv AS (
         |  SELECT doc_id, b,
         |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM tok, (SELECT unnest(generate_series(0, 63)) AS b)
         |  GROUP BY doc_id, b),
         |sig AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN v > 0 THEN (1::UBIGINT << b) ELSE 0::UBIGINT END)
         |         AS UBIGINT) AS s
         |  FROM bitv GROUP BY doc_id)
         |SELECT a.doc_id AS i, b.doc_id AS j,
         |  CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.s, b.s)) <= 3
         |${orderBySql("i", "j", "hamming")}""".stripMargin,

    // transitive closure over the exact near-dup pair set (recursive CTE),
    // then one row per multi-member component keyed by its min id
    "d6_neardup_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
         |p2 AS (SELECT i, j FROM jac WHERE jaccard >= 0.8),
         |edges AS (SELECT i, j FROM p2 UNION SELECT j, i FROM p2),
         |nodes AS (SELECT DISTINCT i AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.i, reach.r FROM edges e JOIN reach ON e.j = reach.id),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         |SELECT component AS rep_id, count(*) AS n_members
         |FROM comp GROUP BY component HAVING count(*) > 1
         |${orderBySql("rep_id", "n_members")}""".stripMargin,

    "d5_embedding_neardup" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM $embsPq)
         |SELECT a.vec_id AS i, b.vec_id AS j,
         |  round(list_inner_product(a.e, b.e)
         |    / (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))), 6) AS cos
         |FROM v a JOIN v b ON a.vec_id < b.vec_id
         |WHERE list_inner_product(a.e, b.e)
         |    / (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))) >= 0.35
         |${orderBySql("i", "j", "cos")}""".stripMargin,

    "ann1_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |           FROM $embsPq WHERE vec_id < 50),
         |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
         |      FROM $embsPq),
         |s AS (SELECT query_id, neighbor_id,
         |        list_inner_product(qv, cv)
         |          / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))) AS cos
         |      FROM q, c WHERE query_id <> neighbor_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) AS rn FROM s)
         |SELECT query_id, neighbor_id, round(cos, 6) AS cos FROM r WHERE rn <= 5
         |${orderBySql("query_id", "neighbor_id", "cos")}""".stripMargin,

    // full IVF replay: nearest-cell corpus sharding (nprobe=1), 3-cell query
    // probes, per-cell exact top-5, then recall@5 against the exact scan
    "ann2_ivf_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |           FROM $embsPq WHERE vec_id < 50),
         |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
         |      FROM $embsPq),
         |cent AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS ev
         |         FROM $embsPq WHERE vec_id < 8),
         |sx AS (SELECT query_id, neighbor_id,
         |         list_inner_product(qv, cv)
         |           / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))) AS cos
         |       FROM q, c WHERE query_id <> neighbor_id),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos DESC, neighbor_id) AS rn FROM sx) WHERE rn <= 5),
         |ca AS (SELECT neighbor_id, cell FROM (
         |         SELECT c.neighbor_id, cent.cell,
         |           row_number() OVER (PARTITION BY c.neighbor_id ORDER BY
         |             list_inner_product(cv, ev)
         |               / (sqrt(list_inner_product(cv, cv)) * sqrt(list_inner_product(ev, ev)))
         |             DESC, cent.cell) AS rn
         |         FROM c, cent) WHERE rn <= 1),
         |qa AS (SELECT query_id, cell FROM (
         |         SELECT q.query_id, cent.cell,
         |           row_number() OVER (PARTITION BY q.query_id ORDER BY
         |             list_inner_product(qv, ev)
         |               / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(ev, ev)))
         |             DESC, cent.cell) AS rn
         |         FROM q, cent) WHERE rn <= 3),
         |sa AS (SELECT q.query_id, c.neighbor_id,
         |         list_inner_product(qv, cv)
         |           / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))) AS cos
         |       FROM q JOIN qa USING (query_id)
         |       JOIN ca USING (cell)
         |       JOIN c USING (neighbor_id)
         |       WHERE query_id <> neighbor_id),
         |ap AS (SELECT query_id, neighbor_id FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos DESC, neighbor_id) AS rn FROM sa) WHERE rn <= 5),
         |hits AS (SELECT query_id, count(*) AS h
         |         FROM ex JOIN ap USING (query_id, neighbor_id) GROUP BY 1),
         |perq AS (SELECT query_id, coalesce(h, 0) * 1.0 / least(n_ex, 5) AS r
         |         FROM (SELECT query_id, count(*) AS n_ex FROM ex GROUP BY 1)
         |         LEFT JOIN hits USING (query_id))
         |SELECT CAST(count(*) AS BIGINT) AS n_queries, round(avg(r), 4) AS avg_recall
         |FROM perq""".stripMargin,

    // the probed-cell scoring replay of ann2, emitting the served top-5
    // rows themselves (indexed path ≡ live path ≡ this SQL)
    "ann3_ivf_indexed" -> probedCellTop5Oracle,

    "ann9_ivf_filtered" ->
      probedCellTop5OracleWhere("WHERE vec_id % 3 = 0"),

    // arrival order cannot change cell assignment → identical replay
    "ann4_ivf_appended" -> probedCellTop5Oracle,

    // full-width refine re-scores every probed pair exactly → the same
    // probed-cell exact replay gates the quantized save→append→serve loop
    "ann5_ivf_quantized_appended" -> probedCellTop5Oracle,

    // full-width refine decides every rank exactly → the PQ construction
    // loop (save → append → refined serve) replays as the same
    // probed-cell exact top-5, independent of the trained codebooks
    "ann6_ivf_pq_appended" -> probedCellTop5Oracle,
    // residual encoding changes PROPOSAL scores only; the full-width
    // refine makes the served result the exact probed-cell top-5
    "ann8_ivf_pq_residual" -> probedCellTop5Oracle,
    // per-cell codebooks change PROPOSAL scores only — same exact replay
    "ann10_ivf_pq_local" -> probedCellTop5Oracle,
    // an orthogonal rotation changes PROPOSAL scores only — same replay
    "ann11_ivf_pq_rotated" -> probedCellTop5Oracle,

    // PQ encode-time error replay: nearest explicit sub-centroid by L2
    // per subspace (the distance written as the same left-to-right
    // 8-term sum the encoder's j-loop runs), relative error float-cast
    // like the stored _qerr, aggregated per unit (even ids = base save,
    // odd = the appended deltab1)
    "ann7_pq_qerr_stats" -> {
      val dist = (1 to 8).map(j =>
        s"(w.ev[cb.m*8+$j]-cb.cbv[$j])*(w.ev[cb.m*8+$j]-cb.cbv[$j])")
        .mkString(" + ")
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM $embsPq
         |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
         |n AS (SELECT vec_id, ev,
         |        list_sum(list_transform(ev, x -> x*x)) AS n2 FROM v),
         |w AS (SELECT * FROM n WHERE n2 > 0 AND NOT isnan(n2)),
         |cb AS (
         |  SELECT m.m AS m, c.vec_id AS code,
         |    (CAST(c.embedding AS DOUBLE[]))[m.m*8+1 : m.m*8+8] AS cbv
         |  FROM $embsPq c, (SELECT unnest(range(8)) AS m) m
         |  WHERE c.vec_id < 8),
         |sub AS (
         |  SELECT w.vec_id, cb.m, min($dist) AS err
         |  FROM w, cb GROUP BY 1, 2),
         |r AS (
         |  SELECT s.vec_id,
         |    CAST(sqrt(sum(s.err) / max(w2.n2)) AS FLOAT) AS qerr
         |  FROM sub s JOIN w w2 USING (vec_id) GROUP BY s.vec_id)
         |SELECT CASE WHEN vec_id % 2 = 0 THEN 'base' ELSE 'deltab1' END
         |    AS source,
         |  count(*) AS n_rows,
         |  round(avg(CAST(qerr AS DOUBLE)), 6) AS mean_qerr,
         |  round(max(CAST(qerr AS DOUBLE)), 6) AS max_qerr
         |FROM r GROUP BY 1
         |ORDER BY max_qerr NULLS FIRST, mean_qerr NULLS FIRST,
         |  n_rows NULLS FIRST, source NULLS FIRST""".stripMargin
    },

    // same 5-token windows, string-keyed, replayed with list slicing
    "d8_span_dups" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM $docsPq),
         |w AS (SELECT doc_id,
         |        array_to_string(tok[p : p + 4], ' ') AS ws
         |      FROM t, UNNEST(range(1, greatest(len(tok) - 4, 0) + 1)) AS u(p)),
         |d AS (SELECT ws FROM w GROUP BY ws HAVING count(DISTINCT doc_id) >= 2),
         |n AS (SELECT doc_id, count(*) AS n_windows FROM w GROUP BY 1),
         |k AS (SELECT doc_id, count(*) AS n_dup
         |      FROM w JOIN d USING (ws) GROUP BY 1)
         |SELECT doc_id, n_windows,
         |  coalesce(n_dup, 0) AS n_dup_windows,
         |  round(coalesce(n_dup, 0) * 1.0 / n_windows, 6) AS dup_frac
         |FROM n LEFT JOIN k USING (doc_id)
         |${orderBySql("doc_id", "n_windows", "n_dup_windows", "dup_frac")}""".stripMargin,

    // quality expr ≡ tx2's, language CASE ≡ tx3's, dedup ≡ d1's — the
    // composition replayed over the filtered set
    "d7_corpus_prepare" -> prepareOracle("", docsPq),

    // d13's semantic-dedup drop set ahead of d7's replay: the survivor
    // doc set feeds the unchanged prepare pipeline
    "d15_prepare_semantic_floor" -> prepareOracle(
      s"""RECURSIVE
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM $embsPq),
         |cent AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS ev
         |         FROM $embsPq WHERE vec_id < 8),
         |asg AS (SELECT vec_id, cell FROM (
         |          SELECT c.vec_id, cent.cell,
         |            row_number() OVER (PARTITION BY c.vec_id ORDER BY
         |              list_inner_product(e, ev)
         |                / (sqrt(list_inner_product(e, e)) * sqrt(list_inner_product(ev, ev)))
         |              DESC, cent.cell) AS rn
         |          FROM c, cent) WHERE rn = 1),
         |sp AS (SELECT a.vec_id AS i, b.vec_id AS j
         |       FROM c a JOIN asg aa ON a.vec_id = aa.vec_id
         |       JOIN asg bb ON aa.cell = bb.cell
         |       JOIN c b ON b.vec_id = bb.vec_id
         |       WHERE a.vec_id < b.vec_id
         |         AND list_inner_product(a.e, b.e)
         |           / (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))) >= 0.35),
         |edges AS (SELECT i, j FROM sp UNION SELECT j, i FROM sp),
         |nodes AS (SELECT DISTINCT i AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.i, reach.r FROM edges e JOIN reach ON e.j = reach.id),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |dropped AS (SELECT id FROM comp WHERE id <> component),
         |src AS (SELECT doc_id, text FROM $docsPq
         |        WHERE doc_id NOT IN (SELECT id FROM dropped)),
         |""".stripMargin, "src"),

    // mess → normalize (same regex constants as the engine) → d7's replay
    "d14_prepare_normalized" -> prepareOracle(
      s"""m AS (
         |  SELECT doc_id,
         |    trim(regexp_replace(regexp_replace(
         |      chr(7) || chr(9) || ' ' ||
         |      substr(text, 1, greatest(1, length(text) // 2)) || chr(1) ||
         |      substr(text, greatest(1, length(text) // 2) + 1) ||
         |      '  ' || chr(13) || chr(10),
         |      '${Quality.CtrlRe}', '', 'g'), '${Quality.WsRe}', ' ', 'g')) AS text
         |  FROM $docsPq WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |""".stripMargin, "m"),

    // same 5-token windows WITH positions, string-keyed: excise every
    // token position covered by a window in ≥2 distinct docs (list
    // comprehension over 1-based token indexes mirrors Spark's
    // index-aware filter), re-join by spaces
    "d9_span_removal" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM $docsPq),
         |w AS (SELECT doc_id, p, array_to_string(tok[p : p + 4], ' ') AS ws
         |      FROM t, UNNEST(range(1, greatest(len(tok) - 4, 0) + 1)) AS u(p)),
         |g AS (SELECT ws, doc_id, list(p) AS ps FROM w GROUP BY 1, 2),
         |d AS (SELECT ws FROM g GROUP BY ws HAVING count(*) >= 2),
         |s AS (SELECT doc_id, flatten(list(ps)) AS starts
         |      FROM g JOIN d USING (ws) GROUP BY 1),
         |c AS (SELECT doc_id,
         |        flatten(list_transform(starts, x -> range(x, x + 5))) AS cov
         |      FROM s),
         |k AS (SELECT t.doc_id, tok,
         |        [tok[i] FOR i IN range(1, len(tok) + 1)
         |         IF cov IS NULL OR NOT list_contains(cov, i)] AS kept
         |      FROM t LEFT JOIN c USING (doc_id))
         |SELECT doc_id,
         |  -- empty kept-list: DuckDB array_to_string gives NULL, Spark
         |  -- concat_ws gives '' — coalesce to the Spark semantics
         |  coalesce(array_to_string(kept, ' '), '') AS clean_text,
         |  CAST(len(tok) - len(kept) AS BIGINT) AS n_removed
         |FROM k
         |${orderBySql("doc_id", "clean_text", "n_removed")}""".stripMargin,

    // d7's replay over the span-floored survivor set: the drop list is
    // d8's dup_frac computation (string-keyed) thresholded at 0.2
    "d10_prepare_span_floor" -> prepareOracle(
      s"""wt AS (SELECT doc_id, string_split(text, ' ') AS tok FROM $docsPq),
         |wspan AS (SELECT doc_id, array_to_string(tok[p : p + 4], ' ') AS ws
         |          FROM wt, UNNEST(range(1, greatest(len(tok) - 4, 0) + 1)) AS u(p)),
         |wdup AS (SELECT ws FROM wspan GROUP BY ws HAVING count(DISTINCT doc_id) >= 2),
         |wn AS (SELECT doc_id, count(*) AS nw FROM wspan GROUP BY 1),
         |wk AS (SELECT doc_id, count(*) AS nd
         |       FROM wspan JOIN wdup USING (ws) GROUP BY 1),
         |wdrop AS (SELECT doc_id FROM wn LEFT JOIN wk USING (doc_id)
         |          WHERE round(coalesce(nd, 0) * 1.0 / nw, 6) > 0.2),
         |""".stripMargin,
      s"""(SELECT doc_id, text FROM $docsPq
         |     WHERE doc_id NOT IN (SELECT doc_id FROM wdrop))""".stripMargin),

    "tx1_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe,
         |  CAST(length(text) AS BIGINT) AS n_chars_m
         |FROM $docsPq
         |${orderBySql("doc_id", "n_tokens", "n_bpe", "n_chars_m")}""".stripMargin,

    "tx2_quality_score" ->
      s"""SELECT doc_id,
         |  round(stop_hits * 1.0 / n_tokens, 6) AS stop_ratio,
         |  round(least(n_tokens * 1.0 / 100.0, 1.0) * 0.5
         |        + (stop_hits * 1.0 / n_tokens) * 0.3
         |        + (CASE WHEN n_chars = 0 THEN 0.0
         |                ELSE alpha_chars * 1.0 / n_chars END) * 0.2, 6) AS quality
         |FROM (
         |  SELECT doc_id,
         |    CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS n_tokens,
         |    CAST(len(list_filter(string_split(lower(text), ' '),
         |      t -> t IN ('the','a','of','and','to'))) AS DOUBLE) AS stop_hits,
         |    CAST(length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE) AS alpha_chars,
         |    CAST(length(text) AS DOUBLE) AS n_chars
         |  FROM $docsPq)
         |${orderBySql("doc_id", "stop_ratio", "quality")}""".stripMargin,

    "tx3_lang_id" ->
      s"""SELECT lang,
         |  CASE WHEN v_es > greatest(v_en, v_de) THEN 'es'
         |       WHEN v_de > v_en THEN 'de' ELSE 'en' END AS pred_lang,
         |  count(*) AS n
         |FROM (
         |  SELECT lang,
         |    len(list_filter(string_split(lower(text), ' '),
         |      t -> t IN ('the','a','of','and'))) AS v_en,
         |    len(list_filter(string_split(lower(text), ' '),
         |      t -> t IN ('der','die','das','und'))) AS v_de,
         |    len(list_filter(string_split(lower(text), ' '),
         |      t -> t IN ('el','la','los','y'))) AS v_es
         |  FROM $docsPq)
         |GROUP BY 1, 2
         |${orderBySql("lang", "pred_lang", "n")}""".stripMargin,

    "tx4_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
         |           THEN text
         |           ELSE trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) END) AS fp
         |FROM $docsPq
         |${orderBySql("doc_id", "fp")}""".stripMargin,

    // first_byte = first UTF-8 BYTE (Spark reads payload(0)), not the first
    // character's code point — ascii(substr(text,1,1)) would diverge on any
    // non-ASCII-leading document; empty payload = -1, like the Spark kernel
    "mm1_binary_features" ->
      s"""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |  CAST(CASE WHEN octet_length(encode(text)) = 0 THEN -1
         |            ELSE ('0x' || substr(hex(encode(text)), 1, 2))::INT
         |       END AS BIGINT) AS first_byte
         |FROM $docsPq
         |${orderBySql("doc_id", "n_bytes", "first_byte")}""".stripMargin,

    // dHash over payload bytes (original + one-byte-replaced twin rows),
    // replayed byte-for-byte from the blob's hex string (byte k = hex
    // chars 2k+1..2k+2), then brute-force Hamming ≤ 3 — band blocking
    // at 4 bands is pigeonhole-exact there
    "mm2_dhash_pairs" ->
      s"""WITH src AS (
         |  SELECT doc_id, text FROM $docsPq
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |    AND length(text) >= 1),
         |uni AS (
         |  SELECT doc_id, text FROM src
         |  UNION ALL
         |  SELECT doc_id + 10000000,
         |    substr(text, 1, greatest(1, length(text) // 2) - 1) || '~' ||
         |    substr(text, greatest(1, length(text) // 2) + 1)
         |  FROM src),
         |d AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS n
         |  FROM uni),
         |s AS (
         |  SELECT doc_id, i,
         |    ('0x' || substr(hx, CAST((i * n) // 65 AS BIGINT) * 2 + 1, 2))::INT AS v
         |  FROM d, (SELECT unnest(generate_series(0, 64)) AS i)),
         |bits AS (
         |  SELECT a.doc_id, a.i
         |  FROM s a JOIN s b ON a.doc_id = b.doc_id AND b.i = a.i + 1
         |  WHERE a.i < 64 AND a.v > b.v),
         |sig AS (
         |  SELECT d.doc_id,
         |    COALESCE(CAST(sum(1::UBIGINT << bits.i) AS UBIGINT), 0::UBIGINT) AS s
         |  FROM d LEFT JOIN bits ON d.doc_id = bits.doc_id
         |  GROUP BY d.doc_id)
         |SELECT a.doc_id AS i, b.doc_id AS j,
         |  CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.s, b.s)) <= 3
         |${orderBySql("i", "j", "hamming")}""".stripMargin,

    // frame-tier replay: frames = full 64-byte slices at even indices
    // (f*64+64 ≤ n, f % 2 = 0 — frameSample's floor-division + stride),
    // 65 byte samples WITHIN each frame (byte f*64 + (i*64)//65 = hex
    // chars at ×2), adjacent-comparison bit fold per frame, brute-force
    // Hamming ≤ 3 across frames of DIFFERENT videos (band blocking is
    // pigeonhole-exact there), counts per video pair
    "mm3_frame_dup_videos" ->
      s"""WITH src AS (
         |  SELECT doc_id, text FROM $docsPq
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |    AND length(text) >= 1 AND doc_id % 5 = 0),
         |uni AS (
         |  SELECT doc_id, text FROM src
         |  UNION ALL
         |  SELECT doc_id + 10000000,
         |    substr(text, 1, greatest(1, length(text) // 2) - 1) || '~' ||
         |    substr(text, greatest(1, length(text) // 2) + 1)
         |  FROM src),
         |d AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS n
         |  FROM uni),
         |fr AS (
         |  SELECT doc_id, f FROM d,
         |    (SELECT unnest(generate_series(0, 4000)) AS f)
         |  WHERE f * 64 + 64 <= n AND f % 2 = 0),
         |s AS (
         |  SELECT fr.doc_id, fr.f, i.i,
         |    ('0x' || substr(hx,
         |      CAST(fr.f * 64 + (i.i * 64) // 65 AS BIGINT) * 2 + 1,
         |      2))::INT AS v
         |  FROM fr JOIN d USING (doc_id),
         |    (SELECT unnest(generate_series(0, 64)) AS i) i),
         |bits AS (
         |  SELECT a.doc_id, a.f, a.i
         |  FROM s a JOIN s b ON a.doc_id = b.doc_id AND a.f = b.f
         |    AND b.i = a.i + 1
         |  WHERE a.i < 64 AND a.v > b.v),
         |sig AS (
         |  SELECT fr.doc_id, fr.f,
         |    COALESCE(CAST(sum(1::UBIGINT << bits.i) AS UBIGINT),
         |      0::UBIGINT) AS s
         |  FROM fr LEFT JOIN bits
         |    ON fr.doc_id = bits.doc_id AND fr.f = bits.f
         |  GROUP BY 1, 2),
         |fp AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.s, b.s)) <= 3)
         |SELECT i, j, CAST(count(*) AS BIGINT) AS n_matches
         |FROM fp GROUP BY 1, 2
         |${orderBySql("i", "j", "n_matches")}""".stripMargin,

    // mm3's replay through the component closure: video pairs with
    // ≥ minFrames(=1) shared frames → recursive CC → min-id rep →
    // multi-member cluster sizes over ALL videos (non-paired videos
    // are singletons and drop at n_members > 1)
    "mm4_frame_dup_clusters" ->
      s"""WITH RECURSIVE src AS (
         |  SELECT doc_id, text FROM $docsPq
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |    AND length(text) >= 1 AND doc_id % 5 = 0),
         |uni AS (
         |  SELECT doc_id, text FROM src
         |  UNION ALL
         |  SELECT doc_id + 10000000,
         |    substr(text, 1, greatest(1, length(text) // 2) - 1) || '~' ||
         |    substr(text, greatest(1, length(text) // 2) + 1)
         |  FROM src),
         |d AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS n
         |  FROM uni),
         |fr AS (
         |  SELECT doc_id, f FROM d,
         |    (SELECT unnest(generate_series(0, 4000)) AS f)
         |  WHERE f * 64 + 64 <= n AND f % 2 = 0),
         |s AS (
         |  SELECT fr.doc_id, fr.f, i.i,
         |    ('0x' || substr(hx,
         |      CAST(fr.f * 64 + (i.i * 64) // 65 AS BIGINT) * 2 + 1,
         |      2))::INT AS v
         |  FROM fr JOIN d USING (doc_id),
         |    (SELECT unnest(generate_series(0, 64)) AS i) i),
         |bits AS (
         |  SELECT a.doc_id, a.f, a.i
         |  FROM s a JOIN s b ON a.doc_id = b.doc_id AND a.f = b.f
         |    AND b.i = a.i + 1
         |  WHERE a.i < 64 AND a.v > b.v),
         |sig AS (
         |  SELECT fr.doc_id, fr.f,
         |    COALESCE(CAST(sum(1::UBIGINT << bits.i) AS UBIGINT),
         |      0::UBIGINT) AS s
         |  FROM fr LEFT JOIN bits
         |    ON fr.doc_id = bits.doc_id AND fr.f = bits.f
         |  GROUP BY 1, 2),
         |fp AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.s, b.s)) <= 3),
         |vp AS (SELECT DISTINCT i, j FROM fp),
         |edges AS (SELECT i, j FROM vp UNION SELECT j, i FROM vp),
         |nodes AS (SELECT DISTINCT i AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.i, reach.r FROM edges e JOIN reach ON e.j = reach.id),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         |SELECT coalesce(comp.component, uni.doc_id) AS rep_id,
         |  CAST(count(*) AS BIGINT) AS n_members
         |FROM uni LEFT JOIN comp ON uni.doc_id = comp.id
         |GROUP BY 1 HAVING count(*) > 1
         |${orderBySql("rep_id", "n_members")}""".stripMargin,

    // d7's replay over the repetition-floored survivor set: the drop list
    // is tx5's fraction computation thresholded at 0.6 / 0.1
    "d11_prepare_repetition_floor" -> prepareOracle(
      s"""rw AS (SELECT doc_id, string_split(text, ' ') AS w FROM $docsPq),
         |rnums AS (SELECT unnest(generate_series(1, 4000)) AS i),
         |rtok AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS nt,
         |         CAST(len(list_distinct(w)) AS DOUBLE) AS ndt FROM rw),
         |rbg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS b
         |        FROM rw JOIN rnums ON i <= len(w) - 1),
         |rbgc AS (SELECT doc_id, b, count(*) AS c FROM rbg GROUP BY 1, 2),
         |ragg AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS nb,
         |         CAST(max(c) AS DOUBLE) AS mx FROM rbgc GROUP BY 1),
         |rdrop AS (SELECT doc_id FROM rtok LEFT JOIN ragg USING (doc_id)
         |          WHERE round((nt - ndt) / nt, 6) > 0.6
         |             OR round(coalesce(mx / nb, 0.0), 6) > 0.1),
         |""".stripMargin,
      s"""(SELECT doc_id, text FROM $docsPq
         |     WHERE doc_id NOT IN (SELECT doc_id FROM rdrop))""".stripMargin),

    // distinct 5-shingles per side (lowercased, the d2 convention); the
    // corpus row set includes shingle-less short docs via the left joins
    // the Java-long rolling hash replayed in HUGEINT: h_i = wrap(B·31^k
    // + Σ_j unicode(c_{i+j})·31^(k−1−j)) with ONE mod-2^64 wrap (ring
    // homomorphism ≡ per-step wrapping), full-window minima, the
    // <=window single-min arm, distinct sketch, bucket self-join
    "d22_winnow_pairs" -> {
      val k = 8
      val w = 4
      val b31k = (BigInt(1125899906842597L) * BigInt(31).pow(k)).toString
      val terms = (0 until k).map { j =>
        val coef = BigInt(31).pow(k - 1 - j)
        s"CAST($coef AS BIGINT) * unicode(substr(s, i + $j, 1))"
      }.mkString("\n         |           + ")
      s"""WITH t AS (SELECT doc_id, lower(text) AS s FROM $docsPq
         |           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |g AS (SELECT doc_id, i,
         |        CAST(CASE WHEN m >= CAST('9223372036854775808' AS HUGEINT)
         |               THEN m - CAST('18446744073709551616' AS HUGEINT)
         |               ELSE m END AS BIGINT) AS h
         |      FROM (
         |        SELECT doc_id, i,
         |          (CAST('$b31k' AS HUGEINT)
         |           + $terms)
         |          % CAST('18446744073709551616' AS HUGEINT) AS m
         |        FROM t, UNNEST(range(1, length(s) - $k + 2)) AS u(i)) rawh),
         |cnt AS (SELECT doc_id, count(*) AS nh FROM g GROUP BY 1),
         |mins AS (
         |  SELECT a.doc_id, a.i AS p, min(b.h) AS wh
         |  FROM g a
         |  JOIN g b ON b.doc_id = a.doc_id AND b.i >= a.i AND b.i < a.i + $w
         |  JOIN cnt c ON c.doc_id = a.doc_id
         |  WHERE c.nh > $w AND a.i <= c.nh - $w + 1
         |  GROUP BY 1, 2
         |  UNION ALL
         |  SELECT g.doc_id, 1 AS p, min(h) AS wh
         |  FROM g JOIN cnt c USING (doc_id)
         |  WHERE c.nh <= $w
         |  GROUP BY 1),
         |sk0 AS (SELECT DISTINCT doc_id, wh FROM mins),
         |keep AS (SELECT wh FROM sk0 GROUP BY wh HAVING count(*) <= 8),
         |sk AS (SELECT doc_id, wh FROM sk0 JOIN keep USING (wh))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  count(*) AS n_shared
         |FROM sk a JOIN sk b ON a.wh = b.wh AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 3
         |${orderBySql("doc_a", "doc_b", "n_shared")}""".stripMargin
    },

    "d12_decontaminate" ->
      s"""WITH cw AS (SELECT doc_id, source, string_split(lower(text), ' ') AS w
         |           FROM $docsPq),
         |cnums AS (SELECT unnest(generate_series(1, 4000)) AS i),
         |csh AS (SELECT DISTINCT doc_id, source,
         |          array_to_string(w[i : i + 4], ' ') AS s
         |        FROM cw JOIN cnums ON i <= len(w) - 4),
         |bsh AS (SELECT DISTINCT s FROM csh WHERE source = 'src0'),
         |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh
         |        FROM csh WHERE source <> 'src0' GROUP BY 1),
         |hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nc
         |        FROM csh JOIN bsh USING (s)
         |        WHERE source <> 'src0' GROUP BY 1)
         |SELECT c.doc_id, coalesce(nsh, 0) AS n_shingles,
         |  coalesce(nc, 0) AS n_contaminated,
         |  CASE WHEN coalesce(nsh, 0) = 0 THEN 0.0
         |       ELSE round(coalesce(nc, 0) * 1.0 / nsh, 6) END AS contam_frac
         |FROM (SELECT doc_id FROM $docsPq WHERE source <> 'src0') c
         |LEFT JOIN cnt USING (doc_id) LEFT JOIN hit USING (doc_id)
         |${orderBySql("doc_id", "n_shingles", "n_contaminated", "contam_frac")}""".stripMargin,

    "sh1_shuffle_shards" ->
      s"""SELECT doc_id, lang,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ep1'), 1, 8))::BIGINT % 8 AS shard,
         |  CAST(row_number() OVER (
         |    PARTITION BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ep1'), 1, 8))::BIGINT % 8
         |    ORDER BY md5(CAST(doc_id AS VARCHAR) || 'ep1'), doc_id) AS BIGINT) AS pos
         |FROM $docsPq
         |${orderBySql("doc_id", "lang", "shard", "pos")}""".stripMargin,

    "tx5_repetition" ->
      s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM $docsPq),
         |nums AS (SELECT unnest(generate_series(1, 4000)) AS i),
         |tok AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS nt,
         |        CAST(len(list_distinct(w)) AS DOUBLE) AS ndt FROM words),
         |bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS b
         |       FROM words JOIN nums ON i <= len(w) - 1),
         |bgc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
         |agg AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS nb,
         |        CAST(count(*) AS DOUBLE) AS ndb, CAST(max(c) AS DOUBLE) AS mx
         |        FROM bgc GROUP BY 1)
         |SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
         |  round((nt - ndt) / nt, 6) AS dup_word_frac,
         |  round(coalesce((nb - ndb) / nb, 0.0), 6) AS dup_bigram_frac,
         |  round(coalesce(mx / nb, 0.0), 6) AS top_bigram_frac
         |FROM tok LEFT JOIN agg USING (doc_id)
         |${orderBySql("doc_id", "n_tokens", "dup_word_frac",
            "dup_bigram_frac", "top_bigram_frac")}""".stripMargin,

    // patterns interpolated from the SAME Scala constants the engine
    // compiles — alternation-free classes+quantifiers, so Java regex and
    // DuckDB's RE2 match identically; scrub order email → IP → phone is
    // part of the contract
    "tx6_pii_scrub" ->
      s"""WITH aug AS (
         |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |    || '.7 call +1 415 555 '
         |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
         |  FROM $docsPq)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${Quality.EmailRe}')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(t, '${Quality.Ipv4Re}')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(t, '${Quality.PhoneRe}')) AS BIGINT) AS n_phone,
         |  md5(regexp_replace(regexp_replace(regexp_replace(t,
         |    '${Quality.EmailRe}', '<EMAIL>', 'g'),
         |    '${Quality.Ipv4Re}', '<IP>', 'g'),
         |    '${Quality.PhoneRe}', '<PHONE>', 'g')) AS scrub_fp
         |FROM aug
         |${orderBySql("doc_id", "n_email", "n_ip", "n_phone", "scrub_fp")}""".stripMargin,

    "sm1_hash_sample" ->
      s"""SELECT doc_id, lang, source FROM $docsPq
         |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 37
         |${orderBySql("doc_id", "lang", "source")}""".stripMargin,

    "sm2_stratified_quota" ->
      s"""SELECT doc_id, lang, source, rk FROM (
         |  SELECT doc_id, lang, source,
         |    row_number() OVER (PARTITION BY lang, source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM $docsPq)
         |WHERE rk <= 10
         |${orderBySql("doc_id", "lang", "source", "rk")}""".stripMargin,

    // the greedy fold replayed as a recursive CTE: row i of a (strata,
    // shard) group extends row i−1's bin unless the budget overflows
    "pk1_pack_greedy" ->
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, CAST(lang AS VARCHAR) AS strata, doc_id % 4 AS shard,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    row_number() OVER (PARTITION BY lang, doc_id % 4 ORDER BY doc_id) AS rn
         |  FROM $docsPq),
         |pack AS (
         |  SELECT doc_id, strata, shard, n_tok, rn,
         |    CAST(0 AS BIGINT) AS bin_id, n_tok AS fill
         |  FROM t WHERE rn = 1
         |  UNION ALL
         |  SELECT t.doc_id, t.strata, t.shard, t.n_tok, t.rn,
         |    CASE WHEN p.fill + t.n_tok > 64 THEN p.bin_id + 1 ELSE p.bin_id END,
         |    CASE WHEN p.fill + t.n_tok > 64 THEN t.n_tok ELSE p.fill + t.n_tok END
         |  FROM t JOIN pack p
         |    ON t.strata = p.strata AND t.shard = p.shard AND t.rn = p.rn + 1)
         |SELECT doc_id, strata, shard, n_tok, bin_id FROM pack
         |${orderBySql("doc_id", "strata", "shard", "n_tok", "bin_id")}""".stripMargin,

    // SemDeDup replay: argmax-cosine cell per vector (tie → smallest
    // cell, the engine's row_number order), exact within-cell pairs at
    // the threshold, recursive component closure, min-id survivor —
    // survivors = everything not dropped (unscorable vectors pair with
    // nothing and survive by construction on both sides)
    "d13_semdedup" ->
      s"""WITH RECURSIVE
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM $embsPq),
         |cent AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS ev
         |         FROM $embsPq WHERE vec_id < 8),
         |asg AS (SELECT vec_id, cell FROM (
         |          SELECT c.vec_id, cent.cell,
         |            row_number() OVER (PARTITION BY c.vec_id ORDER BY
         |              list_inner_product(e, ev)
         |                / (sqrt(list_inner_product(e, e)) * sqrt(list_inner_product(ev, ev)))
         |              DESC, cent.cell) AS rn
         |          FROM c, cent) WHERE rn = 1),
         |p AS (SELECT a.vec_id AS i, b.vec_id AS j
         |      FROM c a JOIN asg aa ON a.vec_id = aa.vec_id
         |      JOIN asg bb ON aa.cell = bb.cell
         |      JOIN c b ON b.vec_id = bb.vec_id
         |      WHERE a.vec_id < b.vec_id
         |        AND list_inner_product(a.e, b.e)
         |          / (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))) >= 0.35),
         |edges AS (SELECT i, j FROM p UNION SELECT j, i FROM p),
         |nodes AS (SELECT DISTINCT i AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.i, reach.r FROM edges e JOIN reach ON e.j = reach.id),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |dropped AS (SELECT id FROM comp WHERE id <> component)
         |SELECT vec_id FROM c WHERE vec_id NOT IN (SELECT id FROM dropped)
         |${orderBySql("vec_id")}""".stripMargin,

    // the md5 draw against a per-source CASE of rates (sm1's replay with
    // the rate resolved per row)
    "sm3_mix_sample" ->
      s"""SELECT doc_id, source FROM $docsPq
         |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 <
         |  CASE source WHEN 'src0' THEN 80 WHEN 'src1' THEN 50
         |              WHEN 'src2' THEN 20 ELSE 10 END
         |${orderBySql("doc_id", "source")}""".stripMargin,

    // sm2's md5 rank with per-source quotas round(w·total) = 50/30/20;
    // unlisted sources get quota 0
    "sm4_mix_quota" ->
      s"""SELECT doc_id, source, rk FROM (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM $docsPq)
         |WHERE rk <= CASE source WHEN 'src0' THEN 50 WHEN 'src1' THEN 30
         |                        WHEN 'src2' THEN 20 ELSE 0 END
         |${orderBySql("doc_id", "source", "rk")}""".stripMargin,

    // tx18's perplexity replay + the bucket CASE + the md5 keep-draw at
    // per-bucket rates (head 100 / middle 50 / tail 10) — buckets
    // compare on the 6-decimal-rounded ppl, so both engines agree
    "sm6_ppl_bucket_sample" ->
      s"""WITH m AS (
         |  SELECT token, count(*) AS cnt
         |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
         |        FROM $docsPq WHERE text IS NOT NULL)
         |  GROUP BY token ORDER BY cnt DESC, token LIMIT 16),
         |st AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n,
         |              CAST(count(*) AS DOUBLE) AS v FROM m),
         |tw AS (SELECT string_split(lower(text), ' ') AS w
         |       FROM $docsPq WHERE text IS NOT NULL),
         |bi AS (SELECT w1, w2, cnt, w1_cnt FROM (
         |    SELECT p.w1, p.w2, count(*) AS cnt
         |    FROM (SELECT w[i] AS w1, w[i + 1] AS w2
         |          FROM tw, UNNEST(range(1, len(w))) AS u(i)) p
         |    GROUP BY 1, 2) c
         |  JOIN (SELECT token AS w1, cnt AS w1_cnt FROM m) mm USING (w1)
         |  ORDER BY cnt DESC, w1, w2 LIMIT 64),
         |toks AS (SELECT doc_id, i, w[i] AS cur,
         |           CASE WHEN i = 1 THEN NULL ELSE w[i - 1] END AS prev
         |         FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
         |               FROM $docsPq
         |               WHERE doc_id IS NOT NULL AND text IS NOT NULL) dw,
         |           UNNEST(range(1, len(w) + 1)) AS u(i)),
         |lp AS (SELECT doc_id,
         |         CASE
         |           WHEN prev IS NULL THEN
         |             CAST(round(ln((coalesce(m.cnt, 0) + 1.0) / (n + v + 1.0))
         |               * 1000000) AS BIGINT)
         |           WHEN bi.cnt IS NOT NULL THEN
         |             CAST(round(ln(CAST(bi.cnt AS DOUBLE) /
         |               CAST(bi.w1_cnt AS DOUBLE)) * 1000000) AS BIGINT)
         |           ELSE
         |             CAST(round(ln(0.4 * ((coalesce(m.cnt, 0) + 1.0) /
         |               (n + v + 1.0))) * 1000000) AS BIGINT)
         |         END AS lp6
         |       FROM toks
         |       LEFT JOIN m ON toks.cur = m.token
         |       LEFT JOIN bi ON toks.prev = bi.w1 AND toks.cur = bi.w2
         |       CROSS JOIN st),
         |g AS (SELECT doc_id, count(*) AS n_tokens, sum(lp6) AS s6
         |      FROM lp GROUP BY 1),
         |q AS (SELECT doc_id, n_tokens,
         |        (-s6 * 2 + n_tokens) // (2 * n_tokens) AS m6 FROM g),
         |b AS (SELECT doc_id, n_tokens,
         |        round(exp(m6 / 1000000.0), 6) AS ppl FROM q),
         |bk AS (SELECT doc_id, n_tokens, ppl,
         |         CASE WHEN ppl < 500.0 THEN 'head'
         |              WHEN ppl < 900.0 THEN 'middle'
         |              ELSE 'tail' END AS bucket
         |       FROM b)
         |SELECT doc_id, n_tokens, ppl, bucket
         |FROM bk
         |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |    % 100 <
         |  CASE bucket WHEN 'head' THEN 100 WHEN 'middle' THEN 50 ELSE 10 END
         |${orderBySql("doc_id", "n_tokens", "ppl", "bucket")}""".stripMargin,

    // the temperature arithmetic replayed integer-exactly: per-source
    // w6 = round(n^0.5 * 1e6), W = Σ w6, quota = (2*total*w6 + W) //
    // (2*W) in HUGEINT, then the md5-rank quota selection (sm4's rule)
    "sm7_temperature_quota" ->
      s"""WITH c AS (SELECT source AS s, count(*) AS n FROM $docsPq
         |           WHERE source IS NOT NULL GROUP BY 1),
         |w AS (SELECT s, CAST(round(pow(CAST(n AS DOUBLE), 0.5) * 1000000)
         |        AS BIGINT) AS w6 FROM c),
         |t AS (SELECT CAST(sum(w6) AS HUGEINT) AS wt FROM w),
         |k AS (SELECT s, CAST((CAST(120 AS HUGEINT) * w6 + wt) //
         |        (2 * wt) AS BIGINT) AS kq
         |      FROM w CROSS JOIN t),
         |r AS (SELECT doc_id, source,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |      FROM $docsPq WHERE source IS NOT NULL)
         |SELECT doc_id, source, rk FROM r JOIN k ON r.source = k.s
         |WHERE rk <= kq
         |${orderBySql("doc_id", "source", "rk")}""".stripMargin,

    // normalization replay over the same deterministic mess (control
    // bytes via chr(), the regex constants interpolated from the SAME
    // Scala vals the engine compiles — the tx6 discipline)
    "tx7_normalize" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    chr(7) || chr(9) || ' ' ||
         |    substr(text, 1, greatest(1, length(text) // 2)) || chr(1) ||
         |    substr(text, greatest(1, length(text) // 2) + 1) ||
         |    '  ' || chr(13) || chr(10) AS messy
         |  FROM $docsPq WHERE doc_id IS NOT NULL AND text IS NOT NULL)
         |SELECT doc_id,
         |  lower(trim(regexp_replace(regexp_replace(messy,
         |    '${Quality.CtrlRe}', '', 'g'), '${Quality.WsRe}', ' ', 'g'))) AS norm
         |FROM m
         |${orderBySql("doc_id", "norm")}""".stripMargin,

    // the same 4-token line injection (the one Scala constant, RE2
    // backref syntax), then: lines with positions keyed by the engine's
    // OWN md5-low-60 hash (replayed exactly — the gated query IS the
    // hashed scale path), distinct-doc counts per hash, keep positions
    // of lines in < 2 docs, rebuild by list comprehension
    "d16_line_dedup" ->
      s"""WITH lined AS (
         |  SELECT doc_id,
         |    regexp_replace(text, '$LineChunkRe', '\\1' || chr(10), 'g') AS text
         |  FROM $docsPq WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |t AS (SELECT doc_id, string_split(text, chr(10)) AS ln FROM lined),
         |w AS (SELECT doc_id, p,
         |        ('0x' || substr(md5(ln[p]), 1, 15))::BIGINT AS ls
         |      FROM t, UNNEST(range(1, len(ln) + 1)) AS u(p)),
         |d AS (SELECT ls FROM w GROUP BY ls HAVING count(DISTINCT doc_id) >= 2),
         |k AS (SELECT doc_id, list(p ORDER BY p) AS kp
         |      FROM w WHERE ls NOT IN (SELECT ls FROM d) GROUP BY 1)
         |SELECT t.doc_id,
         |  -- empty kept-list: DuckDB array_to_string of NULL gives NULL,
         |  -- Spark array_join of [] gives '' — coalesce to Spark semantics
         |  coalesce(array_to_string([ln[i] FOR i IN kp], chr(10)), '') AS clean_text,
         |  CAST(len(ln) AS BIGINT) AS n_lines,
         |  CAST(len(ln) - coalesce(len(kp), 0) AS BIGINT) AS n_removed
         |FROM t LEFT JOIN k USING (doc_id)
         |${orderBySql("doc_id", "clean_text", "n_lines", "n_removed")}""".stripMargin,

    // the same staging (line chunk, %3 bullet, %4 ellipsis), then all 7
    // Gopher rules replayed: exact mean-word-length identity, literal
    // replace for symbol counts, list_filter line/word predicates
    "tx9_gopher_rules" ->
      s"""WITH lined AS (
         |  SELECT doc_id,
         |    regexp_replace(text, '$LineChunkRe', '\\1' || chr(10), 'g') AS t0
         |  FROM $docsPq WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |aug AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 4 = 0 THEN t1 || ' ...' ELSE t1 END AS t
         |  FROM (SELECT doc_id,
         |          CASE WHEN doc_id % 3 = 0 THEN '- ' || t0 ELSE t0 END AS t1
         |        FROM lined)),
         |s AS (SELECT doc_id, t,
         |        string_split(lower(t), ' ') AS w,
         |        string_split(t, chr(10)) AS ln FROM aug),
         |m AS (SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS n_words,
         |  round((length(t) - len(w) + 1.0) / len(w), 6) AS mean_word_len,
         |  round((length(t) - length(replace(t, '#', ''))
         |         + (length(t) - length(replace(t, '...', ''))) // 3) * 1.0
         |        / len(w), 6) AS symbol_ratio,
         |  round(len(list_filter(ln, l -> starts_with(l, '- ')
         |          OR starts_with(l, '* '))) * 1.0 / len(ln), 6) AS bullet_frac,
         |  round(len(list_filter(ln, l -> ends_with(l, '...'))) * 1.0
         |        / len(ln), 6) AS ellipsis_frac,
         |  round(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1.0
         |        / len(w), 6) AS alpha_word_frac,
         |  CAST(len(list_filter(w, x -> x IN ('the','be','to','of','and',
         |    'that','have','with'))) AS BIGINT) AS stop_hits
         | FROM s)
         |SELECT *,
         |  (n_words >= 30 AND n_words <= 100000
         |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |   AND symbol_ratio <= 0.1 AND bullet_frac <= 0.05
         |   AND ellipsis_frac <= 0.05 AND alpha_word_frac >= 0.8
         |   AND stop_hits >= 2) AS pass
         |FROM m
         |${orderBySql("doc_id", "n_words", "mean_word_len", "symbol_ratio",
              "bullet_frac", "ellipsis_frac", "alpha_word_frac", "stop_hits",
              "pass")}""".stripMargin,

    // two top-16 models (target = src0, source = pool), per-token
    // micro-nat log-ratio, integer-exact sum — tx8's determinism
    // contract applied twice
    "sm5_dsir_weights" ->
      s"""WITH mt AS (
         |  SELECT token, count(*) AS ct
         |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
         |        FROM $docsPq WHERE text IS NOT NULL AND source = 'src0')
         |  GROUP BY token ORDER BY ct DESC, token LIMIT 16),
         |ms AS (
         |  SELECT token, count(*) AS cs
         |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
         |        FROM $docsPq WHERE text IS NOT NULL)
         |  GROUP BY token ORDER BY cs DESC, token LIMIT 16),
         |stt AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt,
         |               CAST(count(*) AS DOUBLE) AS vt FROM mt),
         |sts AS (SELECT CAST(sum(cs) AS DOUBLE) AS ns,
         |               CAST(count(*) AS DOUBLE) AS vs FROM ms),
         |toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
         |         FROM $docsPq WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |lp AS (SELECT doc_id,
         |         CAST(round(ln((coalesce(ct, 0) + 1.0) / (nt + vt + 1.0)) * 1000000)
         |           AS BIGINT)
         |       - CAST(round(ln((coalesce(cs, 0) + 1.0) / (ns + vs + 1.0)) * 1000000)
         |           AS BIGINT) AS d6
         |       FROM toks LEFT JOIN mt USING (token) LEFT JOIN ms USING (token)
         |       CROSS JOIN stt CROSS JOIN sts),
         |g AS (SELECT doc_id, count(*) AS n_tokens, sum(d6) AS s6
         |      FROM lp GROUP BY 1),
         |-- signed integer half-away-from-zero mean: divide positives
         |-- only (// floors, Spark div truncates — they differ below 0)
         |q AS (SELECT doc_id, n_tokens, s6,
         |        CASE WHEN s6 < 0
         |          THEN -((-s6 * 2 + n_tokens) // (2 * n_tokens))
         |          ELSE (s6 * 2 + n_tokens) // (2 * n_tokens) END AS m6
         |      FROM g)
         |SELECT doc_id, n_tokens,
         |  round(s6 / 1000000.0, 6) AS log_ratio,
         |  round(m6 / 1000000.0, 6) AS log_ratio_mean
         |FROM q
         |${orderBySql("doc_id", "n_tokens", "log_ratio", "log_ratio_mean")}""".stripMargin,

    // top-16 unigram counts (ties by token — deterministic), Laplace
    // smoothing over N = sum(cnt), V = rows, per-token log-prob
    // fixed-pointed to micro-nats BEFORE the per-doc sum (integer-exact
    // summation in any order), identical division tree for nll/ppl
    "tx18_ngram_perplexity" ->
      s"""WITH m AS (
         |  SELECT token, count(*) AS cnt
         |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
         |        FROM $docsPq WHERE text IS NOT NULL)
         |  GROUP BY token ORDER BY cnt DESC, token LIMIT 16),
         |st AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n,
         |              CAST(count(*) AS DOUBLE) AS v FROM m),
         |tw AS (SELECT string_split(lower(text), ' ') AS w
         |       FROM $docsPq WHERE text IS NOT NULL),
         |bi AS (SELECT w1, w2, cnt, w1_cnt FROM (
         |    SELECT p.w1, p.w2, count(*) AS cnt
         |    FROM (SELECT w[i] AS w1, w[i + 1] AS w2
         |          FROM tw, UNNEST(range(1, len(w))) AS u(i)) p
         |    GROUP BY 1, 2) c
         |  JOIN (SELECT token AS w1, cnt AS w1_cnt FROM m) mm USING (w1)
         |  ORDER BY cnt DESC, w1, w2 LIMIT 64),
         |toks AS (SELECT doc_id, i, w[i] AS cur,
         |           CASE WHEN i = 1 THEN NULL ELSE w[i - 1] END AS prev
         |         FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
         |               FROM $docsPq
         |               WHERE doc_id IS NOT NULL AND text IS NOT NULL) dw,
         |           UNNEST(range(1, len(w) + 1)) AS u(i)),
         |lp AS (SELECT doc_id,
         |         CASE
         |           WHEN prev IS NULL THEN
         |             CAST(round(ln((coalesce(m.cnt, 0) + 1.0) / (n + v + 1.0))
         |               * 1000000) AS BIGINT)
         |           WHEN bi.cnt IS NOT NULL THEN
         |             CAST(round(ln(CAST(bi.cnt AS DOUBLE) /
         |               CAST(bi.w1_cnt AS DOUBLE)) * 1000000) AS BIGINT)
         |           ELSE
         |             CAST(round(ln(0.4 * ((coalesce(m.cnt, 0) + 1.0) /
         |               (n + v + 1.0))) * 1000000) AS BIGINT)
         |         END AS lp6
         |       FROM toks
         |       LEFT JOIN m ON toks.cur = m.token
         |       LEFT JOIN bi ON toks.prev = bi.w1 AND toks.cur = bi.w2
         |       CROSS JOIN st),
         |g AS (SELECT doc_id, count(*) AS n_tokens, sum(lp6) AS s6
         |      FROM lp GROUP BY 1),
         |q AS (SELECT doc_id, n_tokens,
         |        (-s6 * 2 + n_tokens) // (2 * n_tokens) AS m6 FROM g)
         |SELECT doc_id, n_tokens,
         |  round(m6 / 1000000.0, 6) AS nll,
         |  round(exp(m6 / 1000000.0), 6) AS ppl
         |FROM q
         |${orderBySql("doc_id", "n_tokens", "nll", "ppl")}""".stripMargin,

    // tx18's replay one order up: trigram counts context-joined to the
    // bi table (ctx_cnt), the tri -> 0.4*bi -> 0.4*0.4*uni chain, same
    // integer micro-nat fixed point and half-up mean
    "tx20_trigram_perplexity" ->
      s"""WITH m AS (
         |  SELECT token, count(*) AS cnt
         |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
         |        FROM $docsPq WHERE text IS NOT NULL)
         |  GROUP BY token ORDER BY cnt DESC, token LIMIT 16),
         |st AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n,
         |              CAST(count(*) AS DOUBLE) AS v FROM m),
         |tw AS (SELECT string_split(lower(text), ' ') AS w
         |       FROM $docsPq WHERE text IS NOT NULL),
         |bi AS (SELECT w1, w2, cnt, w1_cnt FROM (
         |    SELECT p.w1, p.w2, count(*) AS cnt
         |    FROM (SELECT w[i] AS w1, w[i + 1] AS w2
         |          FROM tw, UNNEST(range(1, len(w))) AS u(i)) p
         |    GROUP BY 1, 2) c
         |  JOIN (SELECT token AS w1, cnt AS w1_cnt FROM m) mm USING (w1)
         |  ORDER BY cnt DESC, w1, w2 LIMIT 64),
         |tri AS (SELECT w1, w2, w3, cnt, ctx_cnt FROM (
         |    SELECT p.w1, p.w2, p.w3, count(*) AS cnt
         |    FROM (SELECT w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3
         |          FROM tw, UNNEST(range(1, len(w) - 1)) AS u(i)) p
         |    GROUP BY 1, 2, 3) c
         |  JOIN (SELECT w1, w2, cnt AS ctx_cnt FROM bi) bb USING (w1, w2)
         |  ORDER BY cnt DESC, w1, w2, w3 LIMIT 256),
         |toks AS (SELECT doc_id, i, w[i] AS cur,
         |           CASE WHEN i = 1 THEN NULL ELSE w[i - 1] END AS prev,
         |           CASE WHEN i <= 2 THEN NULL ELSE w[i - 2] END AS prev2
         |         FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
         |               FROM $docsPq
         |               WHERE doc_id IS NOT NULL AND text IS NOT NULL) dw,
         |           UNNEST(range(1, len(w) + 1)) AS u(i)),
         |lp AS (SELECT doc_id,
         |         CASE
         |           WHEN prev IS NULL THEN
         |             CAST(round(ln((coalesce(m.cnt, 0) + 1.0) / (n + v + 1.0))
         |               * 1000000) AS BIGINT)
         |           WHEN prev2 IS NULL AND bi.cnt IS NOT NULL THEN
         |             CAST(round(ln(CAST(bi.cnt AS DOUBLE) /
         |               CAST(bi.w1_cnt AS DOUBLE)) * 1000000) AS BIGINT)
         |           WHEN prev2 IS NULL THEN
         |             CAST(round(ln(0.4 * ((coalesce(m.cnt, 0) + 1.0) /
         |               (n + v + 1.0))) * 1000000) AS BIGINT)
         |           WHEN tri.cnt IS NOT NULL THEN
         |             CAST(round(ln(CAST(tri.cnt AS DOUBLE) /
         |               CAST(tri.ctx_cnt AS DOUBLE)) * 1000000) AS BIGINT)
         |           WHEN bi.cnt IS NOT NULL THEN
         |             CAST(round(ln(0.4 * (CAST(bi.cnt AS DOUBLE) /
         |               CAST(bi.w1_cnt AS DOUBLE))) * 1000000) AS BIGINT)
         |           ELSE
         |             CAST(round(ln(0.4 * 0.4 * ((coalesce(m.cnt, 0) + 1.0) /
         |               (n + v + 1.0))) * 1000000) AS BIGINT)
         |         END AS lp6
         |       FROM toks
         |       LEFT JOIN m ON toks.cur = m.token
         |       LEFT JOIN bi ON toks.prev = bi.w1 AND toks.cur = bi.w2
         |       LEFT JOIN tri ON toks.prev2 = tri.w1
         |         AND toks.prev = tri.w2 AND toks.cur = tri.w3
         |       CROSS JOIN st),
         |g AS (SELECT doc_id, count(*) AS n_tokens, sum(lp6) AS s6
         |      FROM lp GROUP BY 1),
         |q AS (SELECT doc_id, n_tokens,
         |        (-s6 * 2 + n_tokens) // (2 * n_tokens) AS m6 FROM g)
         |SELECT doc_id, n_tokens,
         |  round(m6 / 1000000.0, 6) AS nll,
         |  round(exp(m6 / 1000000.0), 6) AS ppl
         |FROM q
         |${orderBySql("doc_id", "n_tokens", "nll", "ppl")}""".stripMargin,

    // tx18's tables scored under interpolated Kneser–Ney: continuation
    // statistics (fw = N1+(w1,·) with the carried context count, bw =
    // N1+(·,w2), np = pair-table rows) derived from the SAME capped bi
    // CTE, then the three rounding arms — first-token smoothed unigram,
    // seen-pair ONE rounding of the full interpolated value, unseen
    // pair round(ln λ)+round(ln Pcont) as two summed integer arms with
    // λ = 1 (0 micro-nats) for pair-free/OOV contexts
    "tx21_kn_perplexity" ->
      s"""WITH m AS (
         |  SELECT token, count(*) AS cnt
         |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
         |        FROM $docsPq WHERE text IS NOT NULL)
         |  GROUP BY token ORDER BY cnt DESC, token LIMIT 16),
         |st AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n,
         |              CAST(count(*) AS DOUBLE) AS v FROM m),
         |tw AS (SELECT string_split(lower(text), ' ') AS w
         |       FROM $docsPq WHERE text IS NOT NULL),
         |bi AS (SELECT w1, w2, cnt, w1_cnt FROM (
         |    SELECT p.w1, p.w2, count(*) AS cnt
         |    FROM (SELECT w[i] AS w1, w[i + 1] AS w2
         |          FROM tw, UNNEST(range(1, len(w))) AS u(i)) p
         |    GROUP BY 1, 2) c
         |  JOIN (SELECT token AS w1, cnt AS w1_cnt FROM m) mm USING (w1)
         |  ORDER BY cnt DESC, w1, w2 LIMIT 64),
         |fw AS (SELECT w1, count(*) AS n1p, max(w1_cnt) AS w1c
         |       FROM bi GROUP BY w1),
         |bw AS (SELECT w2, count(*) AS n1b FROM bi GROUP BY w2),
         |s2 AS (SELECT CAST(count(*) AS DOUBLE) AS np FROM bi),
         |toks AS (SELECT doc_id, i, w[i] AS cur,
         |           CASE WHEN i = 1 THEN NULL ELSE w[i - 1] END AS prev
         |         FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
         |               FROM $docsPq
         |               WHERE doc_id IS NOT NULL AND text IS NOT NULL) dw,
         |           UNNEST(range(1, len(w) + 1)) AS u(i)),
         |lp AS (SELECT doc_id,
         |         CASE
         |           WHEN prev IS NULL THEN
         |             CAST(round(ln((coalesce(m.cnt, 0) + 1.0) / (n + v + 1.0))
         |               * 1000000) AS BIGINT)
         |           WHEN bi.cnt IS NOT NULL THEN
         |             CAST(round(ln(
         |               greatest(CAST(bi.cnt AS DOUBLE) - 0.75, 0) / bi.w1_cnt
         |               + 0.75 * fw.n1p / bi.w1_cnt *
         |                 ((coalesce(bw.n1b, 0) + 1.0) / (np + v + 1.0)))
         |               * 1000000) AS BIGINT)
         |           ELSE
         |             (CASE WHEN fw.n1p IS NULL THEN 0 ELSE
         |                CAST(round(ln(0.75 * fw.n1p / fw.w1c) * 1000000)
         |                  AS BIGINT) END)
         |             + CAST(round(ln((coalesce(bw.n1b, 0) + 1.0) /
         |                 (np + v + 1.0)) * 1000000) AS BIGINT)
         |         END AS lp6
         |       FROM toks
         |       LEFT JOIN m ON toks.cur = m.token
         |       LEFT JOIN bi ON toks.prev = bi.w1 AND toks.cur = bi.w2
         |       LEFT JOIN fw ON toks.prev = fw.w1
         |       LEFT JOIN bw ON toks.cur = bw.w2
         |       CROSS JOIN st CROSS JOIN s2),
         |g AS (SELECT doc_id, count(*) AS n_tokens, sum(lp6) AS s6
         |      FROM lp GROUP BY 1),
         |q AS (SELECT doc_id, n_tokens,
         |        (-s6 * 2 + n_tokens) // (2 * n_tokens) AS m6 FROM g)
         |SELECT doc_id, n_tokens,
         |  round(m6 / 1000000.0, 6) AS nll,
         |  round(exp(m6 / 1000000.0), 6) AS ppl
         |FROM q
         |${orderBySql("doc_id", "n_tokens", "nll", "ppl")}""".stripMargin,

    "tx8_lm_perplexity" ->
      s"""WITH m AS (
         |  SELECT token, count(*) AS cnt
         |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
         |        FROM $docsPq WHERE text IS NOT NULL)
         |  GROUP BY token ORDER BY cnt DESC, token LIMIT 16),
         |st AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n,
         |              CAST(count(*) AS DOUBLE) AS v FROM m),
         |toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
         |         FROM $docsPq WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |lp AS (SELECT doc_id,
         |         CAST(round(ln((coalesce(cnt, 0) + 1.0) / (n + v + 1.0)) * 1000000)
         |           AS BIGINT) AS lp6
         |       FROM toks LEFT JOIN m USING (token) CROSS JOIN st),
         |g AS (SELECT doc_id, count(*) AS n_tokens, sum(lp6) AS s6
         |      FROM lp GROUP BY 1),
         |-- integer half-up mean in micro-nats (Quality.lmPerplexity's
         |-- determinism note): −s6 ≥ 0, so // (floor) ≡ Spark's div
         |q AS (SELECT doc_id, n_tokens,
         |        (-s6 * 2 + n_tokens) // (2 * n_tokens) AS m6 FROM g)
         |SELECT doc_id, n_tokens,
         |  round(m6 / 1000000.0, 6) AS nll,
         |  round(exp(m6 / 1000000.0), 6) AS ppl
         |FROM q
         |${orderBySql("doc_id", "n_tokens", "nll", "ppl")}""".stripMargin,

    // d7's replay over the decontaminated survivor set: the drop list is
    // d12's string-shingle contamination fraction thresholded at 0.05
    // (shingle-less docs have no ccnt row and are never dropped, the
    // engine's contam_frac = 0 contract)
    "d17_prepare_decontaminated" -> prepareOracle(
      s"""cw AS (SELECT doc_id, source, string_split(lower(text), ' ') AS w
         |       FROM $docsPq),
         |cnums AS (SELECT unnest(generate_series(1, 4000)) AS i),
         |csh AS (SELECT DISTINCT doc_id, source,
         |          array_to_string(w[i : i + 4], ' ') AS s
         |        FROM cw JOIN cnums ON i <= len(w) - 4),
         |bsh AS (SELECT DISTINCT s FROM csh WHERE source = 'src0'),
         |ccnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh
         |         FROM csh WHERE source <> 'src0' GROUP BY 1),
         |chit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nc
         |         FROM csh JOIN bsh USING (s)
         |         WHERE source <> 'src0' GROUP BY 1),
         |cdrop AS (SELECT doc_id FROM ccnt LEFT JOIN chit USING (doc_id)
         |          WHERE round(coalesce(nc, 0) * 1.0 / nsh, 6) > 0.05),
         |""".stripMargin,
      s"""(SELECT doc_id, text FROM $docsPq
         |     WHERE source <> 'src0'
         |       AND doc_id NOT IN (SELECT doc_id FROM cdrop))""".stripMargin),

    // d7's replay over the classifier-floor survivor set: tx17's scoring
    // math (lowercased split, unigram+bigram md5-low-32 features, the
    // exact integer dot against the explicit weight expression) with the
    // logit-< 0 drops excluded from the source
    "d19_prepare_classifier_floor" -> prepareOracle(
      s"""cd0 AS (SELECT doc_id, string_split(lower(text), ' ') AS w
         |        FROM $docsPq
         |        WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |cnums AS (SELECT unnest(generate_series(1, 4000)) AS i),
         |cng AS (SELECT doc_id, unnest(w) AS g FROM cd0
         |        UNION ALL
         |        SELECT doc_id, w[i] || ' ' || w[i+1] AS g
         |        FROM cd0 JOIN cnums ON i <= len(w) - 1),
         |cfc AS (SELECT doc_id,
         |          ('0x' || substr(md5(g), 1, 8))::BIGINT % 65536 AS f,
         |          count(*) AS cnt
         |        FROM cng GROUP BY 1, 2),
         |clg AS (SELECT doc_id,
         |          12345 + sum(cnt * (f % 2001 - 1000)) AS lg
         |        FROM cfc GROUP BY 1),
         |cdrop2 AS (SELECT doc_id FROM clg WHERE lg < 0),
         |""".stripMargin,
      s"""(SELECT doc_id, text FROM $docsPq
         |     WHERE doc_id NOT IN (SELECT doc_id FROM cdrop2))""".stripMargin),

    // d7's replay over the Gopher-rule survivor set: tx9's rule math at
    // the published defaults on the RAW corpus text
    "d18_prepare_gopher_floor" -> prepareOracle(
      s"""gs AS (SELECT doc_id, text AS t, string_split(lower(text), ' ') AS gw,
         |        string_split(text, chr(10)) AS gl FROM $docsPq
         |        WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |gm AS (SELECT doc_id,
         |  CAST(len(gw) AS BIGINT) AS n_words,
         |  round((length(t) - len(gw) + 1.0) / len(gw), 6) AS mwl,
         |  round((length(t) - length(replace(t, '#', ''))
         |         + (length(t) - length(replace(t, '...', ''))) // 3) * 1.0
         |        / len(gw), 6) AS sym,
         |  round(len(list_filter(gl, l -> starts_with(l, '- ')
         |          OR starts_with(l, '* '))) * 1.0 / len(gl), 6) AS bf,
         |  round(len(list_filter(gl, l -> ends_with(l, '...'))) * 1.0
         |        / len(gl), 6) AS ef,
         |  round(len(list_filter(gw, x -> regexp_matches(x, '[a-z]'))) * 1.0
         |        / len(gw), 6) AS awf,
         |  CAST(len(list_filter(gw, x -> x IN ('the','be','to','of','and',
         |    'that','have','with'))) AS BIGINT) AS sh
         | FROM gs),
         |gdrop AS (SELECT doc_id FROM gm WHERE NOT (
         |  n_words >= 50 AND n_words <= 100000
         |  AND mwl >= 3.0 AND mwl <= 10.0 AND sym <= 0.1
         |  AND bf <= 0.9 AND ef <= 0.3 AND awf >= 0.8 AND sh >= 2)),
         |""".stripMargin,
      s"""(SELECT doc_id, text FROM $docsPq
         |     WHERE doc_id NOT IN (SELECT doc_id FROM gdrop))""".stripMargin),

    // integer micro-unit TF-IDF: the idf ln is rounded to micro-nats (the
    // only transcendental; positive, so round half-up ≡ half-away), then
    // (tf · idf_micro) // dl is floor ≡ Spark's div on the non-negative
    // operands
    "tx10_tfidf" ->
      s"""WITH b AS (
         |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |           t -> t <> '') AS tk
         |  FROM $docsPq WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |b2 AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS dl
         |       FROM b WHERE len(tk) >= 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b2),
         |dt AS (SELECT doc_id, dl, unnest(tk) AS term FROM b2),
         |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM dt GROUP BY 1, 2, 3),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT doc_id, term, tf,
         |         (tf * CAST(round(ln((nn.n + 1) * 1.0 / (df + 1)) * 1000000)
         |            AS BIGINT)) // dl AS tfidf_micro
         |       FROM tf JOIN df USING (term), nn),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY tfidf_micro DESC, term) AS rk FROM sc)
         |SELECT doc_id, term, tf, tfidf_micro, CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= 3
         |${orderBySql("doc_id", "term", "tf", "tfidf_micro", "rk")}""".stripMargin,

    // URL canonicalization + registrable domain, replayed step by step
    // on the identical messed-URL fixture (see messyUrl)
    "tx15_canonical_url" ->
      s"""WITH ${messyUrlCtes}
         |SELECT doc_id, canon_url, domain FROM dom
         |${orderBySql("doc_id", "canon_url", "domain")}""".stripMargin,

    // classifier scoring replay: the same lowercased split, unigram +
    // bigram hashed features (md5-low-32 mod 2^16 — the engine-wide
    // cross-engine hash), per-doc counts, and the exact integer dot
    // against the explicit w_micro(f) = f mod 2001 − 1000 table with
    // intercept 12345. n_feats counts DISTINCT features per doc.
    "d20_prepare_langid_trained" ->
      s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
         |           FROM $docsPq
         |           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |nums AS (SELECT unnest(generate_series(1, 4000)) AS i),
         |ng AS (SELECT doc_id, unnest(w) AS g FROM d
         |       UNION ALL
         |       SELECT doc_id, w[i] || ' ' || w[i+1] AS g
         |       FROM d JOIN nums ON i <= len(w) - 1),
         |fc AS (SELECT doc_id,
         |         ('0x' || substr(md5(g), 1, 8))::BIGINT % 65536 AS f,
         |         count(*) AS cnt
         |       FROM ng GROUP BY 1, 2),
         |lg AS (SELECT doc_id,
         |         CAST(1000000 + sum(cnt * (f % 1999 - 999)) AS BIGINT)
         |           AS len_,
         |         CAST(-500000 + sum(cnt * (f % 2003 - 1001)) AS BIGINT)
         |           AS lfr,
         |         CAST(0 + sum(cnt * (f % 1993 - 996)) AS BIGINT) AS lde
         |       FROM fc GROUP BY doc_id),
         |pl AS (SELECT doc_id,
         |         CASE WHEN lde >= len_ AND lde >= lfr THEN 'de'
         |              WHEN len_ >= lfr THEN 'en' ELSE 'fr' END AS lang
         |       FROM lg),
         |f AS (
         |  SELECT doc_id, text,
         |    round(least(n_tokens * 1.0 / 100.0, 1.0) * 0.5
         |          + (stop_hits * 1.0 / n_tokens) * 0.3
         |          + (CASE WHEN n_chars = 0 THEN 0.0
         |                  ELSE alpha_chars * 1.0 / n_chars END) * 0.2, 6) AS q
         |  FROM (
         |    SELECT doc_id, text,
         |      CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS n_tokens,
         |      CAST(len(list_filter(string_split(lower(text), ' '),
         |        t -> t IN ('the','a','of','and','to'))) AS DOUBLE) AS stop_hits,
         |      CAST(length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE) AS alpha_chars,
         |      CAST(length(text) AS DOUBLE) AS n_chars
         |    FROM $docsPq))
         |SELECT min(doc_id) AS rep_id, count(*) AS n_copies,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |FROM f JOIN pl USING (doc_id)
         |WHERE q >= 0.5 AND lang = 'en'
         |GROUP BY text
         |${orderBySql("rep_id", "n_copies", "n_tokens")}""".stripMargin,

    "tx19_langid_trained" ->
      s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
         |           FROM $docsPq
         |           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |nums AS (SELECT unnest(generate_series(1, 4000)) AS i),
         |ng AS (SELECT doc_id, unnest(w) AS g FROM d
         |       UNION ALL
         |       SELECT doc_id, w[i] || ' ' || w[i+1] AS g
         |       FROM d JOIN nums ON i <= len(w) - 1),
         |fc AS (SELECT doc_id,
         |         ('0x' || substr(md5(g), 1, 8))::BIGINT % 65536 AS f,
         |         count(*) AS cnt
         |       FROM ng GROUP BY 1, 2),
         |lg AS (SELECT doc_id,
         |         CAST(1000000 + sum(cnt * (f % 1999 - 999)) AS BIGINT)
         |           AS len_,
         |         CAST(-500000 + sum(cnt * (f % 2003 - 1001)) AS BIGINT)
         |           AS lfr,
         |         CAST(0 + sum(cnt * (f % 1993 - 996)) AS BIGINT) AS lde
         |       FROM fc GROUP BY doc_id)
         |SELECT doc_id,
         |  CASE WHEN lde >= len_ AND lde >= lfr THEN 'de'
         |       WHEN len_ >= lfr THEN 'en' ELSE 'fr' END AS lang,
         |  greatest(lde, len_, lfr) AS logit_micro
         |FROM lg
         |${orderBySql("doc_id", "lang", "logit_micro")}""".stripMargin,

    "tx17_classifier_score" ->
      s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
         |           FROM $docsPq
         |           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |nums AS (SELECT unnest(generate_series(1, 4000)) AS i),
         |ng AS (SELECT doc_id, unnest(w) AS g FROM d
         |       UNION ALL
         |       SELECT doc_id, w[i] || ' ' || w[i+1] AS g
         |       FROM d JOIN nums ON i <= len(w) - 1),
         |fc AS (SELECT doc_id,
         |         ('0x' || substr(md5(g), 1, 8))::BIGINT % 65536 AS f,
         |         count(*) AS cnt
         |       FROM ng GROUP BY 1, 2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |  CAST(12345 + sum(cnt * (f % 2001 - 1000)) AS BIGINT)
         |    AS logit_micro
         |FROM fc GROUP BY doc_id
         |${orderBySql("doc_id", "n_feats", "logit_micro")}""".stripMargin,

    // the distributed GD trainer replayed by UNROLLING its three
    // iterations: the shared feature table (tx17's fc), the label rule,
    // then per iteration the exact integer per-doc logit, the micro-
    // rounded logistic residual, the integer gradient sums, and the
    // HALF_UP fixed-point update — iteration 1 is exp-free (zero
    // weights), 2 and 3 exercise the sigmoid at the shared micro fixed
    // point. DuckDB round() on doubles is half-away-from-zero ==
    // BigDecimal HALF_UP; integer "/" is float division in DuckDB, the
    // same IEEE expression the engine computes from the same integers
    "tx22_classifier_train_gd" ->
      s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
         |           FROM $docsPq
         |           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |nums AS (SELECT unnest(generate_series(1, 4000)) AS i),
         |ng AS (SELECT doc_id, unnest(w) AS g FROM d
         |       UNION ALL
         |       SELECT doc_id, w[i] || ' ' || w[i+1] AS g
         |       FROM d JOIN nums ON i <= len(w) - 1),
         |fc AS (SELECT doc_id,
         |         ('0x' || substr(md5(g), 1, 8))::BIGINT % 65536 AS f,
         |         CAST(count(*) AS BIGINT) AS cnt
         |       FROM ng GROUP BY 1, 2),
         |lab AS (SELECT doc_id,
         |          CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y FROM d),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lab),
         |g1 AS (SELECT doc_id,
         |         CAST(500000 - 1000000 * y AS BIGINT) AS gm FROM lab),
         |s1 AS (SELECT f, CAST(sum(gm * cnt) AS BIGINT) AS s
         |       FROM fc JOIN g1 USING (doc_id) GROUP BY f),
         |w1 AS (SELECT f, -CAST(round(0.5 * (s / n)) AS BIGINT) AS w
         |       FROM s1, nn),
         |b1 AS (SELECT -CAST(round(0.5 * (sum(gm) / n)) AS BIGINT) AS b
         |       FROM g1, nn GROUP BY n),
         |z2 AS (SELECT fc.doc_id,
         |         CAST(b1.b + sum(fc.cnt * coalesce(w1.w, 0)) AS BIGINT)
         |           AS z
         |       FROM fc LEFT JOIN w1 USING (f), b1
         |       GROUP BY fc.doc_id, b1.b),
         |g2 AS (SELECT doc_id,
         |         CAST(round((1.0 / (1.0 + exp(-(z / 1000000.0))) - y)
         |           * 1000000) AS BIGINT) AS gm
         |       FROM z2 JOIN lab USING (doc_id)),
         |s2 AS (SELECT f, CAST(sum(gm * cnt) AS BIGINT) AS s
         |       FROM fc JOIN g2 USING (doc_id) GROUP BY f),
         |w2 AS (SELECT f,
         |         coalesce(w1.w, 0) - CAST(round(0.5 * (s2.s / n))
         |           AS BIGINT) AS w
         |       FROM s2 LEFT JOIN w1 USING (f), nn),
         |b2 AS (SELECT b1.b - CAST(round(0.5 * (sum(gm) / n)) AS BIGINT)
         |         AS b
         |       FROM g2, nn, b1 GROUP BY n, b1.b),
         |z3 AS (SELECT fc.doc_id,
         |         CAST(b2.b + sum(fc.cnt * coalesce(w2.w, 0)) AS BIGINT)
         |           AS z
         |       FROM fc LEFT JOIN w2 USING (f), b2
         |       GROUP BY fc.doc_id, b2.b),
         |g3 AS (SELECT doc_id,
         |         CAST(round((1.0 / (1.0 + exp(-(z / 1000000.0))) - y)
         |           * 1000000) AS BIGINT) AS gm
         |       FROM z3 JOIN lab USING (doc_id)),
         |s3 AS (SELECT f, CAST(sum(gm * cnt) AS BIGINT) AS s
         |       FROM fc JOIN g3 USING (doc_id) GROUP BY f),
         |w3 AS (SELECT f,
         |         coalesce(w2.w, 0) - CAST(round(0.5 * (s3.s / n))
         |           AS BIGINT) AS w
         |       FROM s3 LEFT JOIN w2 USING (f), nn),
         |b3 AS (SELECT b2.b - CAST(round(0.5 * (sum(gm) / n)) AS BIGINT)
         |         AS b
         |       FROM g3, nn, b2 GROUP BY n, b2.b),
         |res AS (SELECT CAST(-1 AS BIGINT) AS feature, b AS w_micro
         |        FROM b3
         |        UNION ALL
         |        SELECT f AS feature, w AS w_micro FROM w3 WHERE w <> 0)
         |SELECT feature, w_micro FROM res
         |${orderBySql("feature", "w_micro")}""".stripMargin,

    // the K-class softmax GD trainer unrolled (tx22's scheme at K = 3):
    // iteration 1 is exp-free (softmax of zeros = 1/3 exactly, the same
    // IEEE double both engines compute), iteration 2 pivots the three
    // classes to columns so the max-shift and the denominator replay as
    // explicit expressions in the engine's ascending class order
    "tx23_classifier_train_multi_gd" ->
      s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
         |           FROM $docsPq
         |           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |nums AS (SELECT unnest(generate_series(1, 4000)) AS i),
         |ng AS (SELECT doc_id, unnest(w) AS g FROM d
         |       UNION ALL
         |       SELECT doc_id, w[i] || ' ' || w[i+1] AS g
         |       FROM d JOIN nums ON i <= len(w) - 1),
         |fc AS (SELECT doc_id,
         |         ('0x' || substr(md5(g), 1, 8))::BIGINT % 65536 AS f,
         |         CAST(count(*) AS BIGINT) AS cnt
         |       FROM ng GROUP BY 1, 2),
         |lab AS (SELECT doc_id,
         |          CASE WHEN doc_id % 3 = 0 THEN 'en'
         |               WHEN doc_id % 3 = 1 THEN 'de'
         |               ELSE 'es' END AS lang FROM d),
         |cl AS (SELECT unnest(['de', 'en', 'es']) AS lab),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lab),
         |g1 AS (SELECT doc_id, lab,
         |         CAST(round((1.0 / 3.0 -
         |           CASE WHEN lang = lab THEN 1.0 ELSE 0.0 END)
         |           * 1000000) AS BIGINT) AS gm
         |       FROM lab CROSS JOIN cl),
         |s1 AS (SELECT lab, f, CAST(sum(gm * cnt) AS BIGINT) AS s
         |       FROM fc JOIN g1 USING (doc_id) GROUP BY lab, f),
         |w1 AS (SELECT lab, f, -CAST(round(0.5 * (s / n)) AS BIGINT) AS w
         |       FROM s1, nn),
         |b1 AS (SELECT lab, -CAST(round(0.5 * (sum(gm) / n)) AS BIGINT)
         |         AS b
         |       FROM g1, nn GROUP BY lab, n),
         |z2 AS (SELECT fc.doc_id, w1.lab,
         |         CAST(sum(fc.cnt * w1.w) AS BIGINT) AS dot
         |       FROM fc JOIN w1 USING (f) GROUP BY 1, 2),
         |zb2 AS (SELECT z2.doc_id, z2.lab, z2.dot + b1.b AS z
         |        FROM z2 JOIN b1 USING (lab)),
         |zp AS (SELECT doc_id,
         |         max(CASE WHEN lab = 'de' THEN z END) AS zde,
         |         max(CASE WHEN lab = 'en' THEN z END) AS zen,
         |         max(CASE WHEN lab = 'es' THEN z END) AS zes
         |       FROM zb2 GROUP BY doc_id),
         |sm AS (SELECT doc_id, zde, zen, zes,
         |         greatest(zde, zen, zes) AS mx FROM zp),
         |den AS (SELECT doc_id, zde, zen, zes,
         |          exp((zde - mx) / 1000000.0) AS ede,
         |          exp((zen - mx) / 1000000.0) AS een,
         |          exp((zes - mx) / 1000000.0) AS ees FROM sm),
         |g2 AS (SELECT den.doc_id, cl.lab,
         |         CAST(round((CASE cl.lab WHEN 'de' THEN ede
         |             WHEN 'en' THEN een ELSE ees END
         |           / (ede + een + ees)
         |           - CASE WHEN lang = cl.lab THEN 1.0 ELSE 0.0 END)
         |           * 1000000) AS BIGINT) AS gm
         |       FROM den JOIN lab USING (doc_id) CROSS JOIN cl),
         |s2 AS (SELECT lab, f, CAST(sum(gm * cnt) AS BIGINT) AS s
         |       FROM fc JOIN g2 USING (doc_id) GROUP BY lab, f),
         |w2 AS (SELECT lab, f,
         |         coalesce(w1.w, 0) - CAST(round(0.5 * (s2.s / n))
         |           AS BIGINT) AS w
         |       FROM s2 LEFT JOIN w1 USING (lab, f), nn),
         |b2 AS (SELECT g2.lab,
         |         b1.b - CAST(round(0.5 * (sum(gm) / n)) AS BIGINT) AS b
         |       FROM g2 JOIN b1 USING (lab), nn GROUP BY g2.lab, b1.b, n),
         |res AS (SELECT lab AS label, CAST(-1 AS BIGINT) AS feature,
         |          b AS w_micro
         |        FROM b2
         |        UNION ALL
         |        SELECT lab AS label, f AS feature, w AS w_micro
         |        FROM w2 WHERE w <> 0)
         |SELECT label, feature, w_micro FROM res
         |${orderBySql("label", "feature", "w_micro")}""".stripMargin,

    // domain aggregate: docs, filtered token counts, exact-dup count
    // (count minus distinct texts ≡ the engine's distinct content
    // hashes), summed fixed-point quality (the tx2 inner computation)
    "tx16_domain_stats" ->
      s"""WITH ${messyUrlCtes(Some("src0-site.co.uk"))},
         |pd AS (SELECT domain, text,
         |    CAST(len(list_filter(string_split(lower(text), ' '),
         |      t -> t <> '')) AS BIGINT) AS n_tok,
         |    CAST(round((least(CAST(len(string_split(lower(text), ' '))
         |          AS DOUBLE) / 100.0, 1.0) * 0.5
         |      + (CAST(len(list_filter(string_split(lower(text), ' '),
         |           t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
         |         / CAST(len(string_split(lower(text), ' ')) AS DOUBLE)) * 0.3
         |      + (CASE WHEN length(text) = 0 THEN 0.0
         |          ELSE CAST(length(regexp_replace(lower(text),
         |            '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) END)
         |        * 0.2) * 1000000) AS BIGINT) AS q_micro
         |  FROM dom)
         |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_dups,
         |  CAST(sum(q_micro) AS BIGINT) AS quality_micro_sum
         |FROM pd GROUP BY domain
         |${orderBySql("domain", "n_docs", "n_tokens", "n_dups",
              "quality_micro_sum")}""".stripMargin,

    // the wide paths replayed in HUGEINT (int128) — independent of both
    // the engine's decimal(38,0) arithmetic and the narrow BIGINT oracle
    "tx12_bm25_wide" ->
      s"""WITH b AS (
         |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |           t -> t <> '') AS tk
         |  FROM $docsPq WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |b2 AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS dl
         |       FROM b WHERE len(tk) >= 1),
         |st AS (SELECT CAST(sum(dl) AS BIGINT) AS s,
         |              CAST(count(*) AS BIGINT) AS n FROM b2),
         |qt AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, dl, unnest(tk) AS term FROM b2)
         |       WHERE term IN ('spark', 'merge', 'window') GROUP BY 1, 2, 3),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM qt GROUP BY 1),
         |ct AS (SELECT doc_id,
         |         (CAST(round(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
         |            * 1000000) AS HUGEINT) * 22 * tf * st.s)
         |         // (CAST(10 AS HUGEINT) * tf * st.s + 3 * st.s
         |            + 9 * dl * st.n) AS contrib
         |       FROM qt JOIN df USING (term), st)
         |SELECT doc_id, score_micro FROM (
         |  SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_micro
         |  FROM ct GROUP BY doc_id
         |  ORDER BY score_micro DESC, doc_id LIMIT 25)
         |${orderBySql("doc_id", "score_micro")}""".stripMargin,

    "tx13_tfidf_wide" ->
      s"""WITH b AS (
         |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |           t -> t <> '') AS tk
         |  FROM $docsPq WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |b2 AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS dl
         |       FROM b WHERE len(tk) >= 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b2),
         |dt AS (SELECT doc_id, dl, unnest(tk) AS term FROM b2),
         |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM dt GROUP BY 1, 2, 3),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT doc_id, term, tf,
         |         CAST((CAST(tf AS HUGEINT)
         |            * CAST(round(ln((nn.n + 1) * 1.0 / (df + 1)) * 1000000)
         |              AS HUGEINT)) // dl AS BIGINT) AS tfidf_micro
         |       FROM tf JOIN df USING (term), nn),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY tfidf_micro DESC, term) AS rk FROM sc)
         |SELECT doc_id, term, tf, tfidf_micro, CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= 3
         |${orderBySql("doc_id", "term", "tf", "tfidf_micro", "rk")}""".stripMargin,

    // batch BM25: the same shared-df/tf machinery, per-query regroup +
    // window rank — one corpus pass for all three queries
    "tx14_bm25_batch" ->
      s"""WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
         |  FROM (VALUES (1, 'spark'), (1, 'merge'), (1, 'window'),
         |               (2, 'data'), (2, 'shuffle'), (3, 'window'))
         |    AS v(query_id, term)),
         |b AS (
         |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |           t -> t <> '') AS tk
         |  FROM $docsPq WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |b2 AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS dl
         |       FROM b WHERE len(tk) >= 1),
         |st AS (SELECT CAST(sum(dl) AS BIGINT) AS s,
         |              CAST(count(*) AS BIGINT) AS n FROM b2),
         |qt AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, dl, unnest(tk) AS term FROM b2)
         |       WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2, 3),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM qt GROUP BY 1),
         |ct AS (SELECT doc_id, term,
         |         (CAST(round(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
         |            * 1000000) AS BIGINT) * 22 * tf * st.s)
         |         // (10 * tf * st.s + 3 * st.s + 9 * dl * st.n) AS contrib
         |       FROM qt JOIN df USING (term), st),
         |sc AS (SELECT q.query_id, doc_id,
         |         CAST(sum(contrib) AS BIGINT) AS score_micro
         |       FROM ct JOIN q USING (term) GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY score_micro DESC, doc_id) AS rk FROM sc)
         |SELECT query_id, doc_id, score_micro FROM r WHERE rk <= 10
         |${orderBySql("query_id", "doc_id", "score_micro")}""".stripMargin,

    // BM25 with k1 = 1.2, b = 0.75 cleared to integers (×10S): contrib =
    // (idf_micro · 22·tf·S) // (10·tf·S + 3·S + 9·dl·N) — exact rational,
    // integer sum, top-25 inside the subquery before the canonical sort
    "tx11_bm25" ->
      s"""WITH b AS (
         |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |           t -> t <> '') AS tk
         |  FROM $docsPq WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |b2 AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS dl
         |       FROM b WHERE len(tk) >= 1),
         |st AS (SELECT CAST(sum(dl) AS BIGINT) AS s,
         |              CAST(count(*) AS BIGINT) AS n FROM b2),
         |qt AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, dl, unnest(tk) AS term FROM b2)
         |       WHERE term IN ('spark', 'merge', 'window') GROUP BY 1, 2, 3),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM qt GROUP BY 1),
         |ct AS (SELECT doc_id,
         |         (CAST(round(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
         |            * 1000000) AS BIGINT) * 22 * tf * st.s)
         |         // (10 * tf * st.s + 3 * st.s + 9 * dl * st.n) AS contrib
         |       FROM qt JOIN df USING (term), st)
         |SELECT doc_id, score_micro FROM (
         |  SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_micro
         |  FROM ct GROUP BY doc_id
         |  ORDER BY score_micro DESC, doc_id LIMIT 25)
         |${orderBySql("doc_id", "score_micro")}""".stripMargin,

    // every training iteration replayed: pair counts → deterministic
    // argmax → one merge pass (see bpeCtes)
    "sp1_sp_unigram_train" ->
      s"""WITH $spTrainCtes
         |SELECT piece, cnt FROM (
         |  SELECT piece, cnt FROM fin
         |  UNION ALL
         |  SELECT s.piece, greatest(1, coalesce(v.cnt, 1)) AS cnt
         |  FROM sing s LEFT JOIN v2 v USING (piece)
         |  WHERE s.piece NOT IN (SELECT piece FROM fin))
         |${orderBySql("piece", "cnt")}""".stripMargin,

    // THE WHOLE PIPELINE REPLAYED: every stage's existing oracle CTE
    // composed through the previous stage's output text — span excision
    // (d9) -> line chunk + line dedup on md5-low-60 keys (d16) ->
    // normalize (tx7/d14) -> gopher (d18) + repetition (d11) + bigram
    // perplexity (tx18) + classifier floor (d19) + trained langid (d20)
    // + decontamination (d17) + semantic floor (d15) + quality floor and
    // exact dedup (d7) -> mix quota (sm4) -> shuffle shards (sh1) ->
    // context chunks (ck1)
    "d21_full_pipeline" ->
      s"""WITH RECURSIVE
         |t0 AS MATERIALIZED (SELECT doc_id, source, text FROM $docsPq
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |    AND source <> 'src0'),
         |-- span excision (d9): 5-token windows in >= 2 distinct docs
         |sat AS (SELECT doc_id, string_split(text, ' ') AS tok FROM t0),
         |saw AS (SELECT doc_id, p, array_to_string(tok[p : p + 4], ' ') AS ws
         |        FROM sat, UNNEST(range(1, greatest(len(tok) - 4, 0) + 1)) AS u(p)),
         |sag AS (SELECT ws, doc_id, list(p) AS ps FROM saw GROUP BY 1, 2),
         |sad AS (SELECT ws FROM sag GROUP BY ws HAVING count(*) >= 2),
         |sas AS (SELECT doc_id, flatten(list(ps)) AS starts
         |        FROM sag JOIN sad USING (ws) GROUP BY 1),
         |sac AS (SELECT doc_id,
         |          flatten(list_transform(starts, x -> range(x, x + 5))) AS cov
         |        FROM sas),
         |sak AS MATERIALIZED (SELECT sat.doc_id,
         |        coalesce(array_to_string(
         |          [tok[i] FOR i IN range(1, len(tok) + 1)
         |           IF cov IS NULL OR NOT list_contains(cov, i)], ' '),
         |          '') AS text
         |      FROM sat LEFT JOIN sac USING (doc_id)),
         |-- line chunk + line dedup on md5-low-60 keys (d16)
         |lbt AS (SELECT doc_id, string_split(
         |          regexp_replace(text, '$LineChunkRe', '\\1' || chr(10), 'g'),
         |          chr(10)) AS ln FROM sak),
         |lbw AS (SELECT doc_id, p,
         |          ('0x' || substr(md5(ln[p]), 1, 15))::BIGINT AS ls
         |        FROM lbt, UNNEST(range(1, len(ln) + 1)) AS u(p)),
         |lbd AS (SELECT ls FROM lbw GROUP BY ls
         |        HAVING count(DISTINCT doc_id) >= 2),
         |lbk AS (SELECT doc_id, list(p ORDER BY p) AS kp
         |        FROM lbw WHERE ls NOT IN (SELECT ls FROM lbd) GROUP BY 1),
         |lbo AS MATERIALIZED (SELECT lbt.doc_id,
         |        coalesce(array_to_string([ln[i] FOR i IN kp], chr(10)), '')
         |          AS text
         |      FROM lbt LEFT JOIN lbk USING (doc_id)),
         |-- normalize (the engine's exact regex constants)
         |nx AS MATERIALIZED (SELECT doc_id,
         |        trim(regexp_replace(regexp_replace(text,
         |          '${Quality.CtrlRe}', '', 'g'),
         |          '${Quality.WsRe}', ' ', 'g')) AS text
         |      FROM lbo),
         |nums AS (SELECT unnest(generate_series(1, 4000)) AS i),
         |-- reference models trained on the normalized corpus (tx18)
         |m AS MATERIALIZED (SELECT token, count(*) AS cnt
         |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM nx)
         |  GROUP BY token ORDER BY cnt DESC, token LIMIT 16),
         |stx AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n,
         |               CAST(count(*) AS DOUBLE) AS v FROM m),
         |bix AS MATERIALIZED (SELECT w1, w2, cnt, w1_cnt FROM (
         |    SELECT p.w1, p.w2, count(*) AS cnt
         |    FROM (SELECT w[i] AS w1, w[i + 1] AS w2
         |          FROM (SELECT string_split(lower(text), ' ') AS w FROM nx) tw,
         |            UNNEST(range(1, len(w))) AS u(i)) p
         |    GROUP BY 1, 2) c
         |  JOIN (SELECT token AS w1, cnt AS w1_cnt FROM m) mm USING (w1)
         |  ORDER BY cnt DESC, w1, w2 LIMIT 64),
         |-- gopher rules at the published defaults (d18)
         |ggs AS (SELECT doc_id, text AS t, string_split(lower(text), ' ') AS gw,
         |         string_split(text, chr(10)) AS gl FROM nx),
         |ggm AS (SELECT doc_id,
         |  CAST(len(gw) AS BIGINT) AS n_words,
         |  round((length(t) - len(gw) + 1.0) / len(gw), 6) AS mwl,
         |  round((length(t) - length(replace(t, '#', ''))
         |         + (length(t) - length(replace(t, '...', ''))) // 3) * 1.0
         |        / len(gw), 6) AS sym,
         |  round(len(list_filter(gl, l -> starts_with(l, '- ')
         |          OR starts_with(l, '* '))) * 1.0 / len(gl), 6) AS bf,
         |  round(len(list_filter(gl, l -> ends_with(l, '...'))) * 1.0
         |        / len(gl), 6) AS ef,
         |  round(len(list_filter(gw, x -> regexp_matches(x, '[a-z]'))) * 1.0
         |        / len(gw), 6) AS awf,
         |  CAST(len(list_filter(gw, x -> x IN ('the','be','to','of','and',
         |    'that','have','with'))) AS BIGINT) AS sh
         | FROM ggs),
         |gdrop AS (SELECT doc_id FROM ggm WHERE NOT (
         |  n_words >= 50 AND n_words <= 100000
         |  AND mwl >= 3.0 AND mwl <= 10.0 AND sym <= 0.1
         |  AND bf <= 0.9 AND ef <= 0.3 AND awf >= 0.8 AND sh >= 2)),
         |-- within-doc repetition floor (d11; raw-case tokens)
         |rrw AS (SELECT doc_id, string_split(text, ' ') AS w FROM nx),
         |rtok AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS nt,
         |         CAST(len(list_distinct(w)) AS DOUBLE) AS ndt FROM rrw),
         |rbgc AS (SELECT doc_id, b, count(*) AS c FROM (
         |          SELECT doc_id, w[i] || ' ' || w[i+1] AS b
         |          FROM rrw JOIN nums ON i <= len(w) - 1) GROUP BY 1, 2),
         |ragg AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS nb,
         |         CAST(max(c) AS DOUBLE) AS mx FROM rbgc GROUP BY 1),
         |rdrop AS (SELECT doc_id FROM rtok LEFT JOIN ragg USING (doc_id)
         |          WHERE round((nt - ndt) / nt, 6) > 0.6
         |             OR round(coalesce(mx / nb, 0.0), 6) > 0.1),
         |-- bigram stupid-backoff perplexity floor (tx18)
         |ptk AS (SELECT doc_id, i, w[i] AS cur,
         |          CASE WHEN i = 1 THEN NULL ELSE w[i - 1] END AS prev
         |        FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
         |              FROM nx) dw,
         |          UNNEST(range(1, len(w) + 1)) AS u(i)),
         |plp AS (SELECT doc_id,
         |          CASE
         |            WHEN prev IS NULL THEN
         |              CAST(round(ln((coalesce(m.cnt, 0) + 1.0) / (n + v + 1.0))
         |                * 1000000) AS BIGINT)
         |            WHEN bix.cnt IS NOT NULL THEN
         |              CAST(round(ln(CAST(bix.cnt AS DOUBLE) /
         |                CAST(bix.w1_cnt AS DOUBLE)) * 1000000) AS BIGINT)
         |            ELSE
         |              CAST(round(ln(0.4 * ((coalesce(m.cnt, 0) + 1.0) /
         |                (n + v + 1.0))) * 1000000) AS BIGINT)
         |          END AS lp6
         |        FROM ptk
         |        LEFT JOIN m ON ptk.cur = m.token
         |        LEFT JOIN bix ON ptk.prev = bix.w1 AND ptk.cur = bix.w2
         |        CROSS JOIN stx),
         |pg AS (SELECT doc_id, count(*) AS n_tokens, sum(lp6) AS s6
         |       FROM plp GROUP BY 1),
         |pq AS (SELECT doc_id,
         |         (-s6 * 2 + n_tokens) // (2 * n_tokens) AS m6 FROM pg),
         |pdrop AS (SELECT doc_id FROM pq
         |          WHERE round(exp(m6 / 1000000.0), 6) > 2000.0),
         |-- classifier floor (d19's hashed features + formula weights)
         |cw0 AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM nx),
         |cng AS (SELECT doc_id, unnest(w) AS g FROM cw0
         |        UNION ALL
         |        SELECT doc_id, w[i] || ' ' || w[i+1] AS g
         |        FROM cw0 JOIN nums ON i <= len(w) - 1),
         |cfc AS (SELECT doc_id,
         |          ('0x' || substr(md5(g), 1, 8))::BIGINT % 65536 AS f,
         |          count(*) AS cnt
         |        FROM cng GROUP BY 1, 2),
         |clg AS (SELECT doc_id,
         |          12345 + sum(cnt * (f % 2001 - 1000)) AS lg
         |        FROM cfc GROUP BY 1),
         |cdrop AS (SELECT doc_id FROM clg WHERE lg < 12000),
         |-- trained language id (d20's replay, equal intercepts)
         |llg AS (SELECT doc_id,
         |          CAST(sum(cnt * (f % 1999 - 999)) AS BIGINT) AS len_,
         |          CAST(sum(cnt * (f % 2003 - 1001)) AS BIGINT) AS lfr,
         |          CAST(sum(cnt * (f % 1993 - 996)) AS BIGINT) AS lde
         |        FROM cfc GROUP BY doc_id),
         |lpl AS (SELECT doc_id,
         |          CASE WHEN lde >= len_ AND lde >= lfr THEN 'de'
         |               WHEN len_ >= lfr THEN 'en' ELSE 'fr' END AS lang
         |        FROM llg),
         |-- benchmark decontamination (d17: corpus shingles vs src0)
         |ksh AS (SELECT DISTINCT doc_id,
         |          array_to_string(w[i : i + 4], ' ') AS sgl
         |        FROM cw0 JOIN nums ON i <= len(w) - 4),
         |bsh AS (SELECT DISTINCT array_to_string(w[i : i + 4], ' ') AS sgl
         |        FROM (SELECT string_split(lower(text), ' ') AS w FROM $docsPq
         |              WHERE source = 'src0' AND text IS NOT NULL) bw
         |        JOIN nums ON i <= len(w) - 4),
         |kcnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh
         |         FROM ksh GROUP BY 1),
         |khit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nc
         |         FROM ksh JOIN bsh USING (sgl) GROUP BY 1),
         |ddrop AS (SELECT doc_id FROM kcnt LEFT JOIN khit USING (doc_id)
         |          WHERE round(coalesce(nc, 0) * 1.0 / nsh, 6) > 0.05),
         |-- semantic floor (d15: within-cell cosine >= 0.35 components)
         |ec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM $embsPq),
         |ecent AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS ev
         |          FROM $embsPq WHERE vec_id < 8),
         |easg AS (SELECT vec_id, cell FROM (
         |           SELECT ec.vec_id, ecent.cell,
         |             row_number() OVER (PARTITION BY ec.vec_id ORDER BY
         |               list_inner_product(e, ev)
         |                 / (sqrt(list_inner_product(e, e)) * sqrt(list_inner_product(ev, ev)))
         |               DESC, ecent.cell) AS rn
         |           FROM ec, ecent) WHERE rn = 1),
         |esp AS (SELECT a.vec_id AS i, b.vec_id AS j
         |        FROM ec a JOIN easg aa ON a.vec_id = aa.vec_id
         |        JOIN easg bb ON aa.cell = bb.cell
         |        JOIN ec b ON b.vec_id = bb.vec_id
         |        WHERE a.vec_id < b.vec_id
         |          AND list_inner_product(a.e, b.e)
         |            / (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))) >= 0.35),
         |eedges AS (SELECT i, j FROM esp UNION SELECT j, i FROM esp),
         |enodes AS (SELECT DISTINCT i AS id FROM eedges),
         |ereach(id, r) AS (
         |  SELECT id, id FROM enodes
         |  UNION
         |  SELECT e.i, ereach.r FROM eedges e JOIN ereach ON e.j = ereach.id),
         |ecomp AS (SELECT id, min(r) AS component FROM ereach GROUP BY id),
         |sdrop AS (SELECT id AS doc_id FROM ecomp WHERE id <> component),
         |-- quality floor + every gate + exact dedup (d7's tail)
         |fq AS (SELECT doc_id, text,
         |  round(least(CAST(len(string_split(lower(text), ' ')) AS DOUBLE)
         |          / 100.0, 1.0) * 0.5
         |    + (CAST(len(list_filter(string_split(lower(text), ' '),
         |         t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
         |       / CAST(len(string_split(lower(text), ' ')) AS DOUBLE)) * 0.3
         |    + (CASE WHEN length(text) = 0 THEN 0.0
         |        ELSE CAST(length(regexp_replace(lower(text),
         |          '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) END)
         |      * 0.2, 6) AS q
         |  FROM nx),
         |surv AS MATERIALIZED (
         |  SELECT min(f.doc_id) AS rep_id, f.text
         |  FROM fq f JOIN lpl USING (doc_id)
         |  WHERE f.q >= 0.5 AND lpl.lang = 'en'
         |    AND f.doc_id NOT IN (SELECT doc_id FROM gdrop)
         |    AND f.doc_id NOT IN (SELECT doc_id FROM rdrop)
         |    AND f.doc_id NOT IN (SELECT doc_id FROM pdrop)
         |    AND f.doc_id NOT IN (SELECT doc_id FROM cdrop)
         |    AND f.doc_id NOT IN (SELECT doc_id FROM ddrop)
         |    AND f.doc_id NOT IN (SELECT doc_id FROM sdrop)
         |  GROUP BY f.text),
         |-- mix quota (sm4: md5 rank per source, round(60/19) = 3 each)
         |sv AS (SELECT rep_id, surv.text, t0.source
         |       FROM surv JOIN t0 ON rep_id = t0.doc_id),
         |qr AS (SELECT rep_id, text, source,
         |         CAST(row_number() OVER (PARTITION BY source
         |           ORDER BY md5(CAST(rep_id AS VARCHAR)), rep_id) AS BIGINT)
         |           AS rk
         |       FROM sv),
         |qk AS (SELECT * FROM qr WHERE rk <= 3),
         |-- epoch shuffle shards (sh1, 4 shards, salt 'ep1')
         |shd AS (SELECT rep_id, text, source, rk,
         |          ('0x' || substr(md5(CAST(rep_id AS VARCHAR) || 'ep1'), 1, 8))::BIGINT % 4
         |            AS shard,
         |          CAST(row_number() OVER (
         |            PARTITION BY ('0x' || substr(md5(CAST(rep_id AS VARCHAR) || 'ep1'), 1, 8))::BIGINT % 4
         |            ORDER BY md5(CAST(rep_id AS VARCHAR) || 'ep1'), rep_id)
         |            AS BIGINT) AS pos
         |        FROM qk),
         |-- context chunks (ck1: 32 tokens, 8 overlap, stride 24)
         |cht AS (SELECT rep_id, source, rk, shard, pos,
         |          string_split(text, ' ') AS tk, len(string_split(text, ' ')) AS n,
         |          unnest(generate_series(1, greatest(1, len(string_split(text, ' ')) - 8), 24)) AS cs
         |        FROM shd)
         |SELECT rep_id AS doc_id, source, rk, shard, pos,
         |  CAST((cs - 1) // 24 AS BIGINT) AS chunk_id,
         |  CAST(least(32, n - cs + 1) AS BIGINT) AS n_tokens,
         |  md5(array_to_string(tk[cs : cs + 31], ' ')) AS chunk_fp
         |FROM cht
         |${orderBySql("doc_id", "source", "rk", "shard", "pos", "chunk_id",
             "n_tokens", "chunk_fp")}""".stripMargin,

    // seed exactly as sp1 (wt -> wtc -> seed -> sing -> ts -> v0), ONE
    // soft iteration (alpha/beta lattice, ordered log-sum-exp, rounded
    // posteriors), then the same prune + singles floor
    "sp3_sp_unigram_soft" ->
      s"""WITH wt AS MATERIALIZED (SELECT w, count(*) AS freq FROM (
         |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM $docsPq
         |    WHERE doc_id IS NOT NULL AND text IS NOT NULL)
         |  WHERE w <> '' GROUP BY w),
         |wtc AS MATERIALIZED (SELECT w, freq FROM wt WHERE len(w) <= 8),
         |poss AS (SELECT unnest(generate_series(1, 8)) AS i),
         |lns AS (SELECT unnest(generate_series(1, 3)) AS l),
         |seed AS MATERIALIZED (SELECT substr(w, i, l) AS piece,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM wtc, poss, lns WHERE i + l - 1 <= len(w) GROUP BY 1),
         |sing AS MATERIALIZED (SELECT DISTINCT substr(w, i, 1) AS piece
         |  FROM wtc, poss WHERE i <= len(w)),
         |ts AS MATERIALIZED (SELECT piece, cnt FROM seed ORDER BY cnt DESC, piece
         |  LIMIT 200),
         |v0 AS MATERIALIZED (SELECT piece, cnt FROM ts
         |  UNION ALL
         |  SELECT s.piece, greatest(1, coalesce(seed.cnt, 1)) AS cnt
         |  FROM sing s LEFT JOIN seed ON s.piece = seed.piece
         |  WHERE s.piece NOT IN (SELECT piece FROM ts)),
         |$spSoftIter,
         |sfin AS MATERIALIZED (SELECT piece, cnt FROM sv1
         |  ORDER BY cnt DESC, piece LIMIT 120)
         |SELECT piece, cnt FROM (
         |  SELECT piece, cnt FROM sfin
         |  UNION ALL
         |  SELECT s.piece, greatest(1, coalesce(v.cnt, 1)) AS cnt
         |  FROM sing s LEFT JOIN sv1 v USING (piece)
         |  WHERE s.piece NOT IN (SELECT piece FROM sfin))
         |${orderBySql("piece", "cnt")}""".stripMargin,

    // encode under sp1's trained model: per-word Viterbi (identical
    // integer micro-nat scores + greater-path tie rule) replayed by the
    // unrolled DP; per-doc piece count + md5 of the piece stream. Every
    // corpus word is segmentable (singles are coverage-floored into the
    // model), so the <unk> arm stays a unit-spec concern
    "sp2_sp_unigram_encode" ->
      s"""WITH $spTrainCtes,
         |$spEncodeCtes,
         |enums AS (SELECT unnest(generate_series(1, 4000)) AS i),
         |dws AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
         |        FROM $docsPq WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |dw AS (SELECT doc_id, ws[i] AS w, i AS ord
         |       FROM dws JOIN enums ON i <= len(ws) WHERE ws[i] <> ''),
         |ence AS (SELECT doc_id,
         |           CAST(sum(len(string_split(path, chr(1)))) AS BIGINT)
         |             AS n_pieces,
         |           md5(string_agg(replace(path, chr(1), ' '), ' '
         |             ORDER BY ord)) AS fp
         |         FROM dw JOIN sege USING (w) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_pieces, 0) AS n_pieces,
         |  coalesce(fp, md5('')) AS fp
         |FROM (SELECT doc_id FROM $docsPq
         |      WHERE doc_id IS NOT NULL AND text IS NOT NULL) d
         |LEFT JOIN ence USING (doc_id)
         |${orderBySql("doc_id", "n_pieces", "fp")}""".stripMargin,

    "bp1_bpe_train" ->
      s"""WITH ${bpeCtes(6)}
         |SELECT * FROM (
         |${(1 to 6).map(i =>
             s"""  SELECT CAST($i AS INT) AS rank, l AS "left", r AS "right",
                |    CAST(cnt AS BIGINT) AS cnt FROM m$i""".stripMargin)
             .mkString("\n  UNION ALL\n")}
         |)
         |${orderBySql("\"rank\"", "\"left\"", "\"right\"", "cnt")}""".stripMargin,

    // same unrolled ground truth as bp1 — the kernel tier must reproduce
    // the sequential fold bit for bit
    "bp3_bpe_train_kernel" ->
      s"""WITH ${bpeCtes(6)}
         |SELECT * FROM (
         |${(1 to 6).map(i =>
             s"""  SELECT CAST($i AS INT) AS rank, l AS "left", r AS "right",
                |    CAST(cnt AS BIGINT) AS cnt FROM m$i""".stripMargin)
             .mkString("\n  UNION ALL\n")}
         |)
         |${orderBySql("\"rank\"", "\"left\"", "\"right\"", "cnt")}""".stripMargin,

    // encode ≡ final training state: per-doc token count + fingerprint
    // from the merged word-type table, word order preserved by the
    // position join; token-less docs keep a (0, md5('')) row — the
    // engine's every-input-document contract
    // chunk starts by generate_series with the stride; slice + rejoin —
    // the engine's exact expression tree
    "ck1_chunk_docs" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
         |           FROM $docsPq
         |           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |st AS (SELECT doc_id, tk, len(tk) AS n,
         |         unnest(generate_series(1, greatest(1, len(tk) - 8), 24)) AS s
         |       FROM t)
         |SELECT doc_id, CAST((s - 1) // 24 AS BIGINT) AS chunk_id,
         |  CAST(least(32, n - s + 1) AS BIGINT) AS n_tokens,
         |  array_to_string(tk[s : s + 31], ' ') AS chunk_text
         |FROM st
         |${orderBySql("doc_id", "chunk_id", "n_tokens", "chunk_text")}""".stripMargin,

    "bp2_bpe_encode" ->
      s"""WITH ${bpeCtes(6)},
         |dws AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
         |        FROM $docsPq WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |dw AS (SELECT doc_id, ws[i] AS w, i AS ord
         |       FROM dws JOIN nums ON i <= len(ws) WHERE ws[i] <> ''),
         |enc AS (SELECT doc_id, CAST(sum(len(w6.syms)) AS BIGINT) AS n_bpe_tokens,
         |          md5(string_agg(array_to_string(w6.syms, ' '), ' ' ORDER BY ord)) AS fp
         |        FROM dw JOIN w6 USING (w) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_bpe_tokens, 0) AS n_bpe_tokens,
         |  coalesce(fp, md5('')) AS fp
         |FROM (SELECT doc_id FROM $docsPq
         |      WHERE doc_id IS NOT NULL AND text IS NOT NULL) d
         |LEFT JOIN enc USING (doc_id)
         |${orderBySql("doc_id", "n_bpe_tokens", "fp")}""".stripMargin
  )
}
