package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StringType
import scala.collection.mutable

/** SQL façade (SURVEY §7.1 item 9 / §7.3 stretch): register the
  * scale-factor tables as temp views AND expose the typed operator kernels
  * to `spark.sql(...)` so a SQL-only user can run them:
  *
  *   - `graft_sessionize_t('view', 'orderCol', gapUs[, bucketSize[,
  *     'grp1,grp2']])` — a TABLE function (registered in the session's
  *     TableFunctionRegistry):
  *     `SELECT * FROM graft_sessionize_t('events_v', 'ts', 86400000000)`
  *     returns the view's rows plus `session_id`, running the same
  *     distributed plan as the typed [[graft.operators.Sessionize]] — use
  *     this for large keyless tables; with `bucketSize` set the plan has no
  *     single-partition sort at any size; the optional group-column CSV
  *     sessionizes per key (bucketSize 0 = unbucketed);
  *   - `graft_sessionize(sort_array(collect_list(us)), gapUs)` → per-element
  *     session ids for an ascending epoch-micros array (the G1 gap rule);
  *     pair back with `arrays_zip` + `inline`. GROUP-SIZE CONTRACT: the
  *     array materializes one group on one row — meant for small per-key
  *     groups (per-frame candidate sets, per-user event lists), not for a
  *     keyless million-row table (use `graft_sessionize_t` there);
  *   - `graft_assign(collect_list(struct(l, r, cost)))` → matched
  *     `array<struct<l,r,cost>>` per group under optimal min-cost
  *     assignment (J3; infeasible = +Infinity cost, like the Scala API);
  *     explode with `inline`. Same group-size contract — assignment groups
  *     are per-frame (≤ #detections × #identities rows, single digits in
  *     the reference), and the J3 solve is inherently per-group;
  *   - `graft_assign_t('view', 'grp1,grp2', 'l', 'r', 'cost')` — TABLE
  *     function form of the same operator: groups distributed across the
  *     cluster, no caller-side `collect_list`/`GROUP BY` assembly;
  *   - `graft_asof_t('leftV', 'rightV', 'time', 'by1,by2',
  *     'backward|forward|nearest'[, tolUs[, bucketUs]])` — pandas
  *     `merge_asof` (J2/J11) from pure SQL, distributed;
  *   - `graft_band_t('leftV', 'rightV', 'lt', 'rt', 'by1,by2', loUs,
  *     hiUs)` — the bucketed tolerance band join (J1; a raw SQL BETWEEN
  *     join plans as a nested loop, this shape shuffles on time buckets);
  *   - `graft_neardup_t('docsV', 'id', 'text'[, n, hashes, bands, minJ])`
  *     — the full near-dup dedup pipeline (MinHash+LSH → exact verify →
  *     star components → survivors) from pure SQL: filter `id = rep_id`
  *     for the deduplicated corpus;
  *   - `graft_topk_t('queriesV', 'corpusV', 'id', 'vec', k)` — exact
  *     cosine top-k similarity search over an embedding column;
  *   - `graft_ivf_topk_t('queriesV', 'corpusV', 'id', 'vec', k, nlist,
  *     nprobe[, seed[, salt]])` — IVF approximate top-k: seeded k-means
  *     centroids trained on the corpus at plan build, then the
  *     nprobe-cell scored join (distributed query side — the scale path
  *     when the query set outgrows graft_topk_t's broadcast cap);
  *   - `graft_ffill_t('view', 'orderCol', 'cols'[, bucketSize[, 'grps']])`
  *     — pandas ffill (W3); bucketSize > 0 = the bucketed keyless form
  *     with no single-partition sort;
  *   - `graft_fights_t('poseView'[, 'partsCsv'[, 'idA,idB'[, fps[,
  *     'blobView']]]])` and `graft_tube_tests_t('poseView'[, 'partsCsv'[,
  *     'idA,idB'[, fps[, 'cx,cy,innerR,outerR']]]])` — the full batch
  *     behavior detectors as table functions: a SQL-only user runs the
  *     flagship pipelines end-to-end
  *     (`SELECT * FROM graft_fights_t('pose_v', '', 'A,B')`);
  *   - `graft_combine_t('poseV', 'idsV'[, fps[, maxDistance[,
  *     'anchorPart']]])` — the combine kernel (tick grid, band-join
  *     anchoring, per-tick optimal assignment, gated writeback) from
  *     pure SQL;
  *   - `graft_ingest_dedup_t('landingDir', 'workDir'[, n, hashes, bands,
  *     minJ])` — ingest-time near-dup dedup from pure SQL: polls every
  *     document file new to `workDir`'s checkpoint against the
  *     disk-resident corpus state ([[graft.streaming.DedupStream]]) and
  *     returns the accumulated (doc_id, rep_id) assignment table;
  *   - `graft_ingest_sem_repair_t('workDir', 'indexDir', semMinCos[,
  *     retain])` — offline semantic-bridge repair + index prune
  *   - `graft_ingest_repair_t('workDir'[, minJaccard[, maxBandBucket]])`
  *     — the offline cross-batch bridge-merge repair over a
  *     `graft_ingest_dedup_t` state dir (run with the poller stopped);
  *     returns the repaired assignment table;
  *   - `graft_ivf_save_t('corpusV', 'id', 'vec', 'dir', nlist[, seed])` /
  *     `graft_ivf_topk_indexed_t('queriesV', 'dir', 'id', 'vec', k,
  *     nprobe[, salt])` — train-once/serve-many IVF: save writes the
  *     cell-partitioned index (and returns its centroids); the indexed
  *     top-k serves query batches against the directory, scanning only
  *     the probed cells' partitions;
  *   - `graft_ingest_pipeline_t('landing', 'work', 'index'[, minJ[,
  *     spanTokens[, maxDupFrac[, maxDupWordFrac[, maxTopBigramFrac[,
  *     'benchView'[, maxContamFrac[, contamN]]]]]]]])` —
  *     the composed dedup→index ingest poll: dedup each landed
  *     (doc_id, text, embedding) delivery against the full corpus state,
  *     then index only the new cluster representatives' embeddings; the
  *     optional tail switches on the landing-time floors — span
  *     duplication, Gopher repetition, and benchmark decontamination
  *     against a broadcast bench view;
  *   - `graft_ivf_append_t('newV', 'id', 'vec', 'dir'[, compact])` —
  *     incremental index growth: new vectors assigned against the stored
  *     centroids land as a `_COMMIT`-gated delta (no retrain); `compact =
  *     true` folds base + deltas into one new version afterwards;
  *   - `graft_ivf_stats_t('dir')` — per-cell occupancy of the serving
  *     corpus (base + deltas): the drift/hot-cell diagnostic;
  *   - `graft_pq_stats_t('dir')` — per-storage-unit encode-time
  *     quantization error of a PQ index (base + each delta): the
  *     CODEBOOK-drift diagnostic; `graft_pq_refresh_t('corpusV', 'id',
  *     'vec', 'dir'[, pqK[, retain]])` — the remedy: retrain codebooks
  *     on the full-precision corpus view, re-encode into a new version
  *     (stored coarse centroids kept), returns the fresh stats;
  *   - `graft_spandup_t('docsV', 'id', 'text', spanTokens[, minDocs])` —
  *     per-document duplicate-text-fraction stats (the Lee-et-al
  *     span-duplication signal, [[graft.llm.Dedup.spanDupStats]]) and
  *     `graft_span_remove_t('docsV', 'id', 'text', spanTokens[,
  *     minDocs])` — the exact-substring excision rewrite
  *     ([[graft.llm.Dedup.removeDupSpans]]): the span-level cleaning
  *     pair from pure SQL;
  *   - `graft_ingest_spandup_t('landingDir', 'workDir'[, spanTokens[,
  *     minDocs]])` — span-duplication scoring at ingest: polls every
  *     newly-landed document file against the accumulated window state
  *     ([[graft.streaming.SpanDupStream]]) and returns the accumulated
  *     per-document stats table (each row scored as of its landing);
  *     `graft_span_rescore_t('landingDir', 'workDir'[, spanTokens[,
  *     minDocs]])` — the offline repair: re-scores every stored doc
  *     against the final corpus and commits the corrected snapshot
  *     (run with the poller stopped); returns the repaired stats;
  *   - `graft_ivf_save_q_t(...)` / `graft_ivf_topk_q_t(...)` /
  *     `graft_ivf_topk_qr_t(...)` — the SQ8 quantized tier (~4× smaller
  *     stored vectors, recall-floor contract) from SQL, including the
  *     refined serve (quantized proposes, exact re-scoring against a
  *     refine view decides);
  *   - `graft_ivf_save_pq_t(...)` / `graft_ivf_topk_pq_t(...)` /
  *     `graft_ivf_topk_pqr_t(...)` — the product-quantized tier (m
  *     one-byte codes per vector, ADC scoring — the deepest-compression
  *     serving mode) with the same refined-serve contract; the optional
  *     `residual` / `perCell` / `rotationView` tail arguments select the
  *     FAISS-style residual encoding, the per-cell (local) codebook
  *     layout, and the OPQ rotated space (`graft_opq_train_t` trains
  *     the rotation);
  *     `graft_ivf_append_t` grows quantized AND product-quantized
  *     indexes too (the append follows the flavor in the index's
  *     version manifest);
  *   - `graft_repetition_t('docsV', 'id', 'text')` — Gopher-style
  *     repetition fractions (duplicate-word / duplicate-bigram /
  *     top-bigram) per document;
  *   - `graft_pii_scrub_t('docsV', 'id', 'text')` — PII redaction
  *     (email → IPv4 → phone) with per-category hit counts;
  *   - `graft_sample_t('docsV', 'id', pct)` /
  *     `graft_quota_t('docsV', 'strataCsv', 'id', k)` — deterministic
  *     content-addressed sampling: shuffle-free ~pct% filter, and
  *     exactly-k-per-stratum ranked by md5(id);
  *   - `graft_pack_t('docsV', 'id', 'text', 'strataCol', budget[,
  *     shards])` — greedy sequence packing into token-budget bins;
  *   - `graft_contamination_t('corpusV', 'benchV', 'id', 'text'[, n])` —
  *     benchmark decontamination signal (distinct n-shingle overlap,
  *     bench side broadcast);
  *   - `graft_shuffle_t('docsV', 'id', numShards[, 'salt'])` —
  *     deterministic content-addressed training-order shuffle;
  *   - `graft_dhash_pairs_t('mediaV', maxDist[, bands[, 'idCol',
  *     'payloadCol']])` / `graft_dhash_clusters_t(...)` — perceptual
  *     (dHash) near-dup pairs / clusters over an opaque binary payload
  *     column;
  *   - `graft_frame_dup_t('mediaV', frameBytes, everyN, maxDist[,
  *     minFrames[, bands]])` / `graft_frame_clusters_t(...)` —
  *     near-duplicate video pairs / clusters by shared perceptual
  *     frames;
  *   - `graft_semdedup_t('vecsV', 'centsV', minCos[, 'idCol',
  *     'vecCol'])` / `graft_semdedup_pairs_t(...)` — SemDeDup-style
  *     cluster-scoped semantic dedup (survivors / within-cell pairs;
  *     the centroids view carries (cell, _cv));
  *   - `graft_mix_sample_t('docsV', 'strataCol', 'idCol', 'ratesV'[,
  *     defaultPct])` — per-stratum rate mix (rates view: (stratum,
  *     pct), domain-scale, read at plan build);
  *   - `graft_mix_quota_t('docsV', 'strataCol', 'idCol', 'weightsV',
  *     total)` — exact weighted mix (weights view: (stratum, weight));
  *   - `graft_normalize_t('docsV', 'idCol', 'textCol'[, lower])` —
  *     text canonicalization (control-strip, whitespace collapse,
  *     trim, optional lowercase);
  *   - `graft_line_dedup_t('docsV', 'id', 'text'[, minDocs[, 'sep']])` —
  *     CCNet-style line-level dedup: drop lines appearing in ≥ minDocs
  *     distinct documents, rebuild the text;
  *   - `graft_lm_t('refV', 'textCol', vocab)` /
  *     `graft_lm_score_t('docsV', 'id', 'text', 'modelV')` — unigram-LM
  *     training (top-vocab token counts) and per-document perplexity
  *     scoring against a (token, cnt) model view;
  *   - `graft_lm_ratio_t('docsV', 'id', 'text', 'targetV', 'sourceV')` —
  *     DSIR-style importance log-ratios between two model views;
  *   - `graft_gopher_t('docsV', 'id', 'text'[, minWords])` — the
  *     Gopher/MassiveText per-document quality rules (word count, mean
  *     word length, symbol/bullet/ellipsis ratios, alpha-word fraction,
  *     stop-word floor) with a pass flag;
  *   - `graft_tfidf_t('docsV', 'id', 'text', k)` — top-k TF-IDF terms per
  *     document (integer micro-unit scores);
  *   - `graft_bm25_t('docsV', 'id', 'text', 'term1,term2,…', k)` — BM25
  *     top-k retrieval for a keyword query;
  *   - `graft_bm25_batch_t('docsV', 'id', 'text', 'queriesV', 'qidCol',
  *     'termsCol', k)` — a whole query batch in one corpus pass;
  *   - `graft_classifier_train_t('labeledV', 'id', 'text', 'label',
  *     dim[, bigrams[, iters]])` / `graft_classifier_score_t('docsV',
  *     'id', 'text', 'weightsV', dim[, bigrams])` — the fastText-shaped
  *     quality classifier: driver-kernel training on a bounded labeled
  *     sample, exact integer logits per document at corpus scale;
  *   - `graft_classifier_train_gd_t('labeledV', 'id', 'text', 'label',
  *     dim[, bigrams[, iters[, lr[, l2]]]])` /
  *     `graft_classifier_train_multi_gd_t(...)` — the DISTRIBUTED
  *     integer-fixed-point GD trainers, binary and K-class softmax (no
  *     labeled-sample bound; the hash-gateable corpus-scale training
  *     path);
  *   - `graft_kmeans_t('vectorsV', 'vecCol', 'seedsV', iters)` — the
  *     deterministic integer-fixed-point Lloyd k-means trainer
  *     (explicit seeds; (cell, j, c_micro, n) out);
  *   - `graft_bpe_train_t('docsV', 'id', 'text', numMerges)` /
  *     `graft_bpe_encode_t('docsV', 'id', 'text', 'mergesV')` — BPE
  *     tokenizer training (the merge table) and subword encoding
  *     (per-doc token count + token-stream fingerprint);
  *   - `graft_chunk_t('docsV', 'id', 'text', maxTokens[, overlap])` —
  *     context-length chunking with sliding-window overlap.
  *
  * The §2.8 scalar surface (string/date/math/array/map/JSON) is Spark SQL
  * built-ins and needs no registration. DataFrame-valued operators
  * (as-of/band joins, detectors) interleave with SQL via
  * `df.createOrReplaceTempView`.
  */
object GraftSql {
  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def register(spark: SparkSession, dir: String): Unit = {
    tableNames.foreach { t =>
      try Tables.table(spark, dir, t).createOrReplaceTempView(t)
      catch { case _: Throwable => () } // tolerate absent tables
    }
    registerFunctions(spark)
  }

  /** Register the SQL-callable operator kernels (idempotent). */
  def registerFunctions(spark: SparkSession): Unit = {
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_sessionize_t"),
      new ExpressionInfo("graft.GraftSql", "graft_sessionize_t"),
      (args: Seq[Expression]) => sessionizeTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_assign_t"),
      new ExpressionInfo("graft.GraftSql", "graft_assign_t"),
      (args: Seq[Expression]) => assignTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_asof_t"),
      new ExpressionInfo("graft.GraftSql", "graft_asof_t"),
      (args: Seq[Expression]) => asofTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_band_t"),
      new ExpressionInfo("graft.GraftSql", "graft_band_t"),
      (args: Seq[Expression]) => bandTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_winnow_pairs_t"),
      new ExpressionInfo("graft.GraftSql", "graft_winnow_pairs_t"),
      (args: Seq[Expression]) => winnowPairsTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_neardup_t"),
      new ExpressionInfo("graft.GraftSql", "graft_neardup_t"),
      (args: Seq[Expression]) => neardupTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_topk_t"),
      new ExpressionInfo("graft.GraftSql", "graft_topk_t"),
      (args: Seq[Expression]) => topkTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_combine_t"),
      new ExpressionInfo("graft.GraftSql", "graft_combine_t"),
      (args: Seq[Expression]) => combineTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ivf_topk_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ivf_topk_t"),
      (args: Seq[Expression]) => ivfTopkTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ingest_dedup_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ingest_dedup_t"),
      (args: Seq[Expression]) => ingestDedupTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_spandup_t"),
      new ExpressionInfo("graft.GraftSql", "graft_spandup_t"),
      (args: Seq[Expression]) => spanDupTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_span_remove_t"),
      new ExpressionInfo("graft.GraftSql", "graft_span_remove_t"),
      (args: Seq[Expression]) => spanRemoveTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ingest_spandup_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ingest_spandup_t"),
      (args: Seq[Expression]) => ingestSpanDupTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_repetition_t"),
      new ExpressionInfo("graft.GraftSql", "graft_repetition_t"),
      (args: Seq[Expression]) => repetitionTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_line_dedup_t"),
      new ExpressionInfo("graft.GraftSql", "graft_line_dedup_t"),
      (args: Seq[Expression]) => lineDedupTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_lm_t"),
      new ExpressionInfo("graft.GraftSql", "graft_lm_t"),
      (args: Seq[Expression]) => lmTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_lm_score_t"),
      new ExpressionInfo("graft.GraftSql", "graft_lm_score_t"),
      (args: Seq[Expression]) => lmScoreTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_bigram_lm_t"),
      new ExpressionInfo("graft.GraftSql", "graft_bigram_lm_t"),
      (args: Seq[Expression]) => bigramLmTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ngram_score_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ngram_score_t"),
      (args: Seq[Expression]) => ngramScoreTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_trigram_lm_t"),
      new ExpressionInfo("graft.GraftSql", "graft_trigram_lm_t"),
      (args: Seq[Expression]) => trigramLmTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_trigram_score_t"),
      new ExpressionInfo("graft.GraftSql", "graft_trigram_score_t"),
      (args: Seq[Expression]) => trigramScoreTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_kn_score_t"),
      new ExpressionInfo("graft.GraftSql", "graft_kn_score_t"),
      (args: Seq[Expression]) => knScoreTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_lm_ratio_t"),
      new ExpressionInfo("graft.GraftSql", "graft_lm_ratio_t"),
      (args: Seq[Expression]) => lmRatioTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_gopher_t"),
      new ExpressionInfo("graft.GraftSql", "graft_gopher_t"),
      (args: Seq[Expression]) => gopherTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_pii_scrub_t"),
      new ExpressionInfo("graft.GraftSql", "graft_pii_scrub_t"),
      (args: Seq[Expression]) => piiScrubTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_sample_t"),
      new ExpressionInfo("graft.GraftSql", "graft_sample_t"),
      (args: Seq[Expression]) => sampleTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_quota_t"),
      new ExpressionInfo("graft.GraftSql", "graft_quota_t"),
      (args: Seq[Expression]) => quotaTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_pack_t"),
      new ExpressionInfo("graft.GraftSql", "graft_pack_t"),
      (args: Seq[Expression]) => packTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_contamination_t"),
      new ExpressionInfo("graft.GraftSql", "graft_contamination_t"),
      (args: Seq[Expression]) => contaminationTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_shuffle_t"),
      new ExpressionInfo("graft.GraftSql", "graft_shuffle_t"),
      (args: Seq[Expression]) => shuffleTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_span_rescore_t"),
      new ExpressionInfo("graft.GraftSql", "graft_span_rescore_t"),
      (args: Seq[Expression]) => spanRescoreTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ingest_repair_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ingest_repair_t"),
      (args: Seq[Expression]) => ingestRepairTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ingest_sem_repair_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ingest_sem_repair_t"),
      (args: Seq[Expression]) => ingestSemRepairTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ingest_pipeline_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ingest_pipeline_t"),
      (args: Seq[Expression]) => ingestPipelineTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ivf_save_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ivf_save_t"),
      (args: Seq[Expression]) => ivfSaveTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ivf_topk_indexed_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ivf_topk_indexed_t"),
      (args: Seq[Expression]) => ivfTopkIndexedTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ivf_append_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ivf_append_t"),
      (args: Seq[Expression]) => ivfAppendTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ivf_stats_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ivf_stats_t"),
      (args: Seq[Expression]) => ivfStatsTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_pq_stats_t"),
      new ExpressionInfo("graft.GraftSql", "graft_pq_stats_t"),
      (args: Seq[Expression]) => pqStatsTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_pq_refresh_t"),
      new ExpressionInfo("graft.GraftSql", "graft_pq_refresh_t"),
      (args: Seq[Expression]) => pqRefreshTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ivf_save_q_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ivf_save_q_t"),
      (args: Seq[Expression]) => ivfSaveQTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ivf_topk_q_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ivf_topk_q_t"),
      (args: Seq[Expression]) => ivfTopkQTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ivf_topk_qr_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ivf_topk_qr_t"),
      (args: Seq[Expression]) => ivfTopkQrTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ivf_save_pq_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ivf_save_pq_t"),
      (args: Seq[Expression]) => ivfSavePqTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ivf_topk_pq_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ivf_topk_pq_t"),
      (args: Seq[Expression]) => ivfTopkPqTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ivf_topk_pqr_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ivf_topk_pqr_t"),
      (args: Seq[Expression]) => ivfTopkPqrTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_dhash_pairs_t"),
      new ExpressionInfo("graft.GraftSql", "graft_dhash_pairs_t"),
      (args: Seq[Expression]) => dhashPairsTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_dhash_clusters_t"),
      new ExpressionInfo("graft.GraftSql", "graft_dhash_clusters_t"),
      (args: Seq[Expression]) => dhashClustersTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_frame_dup_t"),
      new ExpressionInfo("graft.GraftSql", "graft_frame_dup_t"),
      (args: Seq[Expression]) => frameDupTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_frame_clusters_t"),
      new ExpressionInfo("graft.GraftSql", "graft_frame_clusters_t"),
      (args: Seq[Expression]) => frameClustersTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_semdedup_t"),
      new ExpressionInfo("graft.GraftSql", "graft_semdedup_t"),
      (args: Seq[Expression]) => semDedupTablePlan(args, pairs = false))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_semdedup_pairs_t"),
      new ExpressionInfo("graft.GraftSql", "graft_semdedup_pairs_t"),
      (args: Seq[Expression]) => semDedupTablePlan(args, pairs = true))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_mix_sample_t"),
      new ExpressionInfo("graft.GraftSql", "graft_mix_sample_t"),
      (args: Seq[Expression]) => mixSampleTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_mix_quota_t"),
      new ExpressionInfo("graft.GraftSql", "graft_mix_quota_t"),
      (args: Seq[Expression]) => mixQuotaTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_temperature_quota_t"),
      new ExpressionInfo("graft.GraftSql", "graft_temperature_quota_t"),
      (args: Seq[Expression]) => temperatureQuotaTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ppl_buckets_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ppl_buckets_t"),
      (args: Seq[Expression]) => pplBucketsTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_normalize_t"),
      new ExpressionInfo("graft.GraftSql", "graft_normalize_t"),
      (args: Seq[Expression]) => normalizeTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_chunk_t"),
      new ExpressionInfo("graft.GraftSql", "graft_chunk_t"),
      (args: Seq[Expression]) => chunkTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_tfidf_t"),
      new ExpressionInfo("graft.GraftSql", "graft_tfidf_t"),
      (args: Seq[Expression]) => tfidfTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_bm25_t"),
      new ExpressionInfo("graft.GraftSql", "graft_bm25_t"),
      (args: Seq[Expression]) => bm25TablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_bm25_batch_t"),
      new ExpressionInfo("graft.GraftSql", "graft_bm25_batch_t"),
      (args: Seq[Expression]) => bm25BatchTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_classifier_train_t"),
      new ExpressionInfo("graft.GraftSql", "graft_classifier_train_t"),
      (args: Seq[Expression]) => classifierTrainTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_sp_unigram_train_t"),
      new ExpressionInfo("graft.GraftSql", "graft_sp_unigram_train_t"),
      (args: Seq[Expression]) => spUnigramTrainTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_classifier_train_gd_t"),
      new ExpressionInfo("graft.GraftSql", "graft_classifier_train_gd_t"),
      (args: Seq[Expression]) => classifierTrainGdTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_classifier_train_multi_t"),
      new ExpressionInfo("graft.GraftSql", "graft_classifier_train_multi_t"),
      (args: Seq[Expression]) => classifierTrainMultiTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_classifier_train_multi_gd_t"),
      new ExpressionInfo("graft.GraftSql", "graft_classifier_train_multi_gd_t"),
      (args: Seq[Expression]) => classifierTrainMultiGdTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_langid_t"),
      new ExpressionInfo("graft.GraftSql", "graft_langid_t"),
      (args: Seq[Expression]) => langidTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_classifier_score_t"),
      new ExpressionInfo("graft.GraftSql", "graft_classifier_score_t"),
      (args: Seq[Expression]) => classifierScoreTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_kmeans_t"),
      new ExpressionInfo("graft.GraftSql", "graft_kmeans_t"),
      (args: Seq[Expression]) => kmeansTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_opq_train_t"),
      new ExpressionInfo("graft.GraftSql", "graft_opq_train_t"),
      (args: Seq[Expression]) => opqTrainTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_bpe_train_t"),
      new ExpressionInfo("graft.GraftSql", "graft_bpe_train_t"),
      (args: Seq[Expression]) => bpeTrainTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_bpe_encode_t"),
      new ExpressionInfo("graft.GraftSql", "graft_bpe_encode_t"),
      (args: Seq[Expression]) => bpeEncodeTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_sp_encode_t"),
      new ExpressionInfo("graft.GraftSql", "graft_sp_encode_t"),
      (args: Seq[Expression]) => spEncodeTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ffill_t"),
      new ExpressionInfo("graft.GraftSql", "graft_ffill_t"),
      (args: Seq[Expression]) => ffillTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_fights_t"),
      new ExpressionInfo("graft.GraftSql", "graft_fights_t"),
      (args: Seq[Expression]) => fightsTablePlan(args))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_tube_tests_t"),
      new ExpressionInfo("graft.GraftSql", "graft_tube_tests_t"),
      (args: Seq[Expression]) => tubeTablePlan(args))
    spark.udf.register("graft_sessionize",
      (times: Seq[Long], gapUs: Long) => {
        var sid = 0L
        var prev = Long.MinValue
        times.map { t =>
          if (prev != Long.MinValue && t - prev > gapUs) sid += 1
          prev = t
          sid
        }
      })
    spark.udf.register("graft_assign",
      (pairs: Seq[(java.lang.Long, String, java.lang.Double)]) => {
        // boxed field types: a NULL l/r/cost decodes as null (a primitive
        // tuple would crash the decoder with AssertNotNull) and is dropped
        // as infeasible — the same null filter Assignment.assign applies
        // same deterministic ordering discipline as Assignment.assign —
        // including its STRING ordering of keys, so equal-cost tie-breaks
        // agree between the SQL facade and the Scala API
        val rows = pairs.iterator
          .filter(p => p != null && p._1 != null && p._2 != null && p._3 != null)
          .map(p => (p._1.longValue, p._2, p._3.doubleValue))
          .toArray
          .sortBy { case (l, r, c) => (String.valueOf(l), r, c) }
        val lefts = mutable.LinkedHashMap.empty[Long, Int]
        val rights = mutable.LinkedHashMap.empty[String, Int]
        rows.foreach { case (l, r, _) =>
          if (!lefts.contains(l)) lefts(l) = lefts.size
          if (!rights.contains(r)) rights(r) = rights.size
        }
        val cost = Array.fill(lefts.size, rights.size)(Double.PositiveInfinity)
        rows.foreach { case (l, r, c) =>
          val i = lefts(l); val j = rights(r)
          if (c < cost(i)(j)) cost(i)(j) = c
        }
        val m = graft.operators.Assignment.solve(cost)
        val lKeys = lefts.keys.toArray
        val rKeys = rights.keys.toArray
        m.zipWithIndex.collect { case (j, i) if j >= 0 =>
          (lKeys(i), rKeys(j), cost(i)(j))
        }.toSeq
      })
  }

  /** Build the `graft_sessionize_t` table-function plan: resolve the named
    * view in the ACTIVE session and wrap it in the distributed Sessionize
    * plan — no per-group array ever materializes, so the function scales to
    * keyless tables of any size (pass `bucketSize` to also avoid the single
    * global sort; see [[graft.operators.Sessionize.sessionize]]). An
    * optional 5th argument gives per-key sessionization from SQL:
    * `graft_sessionize_t('v', 'ts', gap, 0, 'user_id')` (bucketSize 0 =
    * unbucketed; group keys already distribute the sort). */
  private def sessionizeTablePlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 3 && args.length <= 5,
      "usage: graft_sessionize_t('view', 'orderCol', gapUs[, bucketSize[, 'grp1,grp2']])")
    def str(e: Expression, what: String): String =
      strLit(e, "graft_sessionize_t", what)
    def lng(e: Expression, what: String): Long = e match {
      case l: Literal if l.value != null && (l.dataType == org.apache.spark.sql.types.LongType ||
          l.dataType == org.apache.spark.sql.types.IntegerType ||
          l.dataType == org.apache.spark.sql.types.ShortType) =>
        l.value.asInstanceOf[Number].longValue()
      case other => throw new IllegalArgumentException(
        s"graft_sessionize_t: $what must be an integer literal, got $other")
    }
    val view = str(args(0), "view name")
    val orderCol = str(args(1), "order column")
    val gap = lng(args(2), "gap")
    val bucket = (if (args.length >= 4) Some(lng(args(3), "bucketSize")) else None)
      .filter(_ > 0)
    val by = (if (args.length == 5) str(args(4), "group columns") else "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = SparkSession.active
    graft.operators.Sessionize
      .sessionize(spark.table(view), orderCol, by, gap, bucketSize = bucket)
      .queryExecution.logical
  }

  private def strLit(e: Expression, fn: String, what: String): String = e match {
    case Literal(v, StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be a string literal, got $other")
  }

  private def lngLit(e: Expression, fn: String, what: String): Long = e match {
    case l: Literal if l.value != null && (l.dataType == org.apache.spark.sql.types.LongType ||
        l.dataType == org.apache.spark.sql.types.IntegerType ||
        l.dataType == org.apache.spark.sql.types.ShortType) =>
      l.value.asInstanceOf[Number].longValue()
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be an integer literal, got $other")
  }

  private def boolLit(e: Expression, fn: String, what: String): Boolean = e match {
    case Literal(v: Boolean, org.apache.spark.sql.types.BooleanType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be a boolean literal, got $other")
  }

  private def dblLit(e: Expression, fn: String, what: String): Double = e match {
    case l: Literal if l.value != null => l.dataType match {
      case _: org.apache.spark.sql.types.NumericType =>
        l.value.toString.toDouble
      case _ => throw new IllegalArgumentException(
        s"$fn: $what must be a numeric literal, got $e")
    }
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be a numeric literal, got $other")
  }

  /** Parse `'nose=nose,head=head,centroid=spine2,tail_base=spine4'`;
    * '' = identity mapping over the 4 logical skeleton parts. */
  private def partsMap(csv: String, fn: String): Map[String, String] = {
    val logical = Seq("nose", "head", "centroid", "tail_base")
    if (csv.trim.isEmpty) logical.map(p => p -> p).toMap
    else {
      val m = csv.split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
        kv.split("=").map(_.trim) match {
          case Array(k, v) => k -> v
          case _ => throw new IllegalArgumentException(
            s"$fn: parts mapping entry '$kv' is not logical=physical")
        }
      }.toMap
      require(logical.forall(m.contains),
        s"$fn: parts mapping must cover ${logical.mkString(", ")}")
      m
    }
  }

  private def idsOpt(csv: String): Option[Seq[String]] = {
    val ids = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (ids.isEmpty) None else Some(ids)
  }

  /** Build the `graft_asof_t` table-function plan:
    * `graft_asof_t('leftView', 'rightView', 'timeCol', 'by1,by2',
    * 'backward|forward|nearest'[, tolUs[, bucketUs]])` — pandas
    * `merge_asof` from pure SQL, running the distributed
    * [[graft.operators.AsOfJoin.asofJoin]] (J2/J11). `''` by-columns =
    * keyless; tolUs 0 = unbounded; bucketUs > 0 opts into the bucketed
    * keyless form (no single-partition sort at any size). */
  private def asofTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_asof_t"
    require(args.length >= 5 && args.length <= 7,
      s"usage: $fn('leftView', 'rightView', 'timeCol', 'by1,by2', " +
        "'backward|forward|nearest'[, tolUs[, bucketUs]])")
    val lv = strLit(args(0), fn, "left view")
    val rv = strLit(args(1), fn, "right view")
    val timeCol = strLit(args(2), fn, "time column")
    val by = strLit(args(3), fn, "by columns")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    import graft.operators.AsOfJoin
    val dir = strLit(args(4), fn, "direction")
      .toLowerCase(java.util.Locale.ROOT) match {
      case "backward" => AsOfJoin.Backward
      case "forward" => AsOfJoin.Forward
      case "nearest" => AsOfJoin.Nearest
      case other => throw new IllegalArgumentException(
        s"$fn: direction must be backward|forward|nearest, got '$other'")
    }
    val tol = (if (args.length >= 6) Some(lngLit(args(5), fn, "tolUs")) else None)
      .filter(_ > 0)
    val bucket = (if (args.length >= 7) Some(lngLit(args(6), fn, "bucketUs")) else None)
      .filter(_ > 0)
    val spark = SparkSession.active
    AsOfJoin.asofJoin(spark.table(lv), spark.table(rv), timeCol, by, dir,
        tolerance = tol, bucketUs = bucket)
      .queryExecution.logical
  }

  /** Build the `graft_band_t` table-function plan:
    * `graft_band_t('leftV', 'rightV', 'leftTime', 'rightTime', 'by1,by2',
    * lowerUs, upperUs)` — the bucketed tolerance band join (J1) from pure
    * SQL. A naive SQL `JOIN ON r.t BETWEEN l.t+lo AND l.t+hi` plans as a
    * nested-loop join; this runs the equi-bucketed
    * [[graft.operators.BandJoin.bandJoin]] shape that survives scale. */
  private def bandTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_band_t"
    require(args.length == 7,
      s"usage: $fn('leftView', 'rightView', 'leftTime', 'rightTime', 'by1,by2', lowerUs, upperUs)")
    val lv = strLit(args(0), fn, "left view")
    val rv = strLit(args(1), fn, "right view")
    val lt = strLit(args(2), fn, "left time column")
    val rt = strLit(args(3), fn, "right time column")
    val by = strLit(args(4), fn, "by columns")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val lo = lngLit(args(5), fn, "lowerUs")
    val hi = lngLit(args(6), fn, "upperUs")
    val spark = SparkSession.active
    graft.operators.BandJoin
      .bandJoin(spark.table(lv), spark.table(rv), lt, rt, by, lo, hi)
      .queryExecution.logical
  }

  /** Build the `graft_neardup_t` table-function plan:
    * `graft_neardup_t('docsView', 'idCol', 'textCol'[, n[, numHashes[,
    * bands[, minJaccard]]]])` — the FULL near-duplicate pipeline from pure
    * SQL: MinHash+LSH banding → exact Jaccard verification →
    * star-contraction connected components → survivor selection. Returns
    * the view's rows plus `rep_id`;
    * `... WHERE idCol = rep_id` is the deduplicated corpus. Defaults:
    * 3-gram shingles, 64 hashes, 16 bands, minJaccard 0.7.
    *
    * EAGER at analysis: connected components is an iterative algorithm, so
    * the clustering RUNS when the statement is analyzed (even under
    * EXPLAIN), once per statement referencing the function. On large
    * corpora, materialize the result once
    * (`CREATE TABLE deduped AS SELECT * FROM graft_neardup_t(...)`) and
    * query the table. Runs the collapsed-representative scale path
    * ([[graft.llm.Dedup.minhashRepresentatives]]): exact duplicates never
    * expand into pairs, and no cache entry outlives the statement. */
  private def neardupTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_neardup_t"
    require(args.length >= 3 && args.length <= 7,
      s"usage: $fn('docsView', 'idCol', 'textCol'[, n[, numHashes[, bands[, minJaccard]]]])")
    val view = strLit(args(0), fn, "docs view")
    val idCol = strLit(args(1), fn, "id column")
    val textCol = strLit(args(2), fn, "text column")
    val n = if (args.length >= 4) lngLit(args(3), fn, "n").toInt else 3
    val numHashes = if (args.length >= 5) lngLit(args(4), fn, "numHashes").toInt else 64
    val bands = if (args.length >= 6) lngLit(args(5), fn, "bands").toInt else 16
    val minJ = if (args.length == 7) dblLit(args(6), fn, "minJaccard") else 0.7
    val spark = SparkSession.active
    val docs = spark.table(view)
    graft.llm.Dedup.minhashRepresentatives(
        docs, idCol, textCol, n, numHashes, bands, minJ)
      .queryExecution.logical
  }

  /** Build the `graft_topk_t` table-function plan:
    * `graft_topk_t('queriesView', 'corpusView', 'idCol', 'vecCol', k)` —
    * exact brute-force cosine top-k over an embedding column from pure SQL
    * (broadcast query side, per-partition heap pre-reduce; the capped
    * broadcast contract of [[graft.llm.Similarity.cosineTopK]] applies). */
  private def topkTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_topk_t"
    require(args.length == 5,
      s"usage: $fn('queriesView', 'corpusView', 'idCol', 'vecCol', k)")
    val qv = strLit(args(0), fn, "queries view")
    val cv = strLit(args(1), fn, "corpus view")
    val idCol = strLit(args(2), fn, "id column")
    val vecCol = strLit(args(3), fn, "vector column")
    val k = lngLit(args(4), fn, "k").toInt
    val spark = SparkSession.active
    graft.llm.Similarity.cosineTopK(
        spark.table(qv), spark.table(cv), idCol, vecCol, k)
      .queryExecution.logical
  }

  /** Build the `graft_combine_t` table-function plan:
    * `graft_combine_t('poseView', 'idsView'[, fps[, maxDistance[,
    * 'anchorPart']]])` — the full combine kernel
    * ([[graft.combine.Combine.combineChunk]]: tick grid, band-join
    * anchoring, per-tick optimal assignment, feasibility-gated writeback)
    * from pure SQL. `poseView` carries (time, pose_id, part, x, y);
    * `idsView` carries (time, identity, identity_likelihood, x_top,
    * y_top). Output = pose columns + (identity, identity_likelihood) for
    * matched pose instances. */
  private def combineTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_combine_t"
    require(args.length >= 2 && args.length <= 5,
      s"usage: $fn('poseView', 'idsView'[, fps[, maxDistance[, 'anchorPart']]])")
    val pv = strLit(args(0), fn, "pose view")
    val iv = strLit(args(1), fn, "ids view")
    val fps = if (args.length >= 3) dblLit(args(2), fn, "fps") else 50.0
    val maxDist = if (args.length >= 4) dblLit(args(3), fn, "maxDistance") else 40.0
    val anchor = if (args.length == 5) strLit(args(4), fn, "anchor part") else "anchor"
    val spark = SparkSession.active
    graft.combine.Combine.combineChunk(spark.table(pv), spark.table(iv),
        graft.combine.Combine.Params(fps = fps, maxDistance = maxDist), anchor)
      .queryExecution.logical
  }

  /** Build the `graft_ingest_dedup_t` table-function plan:
    * `graft_ingest_dedup_t('landingDir', 'workDir'[, n[, numHashes[,
    * bands[, minJaccard]]]])` — the round-6 flagship (ingest-time
    * near-duplicate dedup with unbounded disk-resident LSH state) from
    * pure SQL. EAGER at analysis with a SIDE EFFECT, by design: the call
    * RUNS one checkpointed poll of `landingDir` against `workDir`'s
    * corpus state ([[graft.streaming.DedupStream.pollNearDedup]] —
    * exactly-once per landed file, idempotent when nothing new landed)
    * and the statement then reads the accumulated (doc_id, rep_id)
    * assignment table. Re-running the statement re-polls: the natural
    * "land files, run the statement, read assignments" SQL loop.
    * Defaults match [[graft.streaming.DedupStream.Params]]. */
  private def ingestDedupTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ingest_dedup_t"
    require(args.length >= 2 && args.length <= 6,
      s"usage: $fn('landingDir', 'workDir'[, n[, numHashes[, bands[, minJaccard]]]])")
    val landing = strLit(args(0), fn, "landing dir")
    val work = strLit(args(1), fn, "work dir")
    val defaults = graft.streaming.DedupStream.Params()
    val p = defaults.copy(
      n = if (args.length >= 3) lngLit(args(2), fn, "n").toInt else defaults.n,
      numHashes = if (args.length >= 4) lngLit(args(3), fn, "numHashes").toInt
        else defaults.numHashes,
      bands = if (args.length >= 5) lngLit(args(4), fn, "bands").toInt
        else defaults.bands,
      minJaccard = if (args.length == 6) dblLit(args(5), fn, "minJaccard")
        else defaults.minJaccard)
    val spark = SparkSession.active
    // the poll runs in an ISOLATED session (own SessionCatalog, shared
    // SparkContext): this builder executes while the analyzer holds the
    // calling session's SessionCatalog lock, and the poll's micro-batch
    // thread must analyze its own plans — same-session would deadlock on
    // that lock. Dedup state is entirely filesystem-resident, so the
    // fresh session sees it all.
    graft.streaming.DedupStream.pollNearDedup(spark.newSession(), landing,
      work, p)
    graft.streaming.DedupStream.assignments(spark, work)
      .queryExecution.logical
  }

  /** Build the `graft_spandup_t` table-function plan:
    * `graft_spandup_t('docsV', 'id', 'text', spanTokens[, minDocs])` —
    * [[graft.llm.Dedup.spanDupStats]] from SQL: per document, the
    * fraction of its spanTokens-token windows appearing verbatim in
    * ≥ minDocs distinct documents. */
  private def spanDupTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_spandup_t"
    require(args.length >= 4 && args.length <= 5,
      s"usage: $fn('docsView', 'idCol', 'textCol', spanTokens[, minDocs])")
    val (dv, idCol, textCol, span, minDocs) = spanArgs(args, fn)
    graft.llm.Dedup.spanDupStats(SparkSession.active.table(dv), idCol,
      textCol, span, minDocs).queryExecution.logical
  }

  /** Build the `graft_span_remove_t` table-function plan:
    * `graft_span_remove_t('docsV', 'id', 'text', spanTokens[, minDocs])`
    * — [[graft.llm.Dedup.removeDupSpans]] from SQL: every token covered
    * by a window duplicated in ≥ minDocs distinct documents excised,
    * one (doc_id, clean_text, n_removed) row per input document. */
  private def spanRemoveTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_span_remove_t"
    require(args.length >= 4 && args.length <= 5,
      s"usage: $fn('docsView', 'idCol', 'textCol', spanTokens[, minDocs])")
    val (dv, idCol, textCol, span, minDocs) = spanArgs(args, fn)
    graft.llm.Dedup.removeDupSpans(SparkSession.active.table(dv), idCol,
      textCol, span, minDocs).queryExecution.logical
  }

  /** Build the `graft_dhash_pairs_t` table-function plan:
    * `graft_dhash_pairs_t('mediaV', maxDist[, bands[, 'idCol',
    * 'payloadCol']])` — [[graft.llm.Multimodal.dHashPairs]] from SQL:
    * perceptual near-duplicate (i, j, hamming) pairs over the opaque
    * binary payload column. */
  private def dhashPairsTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_dhash_pairs_t"
    val (media, maxDist, bands, idCol, payloadCol) = dhashArgs(args, fn)
    graft.llm.Multimodal.dHashPairs(media, maxDist, bands, idCol,
      payloadCol).queryExecution.logical
  }

  /** Build the `graft_dhash_clusters_t` table-function plan — the
    * cluster form ((rep_id, n_members) per multi-member perceptual
    * near-dup group) of [[dhashPairsTablePlan]]. */
  private def dhashClustersTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_dhash_clusters_t"
    val (media, maxDist, bands, idCol, payloadCol) = dhashArgs(args, fn)
    graft.llm.Multimodal.dHashClusters(media, maxDist, bands, idCol,
      payloadCol).queryExecution.logical
  }

  private def dhashArgs(args: Seq[Expression],
      fn: String): (org.apache.spark.sql.DataFrame, Int, Int, String, String) = {
    require(args.length >= 2 && args.length <= 5,
      s"usage: $fn('mediaView', maxDist[, bands[, 'idCol', 'payloadCol']])")
    require(args.length != 4,
      s"$fn: idCol and payloadCol must be given together")
    (SparkSession.active.table(strLit(args(0), fn, "media view")),
      lngLit(args(1), fn, "maxDist").toInt,
      if (args.length >= 3) lngLit(args(2), fn, "bands").toInt else 4,
      if (args.length == 5) strLit(args(3), fn, "id column") else "doc_id",
      if (args.length == 5) strLit(args(4), fn, "payload column")
      else "payload")
  }

  /** Build the `graft_frame_dup_t` table-function plan:
    * `graft_frame_dup_t('mediaV', frameBytes, everyN, maxDist[,
    * minFrames[, bands]])` — [[graft.llm.Multimodal.frameDupPairs]] from
    * SQL: near-duplicate video pairs by shared perceptual frames, one
    * (i, j, n_matches) row per pair with ≥ minFrames matching frames. */
  private def frameDupTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_frame_dup_t"
    val (media, fb, everyN, maxDist, minFrames, bands) = frameArgs(args, fn)
    graft.llm.Multimodal.frameDupPairs(media, fb, everyN, maxDist,
      minFrames, bands).queryExecution.logical
  }

  /** Build the `graft_frame_clusters_t` table-function plan — the
    * cluster form of [[frameDupTablePlan]]. */
  private def frameClustersTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_frame_clusters_t"
    val (media, fb, everyN, maxDist, minFrames, bands) = frameArgs(args, fn)
    graft.llm.Multimodal.frameDupClusters(media, fb, everyN, maxDist,
      minFrames, bands).queryExecution.logical
  }

  private def frameArgs(args: Seq[Expression], fn: String):
      (org.apache.spark.sql.DataFrame, Int, Int, Int, Long, Int) = {
    require(args.length >= 4 && args.length <= 6,
      s"usage: $fn('mediaView', frameBytes, everyN, maxDist[, minFrames[," +
        " bands]])")
    (SparkSession.active.table(strLit(args(0), fn, "media view")),
      lngLit(args(1), fn, "frameBytes").toInt,
      lngLit(args(2), fn, "everyN").toInt,
      lngLit(args(3), fn, "maxDist").toInt,
      if (args.length >= 5) lngLit(args(4), fn, "minFrames") else 1L,
      if (args.length == 6) lngLit(args(5), fn, "bands").toInt else 4)
  }

  private def spanArgs(args: Seq[Expression],
      fn: String): (String, String, String, Int, Int) = (
    strLit(args(0), fn, "docs view"),
    strLit(args(1), fn, "id column"),
    strLit(args(2), fn, "text column"),
    lngLit(args(3), fn, "spanTokens").toInt,
    if (args.length == 5) lngLit(args(4), fn, "minDocs").toInt else 2)

  /** `graft_repetition_t('docsV', 'id', 'text')` —
    * [[graft.llm.Quality.repetitionStats]] from SQL: per-document
    * duplicate-word / duplicate-bigram / top-bigram fractions. */
  private def repetitionTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_repetition_t"
    require(args.length == 3, s"usage: $fn('docsView', 'idCol', 'textCol')")
    graft.llm.Quality.repetitionStats(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"))
      .queryExecution.logical
  }

  /** `graft_line_dedup_t('docsV', 'id', 'text'[, minDocs[, 'sep']])` —
    * [[graft.llm.Dedup.removeDupLines]] from SQL: drop every line present
    * in ≥ minDocs (default 2) distinct documents, rebuild the text with
    * the separator (default newline). */
  private def lineDedupTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_line_dedup_t"
    require(args.length >= 3 && args.length <= 5,
      s"usage: $fn('docsView', 'idCol', 'textCol'[, minDocs[, 'sep']])")
    graft.llm.Dedup.removeDupLines(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      if (args.length >= 4) lngLit(args(3), fn, "minDocs").toInt else 2,
      if (args.length == 5) strLit(args(4), fn, "sep") else "\n")
      .queryExecution.logical
  }

  /** `graft_lm_t('refV', 'textCol', vocab)` —
    * [[graft.llm.Quality.unigramLm]] from SQL: top-vocab (token, cnt)
    * model over the reference view. */
  private def lmTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_lm_t"
    require(args.length == 3, s"usage: $fn('refView', 'textCol', vocab)")
    graft.llm.Quality.unigramLm(
      SparkSession.active.table(strLit(args(0), fn, "ref view")),
      strLit(args(1), fn, "text column"),
      lngLit(args(2), fn, "vocab").toInt)
      .queryExecution.logical
  }

  /** `graft_lm_score_t('docsV', 'id', 'text', 'modelV')` —
    * [[graft.llm.Quality.lmPerplexity]] from SQL: per-document smoothed
    * nll/perplexity against a (token, cnt) model view (typically a
    * `graft_lm_t` result persisted or inlined as a view). */
  private def lmScoreTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_lm_score_t"
    require(args.length == 4,
      s"usage: $fn('docsView', 'idCol', 'textCol', 'modelView')")
    graft.llm.Quality.lmPerplexity(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      SparkSession.active.table(strLit(args(3), fn, "model view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"))
      .queryExecution.logical
  }

  /** `graft_bigram_lm_t('refV', 'textCol', 'uniModelV', vocab)` —
    * [[graft.llm.Quality.bigramLm]] from SQL: top-`vocab` bigram counts
    * with their context counts, against a `graft_lm_t`-shaped unigram
    * model view. */
  private def bigramLmTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_bigram_lm_t"
    require(args.length == 4,
      s"usage: $fn('refView', 'textCol', 'uniModelView', vocab)")
    graft.llm.Quality.bigramLm(
      SparkSession.active.table(strLit(args(0), fn, "ref view")),
      strLit(args(1), fn, "text column"),
      SparkSession.active.table(strLit(args(2), fn, "unigram model view")),
      lngLit(args(3), fn, "vocab").toInt)
      .queryExecution.logical
  }

  /** `graft_ngram_score_t('docsV', 'id', 'text', 'uniV', 'biV'[, backoff])`
    * — [[graft.llm.Quality.ngramPerplexity]] from SQL: stupid-backoff
    * bigram perplexity against `graft_lm_t` / `graft_bigram_lm_t`
    * model views (backoff defaults to 0.4). */
  private def ngramScoreTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ngram_score_t"
    require(args.length == 5 || args.length == 6,
      s"usage: $fn('docsView', 'idCol', 'textCol', 'uniModelView', " +
        "'biModelView'[, backoff])")
    graft.llm.Quality.ngramPerplexity(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      SparkSession.active.table(strLit(args(3), fn, "unigram model view")),
      SparkSession.active.table(strLit(args(4), fn, "bigram model view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      if (args.length == 6) dblLit(args(5), fn, "backoff") else 0.4)
      .queryExecution.logical
  }

  /** `graft_trigram_lm_t('refV', 'textCol', 'biV', vocab)` —
    * [[graft.llm.Quality.trigramLm]] from SQL: top-`vocab` trigram
    * counts with context counts from the bound bigram model view. */
  private def trigramLmTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_trigram_lm_t"
    require(args.length == 4,
      s"usage: $fn('refView', 'textCol', 'biModelView', vocab)")
    graft.llm.Quality.trigramLm(
      SparkSession.active.table(strLit(args(0), fn, "ref view")),
      strLit(args(1), fn, "text column"),
      SparkSession.active.table(strLit(args(2), fn, "bigram model view")),
      lngLit(args(3), fn, "vocab").toInt)
      .queryExecution.logical
  }

  /** `graft_trigram_score_t('docsV', 'id', 'text', 'uniV', 'biV',
    * 'triV'[, backoff])` — [[graft.llm.Quality.trigramPerplexity]] from
    * SQL: the tri → bi → uni stupid-backoff chain (backoff defaults to
    * 0.4). */
  private def trigramScoreTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_trigram_score_t"
    require(args.length == 6 || args.length == 7,
      s"usage: $fn('docsView', 'idCol', 'textCol', 'uniModelView', " +
        "'biModelView', 'triModelView'[, backoff])")
    graft.llm.Quality.trigramPerplexity(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      SparkSession.active.table(strLit(args(3), fn, "unigram model view")),
      SparkSession.active.table(strLit(args(4), fn, "bigram model view")),
      SparkSession.active.table(strLit(args(5), fn, "trigram model view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      if (args.length == 7) dblLit(args(6), fn, "backoff") else 0.4)
      .queryExecution.logical
  }

  /** `graft_kn_score_t('docsV', 'id', 'text', 'uniV', 'biV'[, discount])`
    * — [[graft.llm.Quality.knPerplexity]] from SQL: interpolated
    * Kneser–Ney bigram perplexity against the same `graft_lm_t` /
    * `graft_bigram_lm_t` model views (discount defaults to 0.75). */
  private def knScoreTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_kn_score_t"
    require(args.length == 5 || args.length == 6,
      s"usage: $fn('docsView', 'idCol', 'textCol', 'uniModelView', " +
        "'biModelView'[, discount])")
    graft.llm.Quality.knPerplexity(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      SparkSession.active.table(strLit(args(3), fn, "unigram model view")),
      SparkSession.active.table(strLit(args(4), fn, "bigram model view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      if (args.length == 6) dblLit(args(5), fn, "discount") else 0.75)
      .queryExecution.logical
  }

  /** `graft_gopher_t('docsV', 'id', 'text'[, minWords])` —
    * [[graft.llm.Quality.gopherRules]] from SQL at the published
    * thresholds (minWords overridable — the one knob short-document
    * corpora need). */
  private def gopherTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_gopher_t"
    require(args.length == 3 || args.length == 4,
      s"usage: $fn('docsView', 'idCol', 'textCol'[, minWords])")
    graft.llm.Quality.gopherRules(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      minWords =
        if (args.length == 4) lngLit(args(3), fn, "minWords") else 50L)
      .queryExecution.logical
  }

  /** `graft_lm_ratio_t('docsV', 'id', 'text', 'targetV', 'sourceV')` —
    * [[graft.llm.Quality.lmLogRatio]] from SQL: DSIR-style importance
    * log-ratios under two (token, cnt) model views. */
  private def lmRatioTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_lm_ratio_t"
    require(args.length == 5,
      s"usage: $fn('docsView', 'idCol', 'textCol', 'targetModelView', 'sourceModelView')")
    graft.llm.Quality.lmLogRatio(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      SparkSession.active.table(strLit(args(3), fn, "target model view")),
      SparkSession.active.table(strLit(args(4), fn, "source model view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"))
      .queryExecution.logical
  }

  /** `graft_chunk_t('docsV', 'id', 'text', maxTokens[, overlap])` —
    * [[graft.llm.Sampling.chunkDocs]] from SQL: context-length chunks
    * with optional overlap. */
  private def chunkTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_chunk_t"
    require(args.length == 4 || args.length == 5,
      s"usage: $fn('docsView', 'idCol', 'textCol', maxTokens[, overlap])")
    graft.llm.Sampling.chunkDocs(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      lngLit(args(3), fn, "maxTokens").toInt,
      if (args.length == 5) lngLit(args(4), fn, "overlap").toInt else 0)
      .queryExecution.logical
  }

  /** `graft_tfidf_t('docsV', 'id', 'text', k)` —
    * [[graft.llm.Relevance.tfidfTopTerms]] from SQL: top-k TF-IDF terms
    * per document with integer micro-unit scores. */
  private def tfidfTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_tfidf_t"
    require(args.length == 4, s"usage: $fn('docsView', 'idCol', 'textCol', k)")
    graft.llm.Relevance.tfidfTopTerms(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      lngLit(args(3), fn, "k").toInt)
      .queryExecution.logical
  }

  /** `graft_bm25_t('docsV', 'id', 'text', 'term1,term2,…', k)` —
    * [[graft.llm.Relevance.bm25TopK]] from SQL: top-k documents for a
    * comma-separated keyword query. */
  private def bm25TablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_bm25_t"
    require(args.length == 5,
      s"usage: $fn('docsView', 'idCol', 'textCol', 'term1,term2,…', k)")
    val terms = strLit(args(3), fn, "terms").split(",")
      .map(_.trim).filter(_.nonEmpty).toSeq
    graft.llm.Relevance.bm25TopK(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      terms, lngLit(args(4), fn, "k").toInt)
      .queryExecution.logical
  }

  /** `graft_bm25_batch_t('docsV', 'id', 'text', 'queriesV', 'qidCol',
    * 'termsCol', k)` — [[graft.llm.Relevance.bm25TopKBatch]] from SQL:
    * every query in the (query id, array<string> terms) view scored in
    * ONE corpus pass, per-query top-k. */
  private def bm25BatchTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_bm25_batch_t"
    require(args.length == 7,
      s"usage: $fn('docsView', 'idCol', 'textCol', 'queriesView', " +
        "'qidCol', 'termsCol', k)")
    graft.llm.Relevance.bm25TopKBatch(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      SparkSession.active.table(strLit(args(3), fn, "queries view")),
      strLit(args(4), fn, "query id column"),
      strLit(args(5), fn, "terms column"),
      lngLit(args(6), fn, "k").toInt)
      .queryExecution.logical
  }

  /** `graft_classifier_train_t('labeledV', 'id', 'text', 'label', dim[,
    * bigrams[, iters]])` — [[graft.llm.Quality.trainTextClassifier]]
    * from SQL: the fastText-shaped quality classifier trained on a
    * require-bounded labeled sample; returns the (feature, w_micro)
    * weight table (intercept at feature = −1). Training RUNS at plan
    * build — the `graft_bpe_train_t` adjudication: the result is
    * model-sized and the caller is materializing a model, not composing
    * a lazy view. */
  private def classifierTrainTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_classifier_train_t"
    require(args.length >= 5 && args.length <= 7,
      s"usage: $fn('labeledView', 'idCol', 'textCol', 'labelCol', dim[, " +
        "bigrams[, iters]])")
    graft.llm.Quality.trainTextClassifier(
      SparkSession.active.table(strLit(args(0), fn, "labeled view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      strLit(args(3), fn, "label column"),
      lngLit(args(4), fn, "dim").toInt,
      bigrams = args.length < 6 || boolLit(args(5), fn, "bigrams"),
      iters = if (args.length == 7) lngLit(args(6), fn, "iters").toInt
        else 100)
      .queryExecution.logical
  }

  /** `graft_kmeans_t('vectorsV', 'vecCol', 'seedsV', iters)` —
    * [[graft.llm.Similarity.kmeansLloyd]] from SQL: the deterministic
    * integer-fixed-point Lloyd trainer over explicit seeds (`seedsV`
    * is a (cell, _cv) view); returns (cell, j, c_micro, n). Training
    * RUNS at plan build (the `graft_bpe_train_t` adjudication). */
  private def kmeansTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_kmeans_t"
    require(args.length == 4,
      s"usage: $fn('vectorsView', 'vecCol', 'seedsView', iters)")
    graft.llm.Similarity.kmeansLloyd(
      SparkSession.active.table(strLit(args(0), fn, "vectors view")),
      strLit(args(1), fn, "vector column"),
      SparkSession.active.table(strLit(args(2), fn, "seeds view")),
      lngLit(args(3), fn, "iters").toInt)
      .queryExecution.logical
  }

  /** `graft_classifier_train_gd_t('labeledV', 'id', 'text', 'label',
    * dim[, bigrams[, iters[, lr[, l2]]]])` —
    * [[graft.llm.Quality.trainTextClassifierGd]] from SQL: the
    * DISTRIBUTED full-batch integer-fixed-point GD trainer (the
    * corpus-scale path — no labeled-sample bound); returns the
    * (feature, w_micro) weight table (intercept at feature = −1).
    * Training RUNS at plan build (the `graft_bpe_train_t`
    * adjudication). */
  private def classifierTrainGdTablePlan(args: Seq[Expression])
      : LogicalPlan = {
    val fn = "graft_classifier_train_gd_t"
    require(args.length >= 5 && args.length <= 9,
      s"usage: $fn('labeledView', 'idCol', 'textCol', 'labelCol', dim[, " +
        "bigrams[, iters[, lr[, l2]]]])")
    graft.llm.Quality.trainTextClassifierGd(
      SparkSession.active.table(strLit(args(0), fn, "labeled view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      strLit(args(3), fn, "label column"),
      lngLit(args(4), fn, "dim").toInt,
      bigrams = args.length < 6 || boolLit(args(5), fn, "bigrams"),
      iters = if (args.length >= 7) lngLit(args(6), fn, "iters").toInt
        else 10,
      lr = if (args.length >= 8) dblLit(args(7), fn, "lr") else 0.5,
      l2 = if (args.length == 9) dblLit(args(8), fn, "l2") else 0.0)
      .queryExecution.logical
  }

  /** `graft_classifier_train_multi_gd_t('labeledV', 'id', 'text',
    * 'label', dim[, bigrams[, iters[, lr[, l2]]]])` —
    * [[graft.llm.Quality.trainTextClassifierMultiGd]] from SQL: the
    * distributed K-class softmax GD trainer (corpus-scale language ID);
    * returns (label, feature, w_micro). Training RUNS at plan build
    * (the `graft_bpe_train_t` adjudication). */
  private def classifierTrainMultiGdTablePlan(args: Seq[Expression])
      : LogicalPlan = {
    val fn = "graft_classifier_train_multi_gd_t"
    require(args.length >= 5 && args.length <= 9,
      s"usage: $fn('labeledView', 'idCol', 'textCol', 'labelCol', dim[, " +
        "bigrams[, iters[, lr[, l2]]]])")
    graft.llm.Quality.trainTextClassifierMultiGd(
      SparkSession.active.table(strLit(args(0), fn, "labeled view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      strLit(args(3), fn, "label column"),
      lngLit(args(4), fn, "dim").toInt,
      bigrams = args.length < 6 || boolLit(args(5), fn, "bigrams"),
      iters = if (args.length >= 7) lngLit(args(6), fn, "iters").toInt
        else 10,
      lr = if (args.length >= 8) dblLit(args(7), fn, "lr") else 0.5,
      l2 = if (args.length == 9) dblLit(args(8), fn, "l2") else 0.0)
      .queryExecution.logical
  }

  /** `graft_classifier_score_t('docsV', 'id', 'text', 'weightsV', dim[,
    * bigrams])` — [[graft.llm.Quality.scoreTextClassifier]] from SQL:
    * exact integer logits per document under a stored (feature, w_micro)
    * weight view. */
  private def classifierScoreTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_classifier_score_t"
    require(args.length >= 5 && args.length <= 6,
      s"usage: $fn('docsView', 'idCol', 'textCol', 'weightsView', dim[, " +
        "bigrams])")
    graft.llm.Quality.scoreTextClassifier(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      SparkSession.active.table(strLit(args(3), fn, "weights view")),
      lngLit(args(4), fn, "dim").toInt,
      bigrams = args.length < 6 || boolLit(args(5), fn, "bigrams"))
      .queryExecution.logical
  }

  /** `graft_classifier_train_multi_t('labeledV', 'id', 'text', 'label',
    * dim[, bigrams[, iters]])` —
    * [[graft.llm.Quality.trainTextClassifierMulti]] from SQL: the
    * K-class softmax trainer (trained language ID's model); returns
    * (label, feature, w_micro). Training RUNS at plan build (the
    * `graft_bpe_train_t` adjudication). */
  private def classifierTrainMultiTablePlan(args: Seq[Expression])
      : LogicalPlan = {
    val fn = "graft_classifier_train_multi_t"
    require(args.length >= 5 && args.length <= 7,
      s"usage: $fn('labeledView', 'idCol', 'textCol', 'labelCol', dim[, " +
        "bigrams[, iters]])")
    graft.llm.Quality.trainTextClassifierMulti(
      SparkSession.active.table(strLit(args(0), fn, "labeled view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      strLit(args(3), fn, "label column"),
      lngLit(args(4), fn, "dim").toInt,
      bigrams = args.length < 6 || boolLit(args(5), fn, "bigrams"),
      iters = if (args.length == 7) lngLit(args(6), fn, "iters").toInt
        else 100)
      .queryExecution.logical
  }

  /** `graft_langid_t('docsV', 'id', 'text', 'weightsV', dim[, bigrams])`
    * — [[graft.llm.Quality.langIdTrained]] from SQL: argmax class under
    * a (label, feature, w_micro) multi-class weight view, deterministic
    * smallest-label tie-break; (doc_id, lang, logit_micro). */
  private def langidTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_langid_t"
    require(args.length >= 5 && args.length <= 6,
      s"usage: $fn('docsView', 'idCol', 'textCol', 'weightsView', dim[, " +
        "bigrams])")
    graft.llm.Quality.langIdTrained(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      SparkSession.active.table(strLit(args(3), fn, "weights view")),
      lngLit(args(4), fn, "dim").toInt,
      bigrams = args.length < 6 || boolLit(args(5), fn, "bigrams"))
      .queryExecution.logical
  }

  /** `graft_sp_unigram_train_t('docsV', 'id', 'text', vocab[, iters[,
    * maxPieceLen]])` — [[graft.llm.SpUnigram.train]] from SQL: the
    * SentencePiece-unigram (hard-EM) tokenizer trainer; returns
    * (piece, cnt). Training RUNS at plan build (the `graft_bpe_train_t`
    * adjudication — the result is a vocab-scale model). */
  private def spUnigramTrainTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_sp_unigram_train_t"
    require(args.length >= 4 && args.length <= 6,
      s"usage: $fn('docsView', 'idCol', 'textCol', vocab[, iters[, " +
        "maxPieceLen]])")
    graft.llm.SpUnigram.train(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      lngLit(args(3), fn, "vocab").toInt,
      iters = if (args.length >= 5) lngLit(args(4), fn, "iters").toInt
        else 2,
      maxPieceLen = if (args.length == 6)
        lngLit(args(5), fn, "maxPieceLen").toInt else 4)
      .queryExecution.logical
  }

  /** `graft_opq_train_t('sampleV', 'idCol', 'vecCol', m[, k[, iters]])`
    * — [[graft.llm.Similarity.trainOpqRotation]] from SQL: the OPQ
    * rotation trained on a require-bounded vector sample; returns the
    * (i, _rv) rotation table `graft_ivf_save_pq_t` accepts as its
    * `rotationView` tail argument. Training RUNS at plan build (the
    * `graft_bpe_train_t` adjudication — the result is a d×d matrix). */
  private def opqTrainTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_opq_train_t"
    require(args.length >= 4 && args.length <= 6,
      s"usage: $fn('sampleView', 'idCol', 'vecCol', m[, k[, iters]])")
    graft.llm.Similarity.trainOpqRotation(
      SparkSession.active.table(strLit(args(0), fn, "sample view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "vector column"),
      lngLit(args(3), fn, "m").toInt,
      k = if (args.length >= 5) lngLit(args(4), fn, "k").toInt else 256,
      iters = if (args.length == 6) lngLit(args(5), fn, "iters").toInt
        else 8)
      .queryExecution.logical
  }

  /** `graft_bpe_train_t('docsV', 'id', 'text', numMerges[, maxBatch])` —
    * [[graft.llm.Bpe.train]] from SQL. The merge iterations RUN at plan
    * build (each is a Spark job over the word-type table) — the
    * view-read-at-plan-build adjudication: the result is merge-table
    * sized and the caller is materializing a tokenizer, not composing a
    * lazy scan. `maxBatch` > 1 (default 64) commits up to that many
    * provably-sequential-equal merges per job — see the train scaladoc. */
  private def bpeTrainTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_bpe_train_t"
    require(args.length >= 4 && args.length <= 5,
      s"usage: $fn('docsView', 'idCol', 'textCol', numMerges[, maxBatch])")
    graft.llm.Bpe.train(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      lngLit(args(3), fn, "numMerges").toInt,
      maxBatch = if (args.length == 5) lngLit(args(4), fn, "maxBatch").toInt
        else 64)
      .queryExecution.logical
  }

  /** `graft_bpe_encode_t('docsV', 'id', 'text', 'mergesV')` —
    * [[graft.llm.Bpe.encode]] from SQL against a (rank, left, right)
    * merge-table view (typically a persisted `graft_bpe_train_t`
    * result). The merge view is collected at plan build — merge tables
    * are driver-bounded by contract, the codebook adjudication. */
  private def bpeEncodeTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_bpe_encode_t"
    require(args.length == 4,
      s"usage: $fn('docsView', 'idCol', 'textCol', 'mergesView')")
    graft.llm.Bpe.encode(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      SparkSession.active.table(strLit(args(3), fn, "merges view")))
      .queryExecution.logical
  }

  /** `graft_sp_encode_t('docsV', 'id', 'text', 'modelV')` —
    * [[graft.llm.SpUnigram.encode]] from SQL against a (piece, cnt)
    * vocab view (typically a persisted `graft_sp_unigram_train_t`
    * result) — the [[bpeEncodeTablePlan]] contract for the SP tier. */
  private def spEncodeTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_sp_encode_t"
    require(args.length == 4,
      s"usage: $fn('docsView', 'idCol', 'textCol', 'modelView')")
    graft.llm.SpUnigram.encode(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      SparkSession.active.table(strLit(args(3), fn, "model view")))
      .queryExecution.logical
  }

  /** `graft_pii_scrub_t('docsV', 'id', 'text')` — PII redaction from SQL:
    * (doc_id, clean_text, n_email, n_ip, n_phone) with
    * [[graft.llm.Quality.scrubPii]]'s email → IP → phone order. */
  private def piiScrubTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_pii_scrub_t"
    require(args.length == 3, s"usage: $fn('docsView', 'idCol', 'textCol')")
    val d = SparkSession.active.table(strLit(args(0), fn, "docs view"))
    val id = strLit(args(1), fn, "id column")
    val text = strLit(args(2), fn, "text column")
    import org.apache.spark.sql.functions.col
    // one compiled byte scan for the scrub and all three counts
    d.select(col(id).as("doc_id"),
      graft.llm.Quality.piiStats(col(text)).as("_p"))
      .select(col("doc_id"),
        col("_p.scrubbed").as("clean_text"),
        col("_p.n_email").as("n_email"),
        col("_p.n_ip").as("n_ip"),
        col("_p.n_phone").as("n_phone"))
      .queryExecution.logical
  }

  /** `graft_sample_t('docsV', 'idCol', pct)` —
    * [[graft.llm.Sampling.hashSample]] from SQL: keep ~pct% of rows by
    * the content-addressed md5 draw (pure filter, no shuffle). */
  private def sampleTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_sample_t"
    require(args.length == 3, s"usage: $fn('docsView', 'idCol', pct)")
    graft.llm.Sampling.hashSample(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "id column"),
      lngLit(args(2), fn, "pct").toInt)
      .queryExecution.logical
  }

  /** `graft_quota_t('docsV', 'strata1,strata2', 'idCol', k)` —
    * [[graft.llm.Sampling.stratifiedQuota]] from SQL: exactly
    * min(k, |stratum|) rows per stratum, ranked by (md5(id), id). */
  private def quotaTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_quota_t"
    require(args.length == 4,
      s"usage: $fn('docsView', 'strataCsv', 'idCol', k)")
    val strata = strLit(args(1), fn, "strata csv").split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq
    require(strata.nonEmpty, s"$fn: strata csv must name at least one column")
    graft.llm.Sampling.stratifiedQuota(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strata, strLit(args(2), fn, "id column"),
      lngLit(args(3), fn, "k").toInt)
      .queryExecution.logical
  }

  /** `graft_semdedup_t('vecsV', 'centsV', minCos[, 'idCol', 'vecCol'])` —
    * [[graft.llm.Similarity.semDedup]] survivors from SQL (the centroids
    * view must carry (cell, _cv), the [[graft.llm.Similarity.assignCells]]
    * shape); `graft_semdedup_pairs_t` returns the within-cell pairs
    * instead. Defaults: idCol = vec_id, vecCol = embedding. */
  private def semDedupTablePlan(args: Seq[Expression],
      pairs: Boolean): LogicalPlan = {
    val fn = if (pairs) "graft_semdedup_pairs_t" else "graft_semdedup_t"
    require(args.length >= 3 && args.length <= 5,
      s"usage: $fn('vecsView', 'centsView', minCos[, 'idCol', 'vecCol'])")
    val vecs = SparkSession.active.table(strLit(args(0), fn, "vectors view"))
    val cents = SparkSession.active.table(strLit(args(1), fn, "centroids view"))
    val minCos = dblLit(args(2), fn, "minCos")
    val idCol =
      if (args.length >= 4) strLit(args(3), fn, "id column") else "vec_id"
    val vecCol =
      if (args.length >= 5) strLit(args(4), fn, "vector column") else "embedding"
    (if (pairs)
       graft.llm.Similarity.semDedupPairs(vecs, cents, idCol, vecCol, minCos)
     else graft.llm.Similarity.semDedup(vecs, cents, idCol, vecCol, minCos))
      .queryExecution.logical
  }

  /** Read a small (stratum, number) mapping view at plan build — rates and
    * weights are domain-scale (a handful of rows), the same driver-bounded
    * adjudication as broadcast centroids. */
  private def strataMap(viewName: String, fn: String): Map[String, Double] =
    SparkSession.active.table(viewName).collect().map { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        s"$fn: the mapping view must have no nulls")
      val n = r.get(1) match {
        case n: java.lang.Number => n.doubleValue
        case other => sys.error(
          s"$fn: mapping view column 2 must be numeric, got $other")
      }
      r.get(0).toString -> n
    }.toMap

  /** `graft_mix_sample_t('docsV', 'strataCol', 'idCol', 'ratesV'[,
    * defaultPct])` — [[graft.llm.Sampling.mixSample]] from SQL; the rates
    * view carries (stratum, pct). */
  private def mixSampleTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_mix_sample_t"
    require(args.length == 4 || args.length == 5,
      s"usage: $fn('docsView', 'strataCol', 'idCol', 'ratesView'[, defaultPct])")
    val rates = strataMap(strLit(args(3), fn, "rates view"), fn)
      .map { case (k, v) =>
        // a fractional rate (0.8 meaning 80%) would silently truncate to
        // 0 and empty the stratum — refuse anything non-integral
        require(v == math.rint(v),
          s"$fn: rates are integer percentages in [0,100]; " +
            s"got $v for stratum '$k' (write 80, not 0.8)")
        k -> v.toInt
      }
    val defaultPct =
      if (args.length == 5) lngLit(args(4), fn, "defaultPct").toInt else 0
    graft.llm.Sampling.mixSample(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "strata column"), strLit(args(2), fn, "id column"),
      rates, defaultPct)
      .queryExecution.logical
  }

  /** `graft_mix_quota_t('docsV', 'strataCol', 'idCol', 'weightsV', total)`
    * — [[graft.llm.Sampling.mixQuota]] from SQL; the weights view carries
    * (stratum, weight). */
  private def mixQuotaTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_mix_quota_t"
    require(args.length == 5,
      s"usage: $fn('docsView', 'strataCol', 'idCol', 'weightsView', total)")
    graft.llm.Sampling.mixQuota(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "strata column"), strLit(args(2), fn, "id column"),
      strataMap(strLit(args(3), fn, "weights view"), fn),
      lngLit(args(4), fn, "total"))
      .queryExecution.logical
  }

  /** `graft_temperature_quota_t('docsV', 'strataCol', 'idCol', tau,
    * total)` — [[graft.llm.Sampling.temperatureQuota]] from SQL:
    * per-stratum quotas ∝ n^τ. */
  private def temperatureQuotaTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_temperature_quota_t"
    require(args.length == 5,
      s"usage: $fn('docsView', 'strataCol', 'idCol', tau, total)")
    graft.llm.Sampling.temperatureQuota(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "strata column"), strLit(args(2), fn, "id column"),
      dblLit(args(3), fn, "tau"), lngLit(args(4), fn, "total"))
      .queryExecution.logical
  }

  /** `graft_ppl_buckets_t('docsV', 'id', 'text', 'uniV', 'biV', t1,
    * t2[, backoff])` — [[graft.llm.Quality.pplBuckets]] from SQL: the
    * CCNet head/middle/tail assignment under a bigram reference LM. */
  private def pplBucketsTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ppl_buckets_t"
    require(args.length == 7 || args.length == 8,
      s"usage: $fn('docsView', 'idCol', 'textCol', 'uniModelView', " +
        "'biModelView', t1, t2[, backoff])")
    graft.llm.Quality.pplBuckets(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      SparkSession.active.table(strLit(args(3), fn, "unigram model view")),
      SparkSession.active.table(strLit(args(4), fn, "bigram model view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      dblLit(args(5), fn, "t1"), dblLit(args(6), fn, "t2"),
      if (args.length == 8) dblLit(args(7), fn, "backoff") else 0.4)
      .queryExecution.logical
  }

  /** `graft_winnow_pairs_t('docsV', 'id', 'text'[, k, window, minShared,
    * maxBucket])` — [[graft.llm.Dedup.winnowPairs]] from SQL: winnowing-
    * fingerprint near-dup candidate pairs. */
  private def winnowPairsTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_winnow_pairs_t"
    require(args.length >= 3 && args.length <= 7,
      s"usage: $fn('docsView', 'idCol', 'textCol'[, k, window, " +
        "minShared, maxBucket])")
    graft.llm.Dedup.winnowPairs(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      if (args.length > 3) lngLit(args(3), fn, "k").toInt else 8,
      if (args.length > 4) lngLit(args(4), fn, "window").toInt else 4,
      if (args.length > 5) lngLit(args(5), fn, "minShared") else 2L,
      if (args.length > 6) lngLit(args(6), fn, "maxBucket") else 50L)
      .queryExecution.logical
  }

  /** `graft_normalize_t('docsV', 'idCol', 'textCol'[, lower])` —
    * [[graft.llm.Quality.normalizeText]] from SQL: (id, norm) per row. */
  private def normalizeTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_normalize_t"
    require(args.length == 3 || args.length == 4,
      s"usage: $fn('docsView', 'idCol', 'textCol'[, lower])")
    val docs = SparkSession.active.table(strLit(args(0), fn, "docs view"))
    val idCol = strLit(args(1), fn, "id column")
    val textCol = strLit(args(2), fn, "text column")
    val lowerFlag =
      if (args.length == 4) boolLit(args(3), fn, "lower") else false
    docs.select(org.apache.spark.sql.functions.col(idCol),
      graft.llm.Quality.normalizeText(
        org.apache.spark.sql.functions.col(textCol), lowerFlag).as("norm"))
      .queryExecution.logical
  }

  /** `graft_contamination_t('corpusV', 'benchV', 'id', 'text'[, n])` —
    * [[graft.llm.Dedup.contaminationStats]] from SQL: per-corpus-doc
    * distinct n-shingle overlap against the broadcast benchmark set. */
  private def contaminationTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_contamination_t"
    require(args.length >= 4 && args.length <= 5,
      s"usage: $fn('corpusView', 'benchView', 'idCol', 'textCol'[, n])")
    graft.llm.Dedup.contaminationStats(
      SparkSession.active.table(strLit(args(0), fn, "corpus view")),
      SparkSession.active.table(strLit(args(1), fn, "bench view")),
      strLit(args(2), fn, "id column"), strLit(args(3), fn, "text column"),
      if (args.length == 5) lngLit(args(4), fn, "n").toInt else 5)
      .queryExecution.logical
  }

  /** `graft_shuffle_t('docsV', 'idCol', numShards[, 'salt'])` —
    * [[graft.llm.Sampling.shuffleShards]] from SQL: content-addressed
    * deterministic training-order shuffle (shard + position). */
  private def shuffleTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_shuffle_t"
    require(args.length >= 3 && args.length <= 4,
      s"usage: $fn('docsView', 'idCol', numShards[, 'salt'])")
    graft.llm.Sampling.shuffleShards(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "id column"),
      lngLit(args(2), fn, "numShards").toInt,
      if (args.length == 4) strLit(args(3), fn, "salt") else "")
      .queryExecution.logical
  }

  /** `graft_pack_t('docsV', 'idCol', 'textCol', 'strataCol', budget[,
    * shards])` — [[graft.llm.Sampling.packGreedy]] from SQL: greedy
    * sequence packing into `budget`-token bins per (strata, id-mod-
    * shards) group. */
  private def packTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_pack_t"
    require(args.length >= 5 && args.length <= 6,
      s"usage: $fn('docsView', 'idCol', 'textCol', 'strataCol', budget[, shards])")
    graft.llm.Sampling.packGreedy(
      SparkSession.active.table(strLit(args(0), fn, "docs view")),
      strLit(args(1), fn, "id column"), strLit(args(2), fn, "text column"),
      strLit(args(3), fn, "strata column"),
      lngLit(args(4), fn, "budget"),
      if (args.length == 6) lngLit(args(5), fn, "shards").toInt else 4)
      .queryExecution.logical
  }

  /** Build the `graft_ingest_spandup_t` table-function plan:
    * `graft_ingest_spandup_t('landingDir', 'workDir'[, spanTokens[,
    * minDocs]])` — [[graft.streaming.SpanDupStream]] from SQL: one
    * checkpointed poll scores every newly-landed document's
    * duplicate-text fraction against the accumulated corpus window
    * state, then the statement reads the accumulated stats table (each
    * row final as of its landing — the documented streaming deviation;
    * the batch `graft_spandup_t` over the full corpus is the repair).
    * EAGER side effect in an ISOLATED session, exactly like
    * `graft_ingest_dedup_t` (the poll's micro-batch thread must analyze
    * its own plans while this builder holds the calling session's
    * catalog lock). Re-running the statement re-polls; an empty re-poll
    * is a no-op. */
  private def ingestSpanDupTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ingest_spandup_t"
    require(args.length >= 2 && args.length <= 4,
      s"usage: $fn('landingDir', 'workDir'[, spanTokens[, minDocs]])")
    val landing = strLit(args(0), fn, "landing dir")
    val work = strLit(args(1), fn, "work dir")
    val defaults = graft.streaming.SpanDupStream.Params()
    val p = defaults.copy(
      spanTokens = if (args.length >= 3) lngLit(args(2), fn, "spanTokens").toInt
        else defaults.spanTokens,
      minDocs = if (args.length == 4) lngLit(args(3), fn, "minDocs").toInt
        else defaults.minDocs)
    val spark = SparkSession.active
    graft.streaming.SpanDupStream.pollSpanDup(spark.newSession(), landing,
      work, p)
    graft.streaming.SpanDupStream.stats(spark, work)
      .queryExecution.logical
  }

  /** Build the `graft_span_rescore_t` table-function plan:
    * `graft_span_rescore_t('landingDir', 'workDir'[, spanTokens[,
    * minDocs]])` — [[graft.streaming.SpanDupStream.rescoreStats]] from
    * SQL: re-scores every already-scored document against the FINAL
    * corpus (the offline repair for the stats-final-at-landing
    * deviation) and commits the repaired snapshot; the statement then
    * reads the repaired stats table. Run with the poller STOPPED, like
    * `graft_ingest_repair_t`. EAGER side effect; the repair is a plain
    * batch job, so no isolated session is needed — but one is used
    * anyway for symmetry with the poller forms (state is entirely
    * filesystem-resident either way). */
  private def spanRescoreTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_span_rescore_t"
    require(args.length >= 2 && args.length <= 4,
      s"usage: $fn('landingDir', 'workDir'[, spanTokens[, minDocs]])")
    val landing = strLit(args(0), fn, "landing dir")
    val work = strLit(args(1), fn, "work dir")
    val defaults = graft.streaming.SpanDupStream.Params()
    val p = defaults.copy(
      spanTokens = if (args.length >= 3) lngLit(args(2), fn, "spanTokens").toInt
        else defaults.spanTokens,
      minDocs = if (args.length == 4) lngLit(args(3), fn, "minDocs").toInt
        else defaults.minDocs)
    val spark = SparkSession.active
    graft.streaming.SpanDupStream.rescoreStats(spark.newSession(), landing,
      work, p)
    graft.streaming.SpanDupStream.stats(spark, work)
      .queryExecution.logical
  }

  /** Build the `graft_ingest_pipeline_t` table-function plan:
    * `graft_ingest_pipeline_t('landingDir', 'workDir', 'indexDir'[,
    * minJaccard[, spanTokens[, maxDupFrac[, maxDupWordFrac[,
    * maxTopBigramFrac[, 'benchView'[, maxContamFrac[, contamN]]]]]]]])`
    * — the composed dedup→index ingest loop
    * ([[graft.streaming.PipelineStream]]) from SQL: one checkpointed poll
    * dedups every newly-landed (doc_id, text, embedding) file against the
    * full corpus state and appends only NEW cluster representatives'
    * embeddings to the persisted IVF index. The arguments after
    * `minJaccard` are the ingest gates, each the [[graft.llm.Gates]] field
    * of the same name ('stop,words' the quality stops, 'keep,langs' the
    * langs, 'en:the,a;de:der' the langMarkers, the views registered
    * `text` and (feature, w_micro) tables). A gate is on once its
    * threshold is set: spanTokens > 0, a fraction or semMinCos < 1.0,
    * minQuality > 0, a view or language list given. EAGER side effect;
    * isolated session for the same deadlock reason as
    * `graft_ingest_dedup_t`; returns the accumulated (doc_id, rep_id)
    * assignment table. */
  private def ingestPipelineTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ingest_pipeline_t"
    require(args.length >= 3 && args.length <= 21,
      s"usage: $fn('landingDir', 'workDir', 'indexDir'[, minJaccard[, " +
        "spanTokens[, maxDupFrac[, maxDupWordFrac[, maxTopBigramFrac[, " +
        "'benchView'[, maxContamFrac[, contamN[, normalize[, " +
        "semMinCos[, gopher[, minQuality[, 'stop,words'[, 'keep,langs'[, " +
        "'lang:marker,words;lang2:…'[, 'classifierView'[, classifierDim[, " +
        "minLogitMicro]]]]]]]]]]]]]]]]]])")
    val landing = strLit(args(0), fn, "landing dir")
    val work = strLit(args(1), fn, "work dir")
    val index = strLit(args(2), fn, "index dir")
    val defaults = graft.streaming.DedupStream.Params()
    val p = if (args.length >= 4)
      defaults.copy(minJaccard = dblLit(args(3), fn, "minJaccard"))
    else defaults
    val spanTokens =
      if (args.length >= 5) lngLit(args(4), fn, "spanTokens").toInt else 0
    val maxDupFrac =
      if (args.length >= 6) dblLit(args(5), fn, "maxDupFrac") else 1.0
    val maxDupWordFrac =
      if (args.length >= 7) dblLit(args(6), fn, "maxDupWordFrac") else 1.0
    val maxTopBigramFrac =
      if (args.length >= 8) dblLit(args(7), fn, "maxTopBigramFrac") else 1.0
    val spark = SparkSession.active
    val iso = spark.newSession()
    val benchDocs =
      if (args.length >= 9) {
        // REBIND the bench view to the isolated session: this builder
        // runs inside the analyzer's SessionCatalog monitor, and the
        // stream's foreachBatch thread analyzing a plan that still
        // references the OUTER session would block on that same monitor
        // while this thread awaits the stream — a deadlock (observed as a
        // LookupFunctions wait in the microbatch thread). Compiling the
        // view to an RDD HERE (reentrant on the lock-holding thread) and
        // re-wrapping it leaves the gate plan with a session-free
        // LogicalRDD — bench suites are broadcast-tiny by contract, so
        // the lost column pruning is irrelevant.
        val b = spark.table(strLit(args(8), fn, "bench view"))
        Some(iso.createDataFrame(b.toDF().rdd, b.schema))
      } else None
    val maxContamFrac =
      if (args.length >= 10) dblLit(args(9), fn, "maxContamFrac") else 1.0
    val contamN =
      if (args.length >= 11) lngLit(args(10), fn, "contamN").toInt else 5
    val normalize =
      if (args.length >= 12) boolLit(args(11), fn, "normalize") else false
    val semMinCos =
      if (args.length >= 13) dblLit(args(12), fn, "semMinCos") else 1.0
    val gopher =
      if (args.length >= 14) boolLit(args(13), fn, "gopher") else false
    val minQuality =
      if (args.length >= 15) dblLit(args(14), fn, "minQuality") else 0.0
    val qualityStops =
      if (args.length >= 16)
        strLit(args(15), fn, "quality stops").split(",")
          .map(_.trim).filter(_.nonEmpty).toSeq
      else Seq.empty[String]
    val langs =
      if (args.length >= 17)
        strLit(args(16), fn, "langs").split(",")
          .map(_.trim).filter(_.nonEmpty).toSeq
      else Seq.empty[String]
    // 'en:the,a;de:der,die' — language marker sets for langId
    val langMarkers =
      if (args.length >= 18)
        strLit(args(17), fn, "lang markers").split(";")
          .map(_.trim).filter(_.nonEmpty).toSeq.map { part =>
            val sep = part.indexOf(':')
            require(sep > 0 && sep < part.length - 1,
              s"$fn: malformed lang-marker segment '$part' — expected " +
                "'lang:word,word' entries separated by ';'")
            part.substring(0, sep).trim ->
              part.substring(sep + 1).split(",").map(_.trim)
                .filter(_.nonEmpty).toSeq
          }
      else Seq.empty[(String, Seq[String])]
    // classifier gate tail: the weight view gets the benchView
    // treatment — rebound to the isolated session via an RDD round-trip
    // (model tables are dim-bounded by contract, so the lost pruning is
    // irrelevant; the deadlock hazard is identical)
    val classifier =
      if (args.length >= 19) {
        val w = spark.table(strLit(args(18), fn, "classifier view"))
        Some(iso.createDataFrame(w.toDF().rdd, w.schema))
      } else None
    val classifierDim =
      if (args.length >= 20) lngLit(args(19), fn, "classifierDim").toInt
      else 1 << 18
    val minLogitMicro =
      if (args.length == 21) lngLit(args(20), fn, "minLogitMicro")
      else Long.MinValue
    import graft.llm.Gates
    val gates = Gates(
      normalize = normalize,
      semantic = Option.when(semMinCos < 1.0)(Gates.Semantic(semMinCos)),
      span = Option.when(spanTokens > 0)(Gates.Span(spanTokens, maxDupFrac)),
      repetition = Option.when(maxDupWordFrac < 1.0 || maxTopBigramFrac < 1.0)(
        Gates.Repetition(maxDupWordFrac, maxTopBigramFrac)),
      gopher = gopher,
      classifier = classifier.map(Gates.Classifier(_, minLogitMicro,
        classifierDim)),
      contamination = benchDocs.map(Gates.Contamination(_, maxContamFrac,
        contamN)),
      quality = Option.when(minQuality > 0.0)(
        Gates.QualityFloor(minQuality, qualityStops)),
      language = Option.when(langs.nonEmpty || langMarkers.nonEmpty)(
        Gates.Language(langs, langMarkers)))
    graft.streaming.PipelineStream.pollIngest(iso, landing, work, index,
      gates, p)
    graft.streaming.DedupStream.assignments(spark, work)
      .queryExecution.logical
  }

  /** Build the `graft_ingest_repair_t` table-function plan:
    * `graft_ingest_repair_t('workDir'[, minJaccard[, maxBandBucket]])` —
    * [[graft.streaming.DedupStream.repairMerges]] from SQL: rebuilds the
    * near-dup graph over the stored state and merges the cross-batch
    * bridge clusters the stream deliberately left split, then returns the
    * repaired (doc_id, rep_id) table. EAGER side effect like
    * `graft_ingest_dedup_t`; run with the poller STOPPED (the repair's
    * single-writer contract). Only the verify threshold and band-bucket
    * cap matter to the repair — shingles and band digests come from the
    * stored state. */
  private def ingestRepairTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ingest_repair_t"
    require(args.length >= 1 && args.length <= 3,
      s"usage: $fn('workDir'[, minJaccard[, maxBandBucket]])")
    val work = strLit(args(0), fn, "work dir")
    val defaults = graft.streaming.DedupStream.Params()
    val p = defaults.copy(
      minJaccard = if (args.length >= 2) dblLit(args(1), fn, "minJaccard")
        else defaults.minJaccard,
      maxBandBucket = if (args.length == 3) lngLit(args(2), fn, "maxBandBucket")
        else defaults.maxBandBucket)
    val spark = SparkSession.active
    // same isolation rationale as graft_ingest_dedup_t: keep the repair's
    // jobs off the calling session's analyzer state
    graft.streaming.DedupStream.repairMerges(spark.newSession(), work, p)
    graft.streaming.DedupStream.assignments(spark, work)
      .queryExecution.logical
  }

  /** Build the `graft_ingest_sem_repair_t` table-function plan:
    * `graft_ingest_sem_repair_t('workDir', 'indexDir', semMinCos[,
    * retain])` — [[graft.streaming.PipelineStream.repairSem]] from SQL:
    * rebuilds the semantic near-dup graph over ALL stored gate vectors
    * (dropped bridges included), rewrites kept flags to component
    * min-ids, prunes the index, and returns the repaired surviving
    * (vec_id, cell) table. EAGER side effect like
    * `graft_ingest_repair_t`; run with the poller STOPPED. */
  private def ingestSemRepairTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ingest_sem_repair_t"
    require(args.length >= 3 && args.length <= 4,
      s"usage: $fn('workDir', 'indexDir', semMinCos[, retain])")
    val work = strLit(args(0), fn, "work dir")
    val index = strLit(args(1), fn, "index dir")
    val minCos = dblLit(args(2), fn, "semMinCos")
    val retain = if (args.length == 4) lngLit(args(3), fn, "retain").toInt
      else 0
    val spark = SparkSession.active
    graft.streaming.PipelineStream.repairSem(spark.newSession(), work,
      index, minCos, retain)
    graft.streaming.PipelineStream.semSurvivors(spark, work)
      .queryExecution.logical
  }

  /** Build the `graft_ivf_save_t` table-function plan:
    * `graft_ivf_save_t('corpusView', 'idCol', 'vecCol', 'dir', nlist[,
    * seed])` — train-once IVF index persistence from SQL. EAGER with a
    * SIDE EFFECT, like `graft_ingest_dedup_t`: analysis runs
    * [[graft.llm.Similarity.saveIvfIndex]] (k-means + corpus cell
    * assignment, written cell-partitioned under `dir`), and the statement
    * returns the saved centroid table (cell, _cv). */
  private def ivfSaveTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ivf_save_t"
    require(args.length >= 5 && args.length <= 6,
      s"usage: $fn('corpusView', 'idCol', 'vecCol', 'dir', nlist[, seed])")
    val cv = strLit(args(0), fn, "corpus view")
    val idCol = strLit(args(1), fn, "id column")
    val vecCol = strLit(args(2), fn, "vector column")
    val dir = strLit(args(3), fn, "index dir")
    val nlist = lngLit(args(4), fn, "nlist").toInt
    val seed = if (args.length == 6) lngLit(args(5), fn, "seed") else 42L
    val spark = SparkSession.active
    graft.llm.Similarity.saveIvfIndex(spark.table(cv), idCol, vecCol, dir,
      nlist, seed = seed)
    graft.llm.Similarity.ivfCentroids(spark, dir).queryExecution.logical
  }

  /** Build the `graft_ivf_save_q_t` table-function plan:
    * `graft_ivf_save_q_t('corpusView', 'idCol', 'vecCol', 'dir', nlist[,
    * seed])` — SQ8 quantized index persistence
    * ([[graft.llm.Similarity.saveIvfIndexQuantized]]): ~4× smaller stored
    * vectors, recall-floor contract. EAGER side effect like
    * `graft_ivf_save_t`; returns the saved centroid table. */
  private def ivfSaveQTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ivf_save_q_t"
    require(args.length >= 5 && args.length <= 6,
      s"usage: $fn('corpusView', 'idCol', 'vecCol', 'dir', nlist[, seed])")
    val cv = strLit(args(0), fn, "corpus view")
    val idCol = strLit(args(1), fn, "id column")
    val vecCol = strLit(args(2), fn, "vector column")
    val dir = strLit(args(3), fn, "index dir")
    val nlist = lngLit(args(4), fn, "nlist").toInt
    val seed = if (args.length == 6) lngLit(args(5), fn, "seed") else 42L
    val spark = SparkSession.active
    graft.llm.Similarity.saveIvfIndexQuantized(spark.table(cv), idCol,
      vecCol, dir, nlist, seed = seed)
    graft.llm.Similarity.ivfCentroids(spark, dir).queryExecution.logical
  }

  /** Build the `graft_ivf_save_pq_t` table-function plan:
    * `graft_ivf_save_pq_t('corpusView', 'idCol', 'vecCol', 'dir', nlist,
    * m, k[, seed])` — write a product-quantized index
    * ([[graft.llm.Similarity.saveIvfIndexPQ]]: m one-byte codes per
    * vector, deepest compression); returns its centroids. */
  private def ivfSavePqTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ivf_save_pq_t"
    require(args.length >= 7 && args.length <= 11,
      s"usage: $fn('corpusView', 'idCol', 'vecCol', 'dir', nlist, m, k[, " +
        "seed[, residual[, perCell[, 'rotationView']]]])")
    val cv = strLit(args(0), fn, "corpus view")
    val idCol = strLit(args(1), fn, "id column")
    val vecCol = strLit(args(2), fn, "vector column")
    val dir = strLit(args(3), fn, "index dir")
    val nlist = lngLit(args(4), fn, "nlist").toInt
    val m = lngLit(args(5), fn, "m").toInt
    val k = lngLit(args(6), fn, "k").toInt
    val seed = if (args.length >= 8) lngLit(args(7), fn, "seed") else 42L
    val residual = args.length >= 9 && boolLit(args(8), fn, "residual")
    val perCell = args.length >= 10 && boolLit(args(9), fn, "perCell")
    val spark = SparkSession.active
    val rotation =
      if (args.length == 11)
        Some(spark.table(strLit(args(10), fn, "rotation view")))
      else None
    graft.llm.Similarity.saveIvfIndexPQ(spark.table(cv), idCol, vecCol,
      dir, nlist, pqM = m, pqK = k, seed = seed, residual = residual,
      perCell = perCell, rotation = rotation)
    graft.llm.Similarity.ivfCentroids(spark, dir).queryExecution.logical
  }

  /** Build the `graft_ivf_topk_pq_t` table-function plan:
    * `graft_ivf_topk_pq_t('queriesView', 'dir', 'idCol', 'vecCol', k,
    * nprobe[, salt])` — ADC serve of a PQ index
    * ([[graft.llm.Similarity.ivfTopKPQ]]). */
  private def ivfTopkPqTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ivf_topk_pq_t"
    require(args.length >= 6 && args.length <= 7,
      s"usage: $fn('queriesView', 'dir', 'idCol', 'vecCol', k, nprobe[, salt])")
    val qv = strLit(args(0), fn, "queries view")
    val dir = strLit(args(1), fn, "index dir")
    val idCol = strLit(args(2), fn, "id column")
    val vecCol = strLit(args(3), fn, "vector column")
    val k = lngLit(args(4), fn, "k").toInt
    val nprobe = lngLit(args(5), fn, "nprobe").toInt
    val salt = if (args.length == 7) lngLit(args(6), fn, "salt").toInt else 1
    graft.llm.Similarity.ivfTopKPQ(SparkSession.active.table(qv), dir,
      idCol, vecCol, k, nprobe, salt).queryExecution.logical
  }

  /** Build the `graft_ivf_topk_pqr_t` table-function plan:
    * `graft_ivf_topk_pqr_t('queriesView', 'dir', 'refineView', 'idCol',
    * 'vecCol', k, nprobe[, refineFactor[, salt]])` — PQ + REFINE
    * ([[graft.llm.Similarity.ivfTopKPQRefined]]), the
    * `graft_ivf_topk_qr_t` contract (incl. the `refined` flag) on the
    * PQ proposal tier. */
  private def ivfTopkPqrTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ivf_topk_pqr_t"
    require(args.length >= 7 && args.length <= 9,
      s"usage: $fn('queriesView', 'dir', 'refineView', 'idCol', 'vecCol', " +
        "k, nprobe[, refineFactor[, salt]])")
    val qv = strLit(args(0), fn, "queries view")
    val dir = strLit(args(1), fn, "index dir")
    val rv = strLit(args(2), fn, "refine view")
    val idCol = strLit(args(3), fn, "id column")
    val vecCol = strLit(args(4), fn, "vector column")
    val k = lngLit(args(5), fn, "k").toInt
    val nprobe = lngLit(args(6), fn, "nprobe").toInt
    val factor = if (args.length >= 8) lngLit(args(7), fn, "refineFactor").toInt else 4
    val salt = if (args.length == 9) lngLit(args(8), fn, "salt").toInt else 1
    val spark = SparkSession.active
    graft.llm.Similarity.ivfTopKPQRefined(spark.table(qv), dir,
        spark.table(rv), idCol, vecCol, k, nprobe, factor, salt)
      .queryExecution.logical
  }

  /** Build the `graft_ivf_topk_q_t` table-function plan:
    * `graft_ivf_topk_q_t('queriesView', 'dir', 'idCol', 'vecCol', k,
    * nprobe[, salt])` — serve a quantized index
    * ([[graft.llm.Similarity.ivfTopKQuantized]]). */
  private def ivfTopkQTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ivf_topk_q_t"
    require(args.length >= 6 && args.length <= 7,
      s"usage: $fn('queriesView', 'dir', 'idCol', 'vecCol', k, nprobe[, salt])")
    val qv = strLit(args(0), fn, "queries view")
    val dir = strLit(args(1), fn, "index dir")
    val idCol = strLit(args(2), fn, "id column")
    val vecCol = strLit(args(3), fn, "vector column")
    val k = lngLit(args(4), fn, "k").toInt
    val nprobe = lngLit(args(5), fn, "nprobe").toInt
    val salt = if (args.length == 7) lngLit(args(6), fn, "salt").toInt else 1
    graft.llm.Similarity.ivfTopKQuantized(SparkSession.active.table(qv),
        dir, idCol, vecCol, k, nprobe, salt)
      .queryExecution.logical
  }

  /** Build the `graft_ivf_topk_qr_t` table-function plan:
    * `graft_ivf_topk_qr_t('queriesView', 'dir', 'refineView', 'idCol',
    * 'vecCol', k, nprobe[, refineFactor[, salt]])` — SQ8 + REFINE
    * ([[graft.llm.Similarity.ivfTopKQuantizedRefined]]): the quantized
    * index proposes k·refineFactor candidates, ONLY those are re-scored
    * exactly against the full-precision `refineView` — the serving form
    * you actually want when quantization noise reaches the score gaps
    * among near-tied neighbors. Output carries a `refined` flag:
    * false marks candidates absent from the refine view (kept at their
    * quantized score, ranked after every exact rescore). */
  private def ivfTopkQrTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ivf_topk_qr_t"
    require(args.length >= 7 && args.length <= 9,
      s"usage: $fn('queriesView', 'dir', 'refineView', 'idCol', 'vecCol', " +
        "k, nprobe[, refineFactor[, salt]])")
    val qv = strLit(args(0), fn, "queries view")
    val dir = strLit(args(1), fn, "index dir")
    val rv = strLit(args(2), fn, "refine view")
    val idCol = strLit(args(3), fn, "id column")
    val vecCol = strLit(args(4), fn, "vector column")
    val k = lngLit(args(5), fn, "k").toInt
    val nprobe = lngLit(args(6), fn, "nprobe").toInt
    val factor = if (args.length >= 8) lngLit(args(7), fn, "refineFactor").toInt else 4
    val salt = if (args.length == 9) lngLit(args(8), fn, "salt").toInt else 1
    val spark = SparkSession.active
    graft.llm.Similarity.ivfTopKQuantizedRefined(spark.table(qv), dir,
        spark.table(rv), idCol, vecCol, k, nprobe, factor, salt)
      .queryExecution.logical
  }

  /** Build the `graft_ivf_stats_t` table-function plan:
    * `graft_ivf_stats_t('dir')` — per-cell occupancy (cell, n, frac) of a
    * persisted index's SERVING corpus (base + committed deltas): the
    * drift/hot-cell diagnostic for append-grown indexes, from SQL. */
  private def ivfStatsTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ivf_stats_t"
    require(args.length == 1, s"usage: $fn('indexDir')")
    val dir = strLit(args(0), fn, "index dir")
    graft.llm.Similarity.ivfIndexStats(SparkSession.active, dir)
      .queryExecution.logical
  }

  /** Build the `graft_pq_stats_t` table-function plan:
    * `graft_pq_stats_t('dir')` — per-storage-unit (base + each committed
    * delta) mean/max encode-time relative quantization error of a PQ
    * index ([[graft.llm.Similarity.pqIndexStats]]): the codebook-drift
    * diagnostic, from SQL. */
  private def pqStatsTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_pq_stats_t"
    require(args.length == 1, s"usage: $fn('indexDir')")
    val dir = strLit(args(0), fn, "index dir")
    graft.llm.Similarity.pqIndexStats(SparkSession.active, dir)
      .queryExecution.logical
  }

  /** Build the `graft_pq_refresh_t` table-function plan:
    * `graft_pq_refresh_t('corpusView', 'idCol', 'vecCol', 'dir'[, pqK[,
    * retain]])` — retrain a drifted PQ index's codebooks on the
    * full-precision corpus view and rewrite one new committed version
    * ([[graft.llm.Similarity.refreshPqCodebooks]]: stored coarse
    * centroids reused, `retain` defaults to 1 so the previous version
    * keeps serving concurrent readers). EAGER side effect; returns the
    * refreshed index's [[graft.llm.Similarity.pqIndexStats]]. */
  private def pqRefreshTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_pq_refresh_t"
    require(args.length >= 4 && args.length <= 6,
      s"usage: $fn('corpusView', 'idCol', 'vecCol', 'dir'[, pqK[, retain]])")
    val cv = strLit(args(0), fn, "corpus view")
    val idCol = strLit(args(1), fn, "id column")
    val vecCol = strLit(args(2), fn, "vector column")
    val dir = strLit(args(3), fn, "index dir")
    val pqK = if (args.length >= 5) lngLit(args(4), fn, "pqK").toInt else 256
    val retain =
      if (args.length == 6) lngLit(args(5), fn, "retain").toInt else 1
    val spark = SparkSession.active
    graft.llm.Similarity.refreshPqCodebooks(spark.table(cv), idCol, vecCol,
      dir, pqK = pqK, retain = retain)
    graft.llm.Similarity.pqIndexStats(spark, dir).queryExecution.logical
  }

  /** Build the `graft_ivf_append_t` table-function plan:
    * `graft_ivf_append_t('newVectorsView', 'idCol', 'vecCol', 'dir'[,
    * compact])` — incremental index growth from SQL: assigns ONLY the new
    * vectors against the stored centroids and lands a `_COMMIT`-gated
    * delta (no retrain, no base rewrite); `compact = true` additionally
    * folds base + deltas into one new committed version afterwards.
    * EAGER with a side effect, like `graft_ivf_save_t`; returns the
    * served centroid table (cell, _cv). */
  private def ivfAppendTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ivf_append_t"
    require(args.length >= 4 && args.length <= 5,
      s"usage: $fn('newVectorsView', 'idCol', 'vecCol', 'dir'[, compact])")
    val nv = strLit(args(0), fn, "new-vectors view")
    val idCol = strLit(args(1), fn, "id column")
    val vecCol = strLit(args(2), fn, "vector column")
    val dir = strLit(args(3), fn, "index dir")
    val compact = args.length == 5 && boolLit(args(4), fn, "compact")
    val spark = SparkSession.active
    graft.llm.Similarity.appendIvfIndex(spark.table(nv), idCol, vecCol, dir)
    if (compact) graft.llm.Similarity.compactIvfIndex(spark, dir)
    graft.llm.Similarity.ivfCentroids(spark, dir).queryExecution.logical
  }

  /** Build the `graft_ivf_topk_indexed_t` table-function plan:
    * `graft_ivf_topk_indexed_t('queriesView', 'dir', 'idCol', 'vecCol',
    * k, nprobe[, salt])` — IVF top-k served from a `graft_ivf_save_t`
    * directory: no training, no corpus assignment, probed-cells-only scan
    * (dynamic partition pruning over the cell-partitioned layout). */
  private def ivfTopkIndexedTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ivf_topk_indexed_t"
    require(args.length >= 6 && args.length <= 8,
      s"usage: $fn('queriesView', 'dir', 'idCol', 'vecCol', k, nprobe" +
        "[, salt[, 'allowView']])")
    val qv = strLit(args(0), fn, "queries view")
    val dir = strLit(args(1), fn, "index dir")
    val idCol = strLit(args(2), fn, "id column")
    val vecCol = strLit(args(3), fn, "vector column")
    val k = lngLit(args(4), fn, "k").toInt
    val nprobe = lngLit(args(5), fn, "nprobe").toInt
    val salt = if (args.length >= 7) lngLit(args(6), fn, "salt").toInt else 1
    val spark = SparkSession.active
    // filtered search: a single-column allow view resolves positionally
    // (renamed to the serve's idCol); a wider one must carry idCol by
    // name — stated here so the failure names the contract instead of
    // surfacing as an unresolved-column AnalysisException downstream
    val allow = if (args.length == 8) {
      val av = spark.table(strLit(args(7), fn, "allow view"))
      if (av.columns.length == 1) Some(av.toDF(idCol))
      else {
        require(av.columns.contains(idCol),
          s"$fn: allow view must have exactly one column or contain the " +
            s"id column '$idCol' (has: ${av.columns.mkString(", ")})")
        Some(av)
      }
    } else None
    graft.llm.Similarity.ivfTopKIndexed(spark.table(qv), dir, idCol, vecCol,
        k, nprobe, salt, allow = allow, allowIdCol = idCol)
      .queryExecution.logical
  }

  /** Build the `graft_ivf_topk_t` table-function plan:
    * `graft_ivf_topk_t('queriesView', 'corpusView', 'idCol', 'vecCol', k,
    * nlist, nprobe[, seed[, salt]])` — IVF approximate nearest neighbors
    * from pure SQL. Seeded k-means centroids (`nlist` cells) are trained
    * on the corpus AT PLAN BUILD — an eager analysis-time job, the same
    * documented eagerness as `graft_neardup_t` — then queries fan out to
    * their `nprobe` nearest cells for the scored join
    * ([[graft.llm.Similarity.ivfTopK]]); `salt` > 1 spreads each cell's
    * corpus rows over that many sub-buckets (hot-cell skew relief, result
    * set unchanged). Unlike `graft_topk_t` the query side is distributed —
    * no broadcast cap. */
  private def ivfTopkTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ivf_topk_t"
    require(args.length >= 7 && args.length <= 9,
      s"usage: $fn('queriesView', 'corpusView', 'idCol', 'vecCol', k, nlist, nprobe[, seed[, salt]])")
    val qv = strLit(args(0), fn, "queries view")
    val cv = strLit(args(1), fn, "corpus view")
    val idCol = strLit(args(2), fn, "id column")
    val vecCol = strLit(args(3), fn, "vector column")
    val k = lngLit(args(4), fn, "k").toInt
    val nlist = lngLit(args(5), fn, "nlist").toInt
    val nprobe = lngLit(args(6), fn, "nprobe").toInt
    val seed = if (args.length >= 8) lngLit(args(7), fn, "seed") else 42L
    val salt = if (args.length == 9) lngLit(args(8), fn, "salt").toInt else 1
    val spark = SparkSession.active
    val corpus = spark.table(cv)
    val centroids = graft.llm.Similarity.trainCentroids(
      corpus, vecCol, nlist, seed = seed)
    graft.llm.Similarity.ivfTopK(spark.table(qv), corpus, centroids,
        idCol, vecCol, k, nprobe, salt)
      .queryExecution.logical
  }

  /** Build the `graft_ffill_t` table-function plan:
    * `graft_ffill_t('view', 'orderCol', 'col1,col2'[, bucketSize[,
    * 'grp1,grp2']])` — pandas `ffill` (W3) from pure SQL. With
    * `bucketSize > 0` the keyless form runs the bucketed carry
    * ([[graft.operators.Fill.ffillBucketed]] — exact ffill semantics, no
    * single-partition sort at any size); the SQL-native
    * `last_value(c, true) OVER (ORDER BY ...)` form cannot avoid that
    * sort on a keyless table. `orderCol` must be numeric for the bucketed
    * form (epoch micros / frame ids). */
  private def ffillTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ffill_t"
    require(args.length >= 3 && args.length <= 5,
      s"usage: $fn('view', 'orderCol', 'col1,col2'[, bucketSize[, 'grp1,grp2']])")
    val view = strLit(args(0), fn, "view name")
    val orderCol = strLit(args(1), fn, "order column")
    val cols = strLit(args(2), fn, "fill columns")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(cols.nonEmpty, s"$fn: at least one fill column required")
    val bucket = if (args.length >= 4) lngLit(args(3), fn, "bucketSize") else 0L
    val by = (if (args.length == 5) strLit(args(4), fn, "group columns") else "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = SparkSession.active
    val df = spark.table(view)
    val filled =
      if (bucket > 0) graft.operators.Fill.ffillBucketed(df, cols, orderCol, bucket, by)
      else graft.operators.Fill.ffill(df, cols, orderCol, by)
    filled.queryExecution.logical
  }

  /** Build the `graft_fights_t` table-function plan:
    * `graft_fights_t('poseView'[, 'partsCsv'[, 'idA,idB'[, fps[, 'blobView']]]])`
    * runs the full batch fight detector ([[graft.behavior.Detectors.detectFights]])
    * over the named view — the flagship pipeline from pure SQL. Pass the
    * identity pair to keep resolution fully lazy (without it the detector
    * resolves the 2-identity domain with one small job at plan build, like
    * the typed API). `''` parts = identity skeleton mapping; a non-empty
    * 5th argument joins the named blob view for the speed condition. */
  private def fightsTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_fights_t"
    require(args.nonEmpty && args.length <= 5,
      s"usage: $fn('view'[, 'nose=..,head=..,centroid=..,tail_base=..'[, 'idA,idB'[, fps[, 'blobView']]]])")
    val view = strLit(args(0), fn, "view name")
    val parts = partsMap(if (args.length >= 2) strLit(args(1), fn, "parts mapping") else "", fn)
    val ids = if (args.length >= 3) idsOpt(strLit(args(2), fn, "identities")) else None
    val fps = if (args.length >= 4) dblLit(args(3), fn, "fps") else 50.0
    val blob = (if (args.length >= 5) Some(strLit(args(4), fn, "blob view")) else None)
      .filter(_.trim.nonEmpty)
    val spark = SparkSession.active
    graft.behavior.Detectors.detectFights(spark.table(view),
        blob.map(spark.table), parts,
        graft.behavior.Detectors.FightParams(fps = fps), knownIds = ids)
      .toDF().queryExecution.logical
  }

  /** Build the `graft_tube_tests_t` table-function plan:
    * `graft_tube_tests_t('poseView'[, 'partsCsv'[, 'idA,idB'[, fps[, 'cx,cy,innerR,outerR']]]])`
    * — the batch tube-test detector from pure SQL; the optional 5th
    * argument is the annulus ROI (nest/gate exclusions need the typed
    * [[graft.behavior.Detectors.Roi]] API). */
  private def tubeTablePlan(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_tube_tests_t"
    require(args.nonEmpty && args.length <= 5,
      s"usage: $fn('view'[, 'nose=..,head=..,centroid=..,tail_base=..'[, 'idA,idB'[, fps[, 'cx,cy,innerR,outerR']]]])")
    val view = strLit(args(0), fn, "view name")
    val parts = partsMap(if (args.length >= 2) strLit(args(1), fn, "parts mapping") else "", fn)
    val ids = if (args.length >= 3) idsOpt(strLit(args(2), fn, "identities")) else None
    val fps = if (args.length >= 4) dblLit(args(3), fn, "fps") else 50.0
    val roi = (if (args.length >= 5) Some(strLit(args(4), fn, "roi")) else None)
      .filter(_.trim.nonEmpty).map { csv =>
        val parts = csv.split(",").map(_.trim)
        val xs =
          try parts.map(_.toDouble)
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"$fn: roi must be 'cx,cy,innerR,outerR' (numeric CSV), got '$csv'")
          }
        require(xs.length == 4,
          s"$fn: roi must be 'cx,cy,innerR,outerR', got '$csv'")
        graft.behavior.Detectors.Roi(xs(0), xs(1), xs(2), xs(3))
      }
    val spark = SparkSession.active
    graft.behavior.Detectors.detectTubeTests(spark.table(view), parts,
        graft.behavior.Detectors.TubeParams(fps = fps), roi = roi, knownIds = ids)
      .toDF().queryExecution.logical
  }

  /** Build the `graft_assign_t` table-function plan:
    * `graft_assign_t('view', 'groupCols,csv', 'l', 'r', 'cost')` runs the
    * distributed [[graft.operators.Assignment.assign]] over the named view
    * — per-group optimal assignment with groups distributed across the
    * cluster (each group's candidate set is still collected onto one row
    * for the JV solve, the operator's intrinsic per-group contract; pass ''
    * for a single global group). */
  private def assignTablePlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 5,
      "usage: graft_assign_t('view', 'group1,group2', 'leftCol', 'rightCol', 'costCol')")
    val fn = "graft_assign_t"
    val view = strLit(args(0), fn, "view name")
    val groups = strLit(args(1), fn, "group columns").split(",")
      .map(_.trim).filter(_.nonEmpty).toSeq
    val l = strLit(args(2), fn, "left column")
    val r = strLit(args(3), fn, "right column")
    val cost = strLit(args(4), fn, "cost column")
    val spark = SparkSession.active
    graft.operators.Assignment
      .assign(spark.table(view), groups, l, r, cost)
      .queryExecution.logical
  }
}
