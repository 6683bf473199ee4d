package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.collection.mutable

/** SQL façade (SURVEY §7.1 item 9 / §7.3 stretch): register the
  * scale-factor tables as temp views AND expose the typed operator kernels
  * to `spark.sql(...)` so a SQL-only user can run them:
  *
  *   - the `graft_*_t` TABLE functions (registered in the session's
  *     TableFunctionRegistry), one entry each in [[functions]]: its name,
  *     its usage — the argument list as a SQL user writes it, quoted
  *     parameters are string literals, the ones after the first `[` are
  *     optional — and its builder, whose scaladoc says what it runs.
  *     `SELECT * FROM graft_sessionize_t('events_v', 'ts', 86400000000)`
  *     returns the view's rows plus `session_id`, running the same
  *     distributed plan as the typed [[graft.operators.Sessionize]];
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
  *     the reference), and the J3 solve is inherently per-group
  *     (`graft_assign_t` distributes the groups instead).
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

  /** Register the SQL-callable operator kernels in `spark`'s session.
    * Idempotent: a name the session already holds is skipped, not
    * replaced (a replacement logs one WARN per name). */
  def registerFunctions(spark: SparkSession): Unit = {
    val tables = spark.sessionState.tableFunctionRegistry
    functions.filterNot(f => tables.functionExists(FunctionIdentifier(f.name)))
      .foreach { f =>
        tables.registerFunction(FunctionIdentifier(f.name),
          new ExpressionInfo("graft.GraftSql", f.name),
          (args: Seq[Expression]) => f.plan(args))
      }
    def absent(name: String) =
      !spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))
    if (absent("graft_sessionize")) spark.udf.register("graft_sessionize",
      (times: Seq[Long], gapUs: Long) => {
        var sid = 0L
        var prev = Long.MinValue
        times.map { t =>
          if (prev != Long.MinValue && t - prev > gapUs) sid += 1
          prev = t
          sid
        }
      })
    if (absent("graft_assign")) spark.udf.register("graft_assign",
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

  /** One SQL table function. `usage` is the only statement of its
    * signature: its top-level parameters (commas outside quotes) give the
    * maximum arity, the ones before the first `[` the minimum, and a
    * quoted parameter must be a string literal. [[plan]] checks all three
    * before `build` runs, in the calling session. */
  private[graft] final case class TableFn(name: String, usage: String,
      build: Args => DataFrame) {
    /** The parameters as the usage spells them, and the required count. */
    val (params, minArgs): (IndexedSeq[String], Int) = {
      val ps = mutable.ArrayBuffer(new StringBuilder)
      var quoted = false
      var required = -1
      usage.stripPrefix("(").stripSuffix(")").foreach {
        case '\'' => quoted = !quoted; ps.last += '\''
        case ',' if !quoted => ps += new StringBuilder
        case '[' if !quoted => if (required < 0) required = ps.length
        case ']' if !quoted => ()
        case c => ps.last += c
      }
      (ps.map(_.toString.trim).toIndexedSeq,
        if (required < 0) ps.length else required)
    }
    def maxArgs: Int = params.length

    def error(msg: String) = new IllegalArgumentException(s"$name: $msg")

    def plan(args: Seq[Expression]): LogicalPlan = {
      if (args.length < minArgs || args.length > maxArgs)
        throw error(s"usage: $name$usage")
      val a = new Args(this, args, SparkSession.active)
      args.indices.filter(params(_).startsWith("'")).foreach(i => a.str(i))
      build(a).queryExecution.logical
    }
  }

  /** One call's literal arguments, read by position. The arity is already
    * checked against the usage, so a required position is always present;
    * an absent optional one yields its default. Every error names the
    * function and the parameter as its usage spells it. */
  private[graft] final class Args(fn: TableFn, args: Seq[Expression],
      val spark: SparkSession) {
    def has(i: Int): Boolean = i < args.length
    def error(msg: String): IllegalArgumentException = fn.error(msg)
    def check(ok: Boolean, msg: => String): Unit = if (!ok) throw error(msg)

    private def lit[T](i: Int, kind: String)(
        read: PartialFunction[(Any, DataType), T]): T = args(i) match {
      case Literal(v, t) if v != null && read.isDefinedAt((v, t)) => read((v, t))
      case other => throw error(s"${fn.params(i)} must be $kind literal, got $other")
    }

    def str(i: Int): String = lit(i, "a string") { case (v, StringType) => v.toString }
    def str(i: Int, default: String): String = if (has(i)) str(i) else default

    /** Any integral literal: TINYINT … BIGINT, or a scale-0 decimal that
      * fits a long (the types [[graft.functions.Cols.micros]] accepts). */
    def long(i: Int): Long = lit(i, "an integer") {
      case (v: Number, ByteType | ShortType | IntegerType | LongType) => v.longValue
      case (v: Decimal, t: DecimalType) if t.scale == 0 && v.toBigDecimal.isValidLong =>
        v.toLong
    }
    def long(i: Int, default: Long): Long = if (has(i)) long(i) else default

    /** [[long]] narrowed to an int: a value outside the int range is
      * refused, never wrapped. */
    def int(i: Int): Int = {
      val v = long(i)
      check(v.isValidInt, s"${fn.params(i)} must fit in an int, got $v")
      v.toInt
    }
    def int(i: Int, default: Int): Int = if (has(i)) int(i) else default

    def dbl(i: Int): Double = lit(i, "a numeric") {
      case (v, _: NumericType) => v.toString.toDouble
    }
    def dbl(i: Int, default: Double): Double = if (has(i)) dbl(i) else default

    def bool(i: Int): Boolean = lit(i, "a boolean") { case (v: Boolean, BooleanType) => v }
    def bool(i: Int, default: Boolean): Boolean = if (has(i)) bool(i) else default

    /** The named view, resolved in the calling session. */
    def view(i: Int): DataFrame = spark.table(str(i))

    /** A comma-separated name list; empty when absent. */
    def csv(i: Int): Seq[String] =
      str(i, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  private val docsUsage = "('docsView', 'idCol', 'textCol')"
  private val docsModelUsage = "('docsView', 'idCol', 'textCol', 'modelView')"
  private val spanUsage = "('docsView', 'idCol', 'textCol', spanTokens[, minDocs])"
  private val spanStreamUsage = "('landingDir', 'workDir'[, spanTokens[, minDocs]])"
  private val dhashUsage = "('mediaView', maxDist[, bands[, 'idCol', 'payloadCol']])"
  private val frameUsage =
    "('mediaView', frameBytes, everyN, maxDist[, minFrames[, bands]])"
  private val semDedupUsage = "('vecsView', 'centsView', minCos[, 'idCol', 'vecCol'])"
  private val ivfSaveUsage = "('corpusView', 'idCol', 'vecCol', 'dir', nlist[, seed])"
  private val ivfServeUsage =
    "('queriesView', 'dir', 'idCol', 'vecCol', k, nprobe[, salt])"
  private val ivfRefineUsage = "('queriesView', 'dir', 'refineView', 'idCol', " +
    "'vecCol', k, nprobe[, refineFactor[, salt]])"
  private val indexDirUsage = "('indexDir')"
  private val trainUsage =
    "('labeledView', 'idCol', 'textCol', 'labelCol', dim[, bigrams[, iters]])"
  private val trainGdUsage = "('labeledView', 'idCol', 'textCol', 'labelCol', " +
    "dim[, bigrams[, iters[, lr[, l2]]]])"
  private val scoreUsage =
    "('docsView', 'idCol', 'textCol', 'weightsView', dim[, bigrams])"

  import graft.llm.{Bpe, Dedup, IvfRefine, IvfTier, Multimodal, Quality,
    Relevance, Sampling, Similarity, SpUnigram}
  import graft.streaming.{DedupStream, PipelineStream, SpanDupStream}

  /** The SQL surface: every `graft_*_t` table function, registered by
    * [[registerFunctions]] in this order. */
  private[graft] val functions: Seq[TableFn] = Seq(
    TableFn("graft_sessionize_t",
      "('view', 'orderCol', gapUs[, bucketSize[, 'grp1,grp2']])", sessionizeTable),
    TableFn("graft_assign_t",
      "('view', 'group1,group2', 'leftCol', 'rightCol', 'costCol')", assignTable),
    TableFn("graft_asof_t", "('leftView', 'rightView', 'timeCol', 'by1,by2', " +
      "'backward|forward|nearest'[, tolUs[, bucketUs]])", asofTable),
    TableFn("graft_band_t", "('leftView', 'rightView', 'leftTime', 'rightTime', " +
      "'by1,by2', lowerUs, upperUs)", bandTable),
    TableFn("graft_winnow_pairs_t",
      "('docsView', 'idCol', 'textCol'[, k, window, minShared, maxBucket])",
      winnowPairsTable),
    TableFn("graft_neardup_t",
      "('docsView', 'idCol', 'textCol'[, n[, numHashes[, bands[, minJaccard]]]])",
      neardupTable),
    TableFn("graft_topk_t", "('queriesView', 'corpusView', 'idCol', 'vecCol', k)",
      topkTable),
    TableFn("graft_combine_t",
      "('poseView', 'idsView'[, fps[, maxDistance[, 'anchorPart']]])", combineTable),
    TableFn("graft_ivf_topk_t", "('queriesView', 'corpusView', 'idCol', 'vecCol', " +
      "k, nlist, nprobe[, seed[, salt]])", ivfTopkTable),
    TableFn("graft_ingest_dedup_t",
      "('landingDir', 'workDir'[, n[, numHashes[, bands[, minJaccard]]]])",
      ingestDedupTable),
    TableFn("graft_spandup_t", spanUsage, spanTable(Dedup.spanDupStats(_, _, _, _, _))),
    TableFn("graft_span_remove_t", spanUsage, spanTable(Dedup.removeDupSpans(_, _, _, _, _))),
    TableFn("graft_ingest_spandup_t", spanStreamUsage, ingestSpanDupTable),
    TableFn("graft_repetition_t", docsUsage, repetitionTable),
    TableFn("graft_line_dedup_t",
      "('docsView', 'idCol', 'textCol'[, minDocs[, 'sep']])", lineDedupTable),
    TableFn("graft_lm_t", "('refView', 'textCol', vocab)", lmTable),
    TableFn("graft_lm_score_t", docsModelUsage, lmScoreTable),
    TableFn("graft_bigram_lm_t", "('refView', 'textCol', 'uniModelView', vocab)",
      bigramLmTable),
    TableFn("graft_ngram_score_t", "('docsView', 'idCol', 'textCol', " +
      "'uniModelView', 'biModelView'[, backoff])", ngramScoreTable),
    TableFn("graft_trigram_lm_t", "('refView', 'textCol', 'biModelView', vocab)",
      trigramLmTable),
    TableFn("graft_trigram_score_t", "('docsView', 'idCol', 'textCol', " +
      "'uniModelView', 'biModelView', 'triModelView'[, backoff])",
      trigramScoreTable),
    TableFn("graft_kn_score_t", "('docsView', 'idCol', 'textCol', " +
      "'uniModelView', 'biModelView'[, discount])", knScoreTable),
    TableFn("graft_lm_ratio_t", "('docsView', 'idCol', 'textCol', " +
      "'targetModelView', 'sourceModelView')", lmRatioTable),
    TableFn("graft_gopher_t", "('docsView', 'idCol', 'textCol'[, minWords])",
      gopherTable),
    TableFn("graft_pii_scrub_t", docsUsage, piiScrubTable),
    TableFn("graft_sample_t", "('docsView', 'idCol', pct)", sampleTable),
    TableFn("graft_quota_t", "('docsView', 'strataCsv', 'idCol', k)", quotaTable),
    TableFn("graft_pack_t",
      "('docsView', 'idCol', 'textCol', 'strataCol', budget[, shards])", packTable),
    TableFn("graft_contamination_t",
      "('corpusView', 'benchView', 'idCol', 'textCol'[, n])", contaminationTable),
    TableFn("graft_shuffle_t", "('docsView', 'idCol', numShards[, 'salt'])",
      shuffleTable),
    TableFn("graft_span_rescore_t", spanStreamUsage, spanRescoreTable),
    TableFn("graft_ingest_repair_t", "('workDir'[, minJaccard[, maxBandBucket]])",
      ingestRepairTable),
    TableFn("graft_ingest_sem_repair_t",
      "('workDir', 'indexDir', semMinCos[, retain])", ingestSemRepairTable),
    TableFn("graft_ingest_pipeline_t", "('landingDir', 'workDir', 'indexDir'[, " +
      "minJaccard[, spanTokens[, maxDupFrac[, maxDupWordFrac[, " +
      "maxTopBigramFrac[, 'benchView'[, maxContamFrac[, contamN[, normalize[, " +
      "semMinCos[, gopher[, minQuality[, 'stop,words'[, 'keep,langs'[, " +
      "'lang:marker,words;lang2:…'[, 'classifierView'[, classifierDim[, " +
      "minLogitMicro]]]]]]]]]]]]]]]]]])", ingestPipelineTable),
    TableFn("graft_ivf_save_t", ivfSaveUsage, ivfSaveTable(_ => IvfTier.Float)),
    TableFn("graft_ivf_topk_indexed_t", "('queriesView', 'dir', 'idCol', " +
      "'vecCol', k, nprobe[, salt[, 'allowView']])", ivfServeTable("float")),
    TableFn("graft_ivf_append_t",
      "('newVectorsView', 'idCol', 'vecCol', 'dir'[, compact])", ivfAppendTable),
    TableFn("graft_ivf_stats_t", indexDirUsage,
      a => Similarity.ivfIndexStats(a.spark, a.str(0))),
    TableFn("graft_pq_stats_t", indexDirUsage,
      a => Similarity.pqIndexStats(a.spark, a.str(0))),
    TableFn("graft_pq_refresh_t",
      "('corpusView', 'idCol', 'vecCol', 'dir'[, pqK[, retain]])", pqRefreshTable),
    TableFn("graft_ivf_save_q_t", ivfSaveUsage, ivfSaveTable(_ => IvfTier.Sq8)),
    TableFn("graft_ivf_topk_q_t", ivfServeUsage, ivfServeTable("sq8")),
    TableFn("graft_ivf_topk_qr_t", ivfRefineUsage, ivfServeTable("sq8", refine = true)),
    TableFn("graft_ivf_save_pq_t", "('corpusView', 'idCol', 'vecCol', 'dir', " +
      "nlist, m, k[, seed[, residual[, perCell[, 'rotationView']]]])",
      ivfSaveTable(a => IvfTier.Pq(a.int(5), a.int(6), a.bool(8, false),
        a.bool(9, false), rotation = Option.when(a.has(10))(a.view(10))))),
    TableFn("graft_ivf_topk_pq_t", ivfServeUsage, ivfServeTable("pq")),
    TableFn("graft_ivf_topk_pqr_t", ivfRefineUsage, ivfServeTable("pq", refine = true)),
    TableFn("graft_dhash_pairs_t", dhashUsage, dhashTable(Multimodal.dHashPairs)),
    TableFn("graft_dhash_clusters_t", dhashUsage,
      dhashTable(Multimodal.dHashClusters)),
    TableFn("graft_frame_dup_t", frameUsage, frameTable(Multimodal.frameDupPairs)),
    TableFn("graft_frame_clusters_t", frameUsage,
      frameTable(Multimodal.frameDupClusters)),
    TableFn("graft_semdedup_t", semDedupUsage,
      semDedupTable(Similarity.semDedup(_, _, _, _, _))),
    TableFn("graft_semdedup_pairs_t", semDedupUsage,
      semDedupTable(Similarity.semDedupPairs(_, _, _, _, _))),
    TableFn("graft_mix_sample_t",
      "('docsView', 'strataCol', 'idCol', 'ratesView'[, defaultPct])", mixSampleTable),
    TableFn("graft_mix_quota_t",
      "('docsView', 'strataCol', 'idCol', 'weightsView', total)", mixQuotaTable),
    TableFn("graft_temperature_quota_t",
      "('docsView', 'strataCol', 'idCol', tau, total)", temperatureQuotaTable),
    TableFn("graft_ppl_buckets_t", "('docsView', 'idCol', 'textCol', " +
      "'uniModelView', 'biModelView', t1, t2[, backoff])", pplBucketsTable),
    TableFn("graft_normalize_t", "('docsView', 'idCol', 'textCol'[, lower])",
      normalizeTable),
    TableFn("graft_chunk_t", "('docsView', 'idCol', 'textCol', maxTokens[, overlap])",
      chunkTable),
    TableFn("graft_tfidf_t", "('docsView', 'idCol', 'textCol', k)", tfidfTable),
    TableFn("graft_bm25_t", "('docsView', 'idCol', 'textCol', 'term1,term2,…', k)",
      bm25Table),
    TableFn("graft_bm25_batch_t", "('docsView', 'idCol', 'textCol', " +
      "'queriesView', 'qidCol', 'termsCol', k)", bm25BatchTable),
    TableFn("graft_classifier_train_t", trainUsage,
      trainTable(Quality.trainTextClassifier(_, _, _, _, _, _, _))),
    TableFn("graft_sp_unigram_train_t",
      "('docsView', 'idCol', 'textCol', vocab[, iters[, maxPieceLen]])",
      spUnigramTrainTable),
    TableFn("graft_classifier_train_gd_t", trainGdUsage,
      trainGdTable(Quality.trainTextClassifierGd)),
    TableFn("graft_classifier_train_multi_t", trainUsage,
      trainTable(Quality.trainTextClassifierMulti(_, _, _, _, _, _, _))),
    TableFn("graft_classifier_train_multi_gd_t", trainGdUsage,
      trainGdTable(Quality.trainTextClassifierMultiGd)),
    TableFn("graft_langid_t", scoreUsage, scoreTable(Quality.langIdTrained)),
    TableFn("graft_classifier_score_t", scoreUsage,
      scoreTable(Quality.scoreTextClassifier)),
    TableFn("graft_kmeans_t", "('vectorsView', 'vecCol', 'seedsView', iters)",
      kmeansTable),
    TableFn("graft_opq_train_t",
      "('sampleView', 'idCol', 'vecCol', m[, k[, iters]])", opqTrainTable),
    TableFn("graft_bpe_train_t",
      "('docsView', 'idCol', 'textCol', numMerges[, maxBatch])", bpeTrainTable),
    TableFn("graft_bpe_encode_t", "('docsView', 'idCol', 'textCol', 'mergesView')",
      bpeEncodeTable),
    TableFn("graft_sp_encode_t", docsModelUsage, spEncodeTable),
    TableFn("graft_ffill_t",
      "('view', 'orderCol', 'col1,col2'[, bucketSize[, 'grp1,grp2']])", ffillTable),
    TableFn("graft_fights_t", "('view'[, 'nose=..,head=..,centroid=..," +
      "tail_base=..'[, 'idA,idB'[, fps[, 'blobView']]]])", fightsTable),
    TableFn("graft_tube_tests_t", "('view'[, 'nose=..,head=..,centroid=..," +
      "tail_base=..'[, 'idA,idB'[, fps[, 'cx,cy,innerR,outerR']]]])", tubeTable))

  /** `graft_sessionize_t`: wrap the named view in the distributed
    * Sessionize plan — no per-group array ever materializes, so the
    * function scales to keyless tables of any size (pass `bucketSize` to
    * also avoid the single global sort; see
    * [[graft.operators.Sessionize.sessionize]]). The optional 5th argument
    * gives per-key sessionization:
    * `graft_sessionize_t('v', 'ts', gap, 0, 'user_id')` (bucketSize 0 =
    * unbucketed; group keys already distribute the sort). */
  private def sessionizeTable(a: Args): DataFrame =
    graft.operators.Sessionize.sessionize(a.view(0), a.str(1), a.csv(4),
      a.long(2), bucketSize = Some(a.long(3, 0L)).filter(_ > 0))

  /** Parse `'nose=nose,head=head,centroid=spine2,tail_base=spine4'`;
    * '' = identity mapping over the 4 logical skeleton parts. */
  private def partsMap(a: Args): Map[String, String] = {
    val logical = Seq("nose", "head", "centroid", "tail_base")
    val csv = a.str(1, "")
    if (csv.trim.isEmpty) logical.map(p => p -> p).toMap
    else {
      val m = csv.split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
        kv.split("=").map(_.trim) match {
          case Array(k, v) => k -> v
          case _ => throw a.error(s"parts mapping entry '$kv' is not logical=physical")
        }
      }.toMap
      a.check(logical.forall(m.contains),
        s"parts mapping must cover ${logical.mkString(", ")}")
      m
    }
  }

  /** `graft_asof_t`: pandas `merge_asof` from pure SQL, running the
    * distributed [[graft.operators.AsOfJoin.asofJoin]] (J2/J11). `''`
    * by-columns = keyless; tolUs 0 = unbounded; bucketUs > 0 opts into the
    * bucketed keyless form (no single-partition sort at any size). */
  private def asofTable(a: Args): DataFrame = {
    import graft.operators.AsOfJoin
    val dir = a.str(4).toLowerCase(java.util.Locale.ROOT) match {
      case "backward" => AsOfJoin.Backward
      case "forward" => AsOfJoin.Forward
      case "nearest" => AsOfJoin.Nearest
      case other => throw a.error(
        s"direction must be backward|forward|nearest, got '$other'")
    }
    AsOfJoin.asofJoin(a.view(0), a.view(1), a.str(2), a.csv(3), dir,
      tolerance = Some(a.long(5, 0L)).filter(_ > 0),
      bucketUs = Some(a.long(6, 0L)).filter(_ > 0))
  }

  /** `graft_band_t`: the bucketed tolerance band join (J1) from pure SQL.
    * A naive SQL `JOIN ON r.t BETWEEN l.t+lo AND l.t+hi` plans as a
    * nested-loop join; this runs the equi-bucketed
    * [[graft.operators.BandJoin.bandJoin]] shape that survives scale. */
  private def bandTable(a: Args): DataFrame =
    graft.operators.BandJoin.bandJoin(a.view(0), a.view(1), a.str(2),
      a.str(3), a.csv(4), a.long(5), a.long(6))

  /** `graft_neardup_t`: the FULL near-duplicate pipeline from pure SQL:
    * MinHash+LSH banding → exact Jaccard verification → star-contraction
    * connected components → survivor selection. Returns the view's rows
    * plus `rep_id`; `... WHERE idCol = rep_id` is the deduplicated corpus.
    * Defaults: 3-gram shingles, 64 hashes, 16 bands, minJaccard 0.7.
    *
    * EAGER at analysis: connected components is an iterative algorithm, so
    * the clustering RUNS when the statement is analyzed (even under
    * EXPLAIN), once per statement referencing the function. On large
    * corpora, materialize the result once
    * (`CREATE TABLE deduped AS SELECT * FROM graft_neardup_t(...)`) and
    * query the table. Runs the collapsed-representative scale path
    * ([[graft.llm.Dedup.minhashRepresentatives]]): exact duplicates never
    * expand into pairs, and no cache entry outlives the statement. */
  private def neardupTable(a: Args): DataFrame =
    Dedup.minhashRepresentatives(a.view(0), a.str(1), a.str(2), a.int(3, 3),
      a.int(4, 64), a.int(5, 16), a.dbl(6, 0.7))

  /** `graft_topk_t`: exact brute-force cosine top-k over an embedding
    * column from pure SQL (broadcast query side, per-partition heap
    * pre-reduce; the capped broadcast contract of
    * [[graft.llm.Similarity.cosineTopK]] applies). */
  private def topkTable(a: Args): DataFrame =
    Similarity.cosineTopK(a.view(0), a.view(1), a.str(2), a.str(3), a.int(4))

  /** `graft_combine_t`: the full combine kernel
    * ([[graft.combine.Combine.combineChunk]]: tick grid, band-join
    * anchoring, per-tick optimal assignment, feasibility-gated writeback)
    * from pure SQL. `poseView` carries (time, pose_id, part, x, y);
    * `idsView` carries (time, identity, identity_likelihood, x_top,
    * y_top). Output = pose columns + (identity, identity_likelihood) for
    * matched pose instances. */
  private def combineTable(a: Args): DataFrame = {
    import graft.combine.Combine
    Combine.combineChunk(a.view(0), a.view(1),
      Combine.Params(fps = a.dbl(2, 50.0), maxDistance = a.dbl(3, 40.0)),
      a.str(4, "anchor"))
  }

  /** `graft_ingest_dedup_t`: the round-6 flagship (ingest-time
    * near-duplicate dedup with unbounded disk-resident LSH state) from
    * pure SQL. EAGER at analysis with a SIDE EFFECT, by design: the call
    * RUNS one checkpointed poll of `landingDir` against `workDir`'s
    * corpus state ([[graft.streaming.DedupStream.pollNearDedup]] —
    * exactly-once per landed file, idempotent when nothing new landed)
    * and the statement then reads the accumulated (doc_id, rep_id)
    * assignment table. Re-running the statement re-polls: the natural
    * "land files, run the statement, read assignments" SQL loop.
    * Defaults match [[graft.streaming.DedupStream.Params]]. */
  private def ingestDedupTable(a: Args): DataFrame = {
    val d = DedupStream.Params()
    val p = d.copy(n = a.int(2, d.n), numHashes = a.int(3, d.numHashes),
      bands = a.int(4, d.bands), minJaccard = a.dbl(5, d.minJaccard))
    // the poll runs in an ISOLATED session (own SessionCatalog, shared
    // SparkContext): this builder executes while the analyzer holds the
    // calling session's SessionCatalog lock, and the poll's micro-batch
    // thread must analyze its own plans — same-session would deadlock on
    // that lock. Dedup state is entirely filesystem-resident, so the
    // fresh session sees it all.
    DedupStream.pollNearDedup(a.spark.newSession(), a.str(0), a.str(1), p)
    DedupStream.assignments(a.spark, a.str(1))
  }

  /** `graft_spandup_t` — [[graft.llm.Dedup.spanDupStats]]: per document,
    * the fraction of its spanTokens-token windows appearing verbatim in
    * ≥ minDocs distinct documents; `graft_span_remove_t` —
    * [[graft.llm.Dedup.removeDupSpans]]: every token covered by a window
    * duplicated in ≥ minDocs distinct documents excised, one (doc_id,
    * clean_text, n_removed) row per input document. */
  private def spanTable(op: (DataFrame, String, String, Int, Int) => DataFrame)(
      a: Args): DataFrame =
    op(a.view(0), a.str(1), a.str(2), a.int(3), a.int(4, 2))

  /** `graft_dhash_pairs_t` — [[graft.llm.Multimodal.dHashPairs]]:
    * perceptual near-duplicate (i, j, hamming) pairs over the opaque
    * binary payload column; `graft_dhash_clusters_t` — the cluster form
    * ((rep_id, n_members) per multi-member perceptual near-dup group). */
  private def dhashTable(
      op: (DataFrame, Int, Int, String, String) => DataFrame)(a: Args): DataFrame = {
    a.check(a.has(3) == a.has(4), "idCol and payloadCol must be given together")
    op(a.view(0), a.int(1), a.int(2, 4), a.str(3, "doc_id"), a.str(4, "payload"))
  }

  /** `graft_frame_dup_t` — [[graft.llm.Multimodal.frameDupPairs]]:
    * near-duplicate video pairs by shared perceptual frames, one (i, j,
    * n_matches) row per pair with ≥ minFrames matching frames;
    * `graft_frame_clusters_t` — the cluster form. */
  private def frameTable(
      op: (DataFrame, Int, Int, Int, Long, Int) => DataFrame)(a: Args): DataFrame =
    op(a.view(0), a.int(1), a.int(2), a.int(3), a.long(4, 1L), a.int(5, 4))

  /** `graft_repetition_t` — [[graft.llm.Quality.repetitionStats]]:
    * per-document duplicate-word / duplicate-bigram / top-bigram
    * fractions. */
  private def repetitionTable(a: Args): DataFrame =
    Quality.repetitionStats(a.view(0), a.str(1), a.str(2))

  /** `graft_line_dedup_t` — [[graft.llm.Dedup.removeDupLines]]: drop every
    * line present in ≥ minDocs (default 2) distinct documents, rebuild the
    * text with the separator (default newline). */
  private def lineDedupTable(a: Args): DataFrame =
    Dedup.removeDupLines(a.view(0), a.str(1), a.str(2), a.int(3, 2), a.str(4, "\n"))

  /** `graft_lm_t` — [[graft.llm.Quality.unigramLm]]: top-vocab (token,
    * cnt) model over the reference view. */
  private def lmTable(a: Args): DataFrame =
    Quality.unigramLm(a.view(0), a.str(1), a.int(2))

  /** `graft_lm_score_t` — [[graft.llm.Quality.lmPerplexity]]:
    * per-document smoothed nll/perplexity against a (token, cnt) model
    * view (typically a `graft_lm_t` result persisted or inlined as a
    * view). */
  private def lmScoreTable(a: Args): DataFrame =
    Quality.lmPerplexity(a.view(0), a.view(3), a.str(1), a.str(2))

  /** `graft_bigram_lm_t` — [[graft.llm.Quality.bigramLm]]: top-`vocab`
    * bigram counts with their context counts, against a
    * `graft_lm_t`-shaped unigram model view. */
  private def bigramLmTable(a: Args): DataFrame =
    Quality.bigramLm(a.view(0), a.str(1), a.view(2), a.int(3))

  /** `graft_ngram_score_t` — [[graft.llm.Quality.ngramPerplexity]]:
    * stupid-backoff bigram perplexity against `graft_lm_t` /
    * `graft_bigram_lm_t` model views (backoff defaults to 0.4). */
  private def ngramScoreTable(a: Args): DataFrame =
    Quality.ngramPerplexity(a.view(0), a.view(3), a.view(4), a.str(1),
      a.str(2), a.dbl(5, 0.4))

  /** `graft_trigram_lm_t` — [[graft.llm.Quality.trigramLm]]: top-`vocab`
    * trigram counts with context counts from the bound bigram model
    * view. */
  private def trigramLmTable(a: Args): DataFrame =
    Quality.trigramLm(a.view(0), a.str(1), a.view(2), a.int(3))

  /** `graft_trigram_score_t` — [[graft.llm.Quality.trigramPerplexity]]:
    * the tri → bi → uni stupid-backoff chain (backoff defaults to 0.4). */
  private def trigramScoreTable(a: Args): DataFrame =
    Quality.trigramPerplexity(a.view(0), a.view(3), a.view(4), a.view(5),
      a.str(1), a.str(2), a.dbl(6, 0.4))

  /** `graft_kn_score_t` — [[graft.llm.Quality.knPerplexity]]:
    * interpolated Kneser–Ney bigram perplexity against the same
    * `graft_lm_t` / `graft_bigram_lm_t` model views (discount defaults to
    * 0.75). */
  private def knScoreTable(a: Args): DataFrame =
    Quality.knPerplexity(a.view(0), a.view(3), a.view(4), a.str(1), a.str(2),
      a.dbl(5, 0.75))

  /** `graft_gopher_t` — [[graft.llm.Quality.gopherRules]] at the
    * published thresholds (minWords overridable — the one knob
    * short-document corpora need). */
  private def gopherTable(a: Args): DataFrame =
    Quality.gopherRules(a.view(0), a.str(1), a.str(2), minWords = a.long(3, 50L))

  /** `graft_lm_ratio_t` — [[graft.llm.Quality.lmLogRatio]]: DSIR-style
    * importance log-ratios under two (token, cnt) model views. */
  private def lmRatioTable(a: Args): DataFrame =
    Quality.lmLogRatio(a.view(0), a.view(3), a.view(4), a.str(1), a.str(2))

  /** `graft_chunk_t` — [[graft.llm.Sampling.chunkDocs]]: context-length
    * chunks with optional overlap. */
  private def chunkTable(a: Args): DataFrame =
    Sampling.chunkDocs(a.view(0), a.str(1), a.str(2), a.int(3), a.int(4, 0))

  /** `graft_tfidf_t` — [[graft.llm.Relevance.tfidfTopTerms]]: top-k
    * TF-IDF terms per document with integer micro-unit scores. */
  private def tfidfTable(a: Args): DataFrame =
    Relevance.tfidfTopTerms(a.view(0), a.str(1), a.str(2), a.int(3))

  /** `graft_bm25_t` — [[graft.llm.Relevance.bm25TopK]]: top-k documents
    * for a comma-separated keyword query. */
  private def bm25Table(a: Args): DataFrame =
    Relevance.bm25TopK(a.view(0), a.str(1), a.str(2), a.csv(3), a.int(4))

  /** `graft_bm25_batch_t` — [[graft.llm.Relevance.bm25TopKBatch]]: every
    * query in the (query id, array<string> terms) view scored in ONE
    * corpus pass, per-query top-k. */
  private def bm25BatchTable(a: Args): DataFrame =
    Relevance.bm25TopKBatch(a.view(0), a.str(1), a.str(2), a.view(3), a.str(4),
      a.str(5), a.int(6))

  /** `graft_classifier_train_t` — [[graft.llm.Quality.trainTextClassifier]]:
    * the fastText-shaped quality classifier trained on a require-bounded
    * labeled sample; returns the (feature, w_micro) weight table
    * (intercept at feature = −1). `graft_classifier_train_multi_t` —
    * [[graft.llm.Quality.trainTextClassifierMulti]]: the K-class softmax
    * trainer (trained language ID's model); returns (label, feature,
    * w_micro). Training RUNS at plan build — the `graft_bpe_train_t`
    * adjudication: the result is model-sized and the caller is
    * materializing a model, not composing a lazy view. */
  private def trainTable(
      op: (DataFrame, String, String, String, Int, Boolean, Int) => DataFrame)(
      a: Args): DataFrame =
    op(a.view(0), a.str(1), a.str(2), a.str(3), a.int(4), a.bool(5, true),
      a.int(6, 100))

  /** `graft_classifier_train_gd_t` —
    * [[graft.llm.Quality.trainTextClassifierGd]]: the DISTRIBUTED
    * full-batch integer-fixed-point GD trainer (the corpus-scale path — no
    * labeled-sample bound); returns the (feature, w_micro) weight table
    * (intercept at feature = −1). `graft_classifier_train_multi_gd_t` —
    * [[graft.llm.Quality.trainTextClassifierMultiGd]]: the distributed
    * K-class softmax GD trainer (corpus-scale language ID); returns
    * (label, feature, w_micro). Training RUNS at plan build (the
    * `graft_bpe_train_t` adjudication). */
  private def trainGdTable(op: (DataFrame, String, String, String, Int, Boolean,
      Int, Double, Double) => DataFrame)(a: Args): DataFrame =
    op(a.view(0), a.str(1), a.str(2), a.str(3), a.int(4), a.bool(5, true),
      a.int(6, 10), a.dbl(7, 0.5), a.dbl(8, 0.0))

  /** `graft_classifier_score_t` — [[graft.llm.Quality.scoreTextClassifier]]:
    * exact integer logits per document under a stored (feature, w_micro)
    * weight view; `graft_langid_t` — [[graft.llm.Quality.langIdTrained]]:
    * argmax class under a (label, feature, w_micro) multi-class weight
    * view, deterministic smallest-label tie-break; (doc_id, lang,
    * logit_micro). */
  private def scoreTable(
      op: (DataFrame, String, String, DataFrame, Int, Boolean) => DataFrame)(
      a: Args): DataFrame =
    op(a.view(0), a.str(1), a.str(2), a.view(3), a.int(4), a.bool(5, true))

  /** `graft_kmeans_t` — [[graft.llm.Similarity.kmeansLloyd]]: the
    * deterministic integer-fixed-point Lloyd trainer over explicit seeds
    * (`seedsView` is a (cell, _cv) view); returns (cell, j, c_micro, n).
    * Training RUNS at plan build (the `graft_bpe_train_t` adjudication). */
  private def kmeansTable(a: Args): DataFrame =
    Similarity.kmeansLloyd(a.view(0), a.str(1), a.view(2), a.int(3))

  /** `graft_sp_unigram_train_t` — [[graft.llm.SpUnigram.train]]: the
    * SentencePiece-unigram (hard-EM) tokenizer trainer; returns (piece,
    * cnt). Training RUNS at plan build (the `graft_bpe_train_t`
    * adjudication — the result is a vocab-scale model). */
  private def spUnigramTrainTable(a: Args): DataFrame =
    SpUnigram.train(a.view(0), a.str(1), a.str(2), a.int(3),
      iters = a.int(4, 2), maxPieceLen = a.int(5, 4))

  /** `graft_opq_train_t` — [[graft.llm.Similarity.trainOpqRotation]]: the
    * OPQ rotation trained on a require-bounded vector sample; returns the
    * (i, _rv) rotation table `graft_ivf_save_pq_t` accepts as its
    * `rotationView` tail argument. Training RUNS at plan build (the
    * `graft_bpe_train_t` adjudication — the result is a d×d matrix). */
  private def opqTrainTable(a: Args): DataFrame =
    Similarity.trainOpqRotation(a.view(0), a.str(1), a.str(2), a.int(3),
      k = a.int(4, 256), iters = a.int(5, 8))

  /** `graft_bpe_train_t` — [[graft.llm.Bpe.train]]. The merge iterations
    * RUN at plan build (each is a Spark job over the word-type table) —
    * the view-read-at-plan-build adjudication: the result is merge-table
    * sized and the caller is materializing a tokenizer, not composing a
    * lazy scan. `maxBatch` > 1 (default 64) commits up to that many
    * provably-sequential-equal merges per job — see the train scaladoc. */
  private def bpeTrainTable(a: Args): DataFrame =
    Bpe.train(a.view(0), a.str(1), a.str(2), a.int(3), maxBatch = a.int(4, 64))

  /** `graft_bpe_encode_t` — [[graft.llm.Bpe.encode]] against a (rank,
    * left, right) merge-table view (typically a persisted
    * `graft_bpe_train_t` result). The merge view is collected at plan
    * build — merge tables are driver-bounded by contract, the codebook
    * adjudication. */
  private def bpeEncodeTable(a: Args): DataFrame =
    Bpe.encode(a.view(0), a.str(1), a.str(2), a.view(3))

  /** `graft_sp_encode_t` — [[graft.llm.SpUnigram.encode]] against a
    * (piece, cnt) vocab view (typically a persisted
    * `graft_sp_unigram_train_t` result) — the [[bpeEncodeTable]] contract
    * for the SP tier. */
  private def spEncodeTable(a: Args): DataFrame =
    SpUnigram.encode(a.view(0), a.str(1), a.str(2), a.view(3))

  /** `graft_pii_scrub_t` — PII redaction: (doc_id, clean_text, n_email,
    * n_ip, n_phone) with [[graft.llm.Quality.scrubPii]]'s email → IP →
    * phone order. */
  private def piiScrubTable(a: Args): DataFrame =
    // one compiled byte scan for the scrub and all three counts
    a.view(0).select(col(a.str(1)).as("doc_id"),
        Quality.piiStats(col(a.str(2))).as("_p"))
      .select(col("doc_id"),
        col("_p.scrubbed").as("clean_text"),
        col("_p.n_email").as("n_email"),
        col("_p.n_ip").as("n_ip"),
        col("_p.n_phone").as("n_phone"))

  /** `graft_sample_t` — [[graft.llm.Sampling.hashSample]]: keep ~pct% of
    * rows by the content-addressed md5 draw (pure filter, no shuffle). */
  private def sampleTable(a: Args): DataFrame =
    Sampling.hashSample(a.view(0), a.str(1), a.int(2))

  /** `graft_quota_t` — [[graft.llm.Sampling.stratifiedQuota]]: exactly
    * min(k, |stratum|) rows per stratum, ranked by (md5(id), id). */
  private def quotaTable(a: Args): DataFrame = {
    val strata = a.csv(1)
    a.check(strata.nonEmpty, "strata csv must name at least one column")
    Sampling.stratifiedQuota(a.view(0), strata, a.str(2), a.int(3))
  }

  /** `graft_semdedup_t` — [[graft.llm.Similarity.semDedup]] survivors
    * (the centroids view must carry (cell, _cv), the
    * [[graft.llm.Similarity.assignCells]] shape); `graft_semdedup_pairs_t`
    * returns the within-cell pairs instead. Defaults: idCol = vec_id,
    * vecCol = embedding. */
  private def semDedupTable(
      op: (DataFrame, DataFrame, String, String, Double) => DataFrame)(
      a: Args): DataFrame =
    op(a.view(0), a.view(1), a.str(3, "vec_id"), a.str(4, "embedding"), a.dbl(2))

  /** Read a small (stratum, number) mapping view at plan build — rates and
    * weights are domain-scale (a handful of rows), the same driver-bounded
    * adjudication as broadcast centroids. */
  private def strataMap(a: Args, i: Int): Map[String, Double] =
    a.view(i).collect().map { r =>
      a.check(!r.isNullAt(0) && !r.isNullAt(1), "the mapping view must have no nulls")
      val n = r.get(1) match {
        case n: java.lang.Number => n.doubleValue
        case other => throw a.error(s"mapping view column 2 must be numeric, got $other")
      }
      r.get(0).toString -> n
    }.toMap

  /** `graft_mix_sample_t` — [[graft.llm.Sampling.mixSample]]; the rates
    * view carries (stratum, pct). */
  private def mixSampleTable(a: Args): DataFrame = {
    val rates = strataMap(a, 3).map { case (k, v) =>
      // a fractional rate (0.8 meaning 80%) would silently truncate to
      // 0 and empty the stratum — refuse anything non-integral
      a.check(v == math.rint(v), s"rates are integer percentages in [0,100]; " +
        s"got $v for stratum '$k' (write 80, not 0.8)")
      k -> v.toInt
    }
    Sampling.mixSample(a.view(0), a.str(1), a.str(2), rates, a.int(4, 0))
  }

  /** `graft_mix_quota_t` — [[graft.llm.Sampling.mixQuota]]; the weights
    * view carries (stratum, weight). */
  private def mixQuotaTable(a: Args): DataFrame =
    Sampling.mixQuota(a.view(0), a.str(1), a.str(2), strataMap(a, 3), a.long(4))

  /** `graft_temperature_quota_t` —
    * [[graft.llm.Sampling.temperatureQuota]]: per-stratum quotas ∝ n^τ. */
  private def temperatureQuotaTable(a: Args): DataFrame =
    Sampling.temperatureQuota(a.view(0), a.str(1), a.str(2), a.dbl(3), a.long(4))

  /** `graft_ppl_buckets_t` — [[graft.llm.Quality.pplBuckets]]: the CCNet
    * head/middle/tail assignment under a bigram reference LM. */
  private def pplBucketsTable(a: Args): DataFrame =
    Quality.pplBuckets(a.view(0), a.view(3), a.view(4), a.str(1), a.str(2),
      a.dbl(5), a.dbl(6), a.dbl(7, 0.4))

  /** `graft_winnow_pairs_t` — [[graft.llm.Dedup.winnowPairs]]:
    * winnowing-fingerprint near-dup candidate pairs. */
  private def winnowPairsTable(a: Args): DataFrame =
    Dedup.winnowPairs(a.view(0), a.str(1), a.str(2), a.int(3, 8), a.int(4, 4),
      a.long(5, 2L), a.long(6, 50L))

  /** `graft_normalize_t` — [[graft.llm.Quality.normalizeText]]: (id, norm)
    * per row. */
  private def normalizeTable(a: Args): DataFrame =
    a.view(0).select(col(a.str(1)),
      Quality.normalizeText(col(a.str(2)), a.bool(3, false)).as("norm"))

  /** `graft_contamination_t` — [[graft.llm.Dedup.contaminationStats]]:
    * per-corpus-doc distinct n-shingle overlap against the broadcast
    * benchmark set. */
  private def contaminationTable(a: Args): DataFrame =
    Dedup.contaminationStats(a.view(0), a.view(1), a.str(2), a.str(3), a.int(4, 5))

  /** `graft_shuffle_t` — [[graft.llm.Sampling.shuffleShards]]:
    * content-addressed deterministic training-order shuffle (shard +
    * position). */
  private def shuffleTable(a: Args): DataFrame =
    Sampling.shuffleShards(a.view(0), a.str(1), a.int(2), a.str(3, ""))

  /** `graft_pack_t` — [[graft.llm.Sampling.packGreedy]]: greedy sequence
    * packing into `budget`-token bins per (strata, id-mod-shards)
    * group. */
  private def packTable(a: Args): DataFrame =
    Sampling.packGreedy(a.view(0), a.str(1), a.str(2), a.str(3), a.long(4),
      a.int(5, 4))

  private def spanDupParams(a: Args): SpanDupStream.Params = {
    val d = SpanDupStream.Params()
    d.copy(spanTokens = a.int(2, d.spanTokens), minDocs = a.int(3, d.minDocs))
  }

  /** `graft_ingest_spandup_t` — [[graft.streaming.SpanDupStream]] from
    * SQL: one checkpointed poll scores every newly-landed document's
    * duplicate-text fraction against the accumulated corpus window
    * state, then the statement reads the accumulated stats table (each
    * row final as of its landing — the documented streaming deviation;
    * the batch `graft_spandup_t` over the full corpus is the repair).
    * EAGER side effect in an ISOLATED session, exactly like
    * `graft_ingest_dedup_t` (the poll's micro-batch thread must analyze
    * its own plans while this builder holds the calling session's
    * catalog lock). Re-running the statement re-polls; an empty re-poll
    * is a no-op. */
  private def ingestSpanDupTable(a: Args): DataFrame = {
    val p = spanDupParams(a)
    SpanDupStream.pollSpanDup(a.spark.newSession(), a.str(0), a.str(1), p)
    SpanDupStream.stats(a.spark, a.str(1))
  }

  /** `graft_span_rescore_t` — [[graft.streaming.SpanDupStream.rescoreStats]]
    * from SQL: re-scores every already-scored document against the FINAL
    * corpus (the offline repair for the stats-final-at-landing
    * deviation) and commits the repaired snapshot; the statement then
    * reads the repaired stats table. Run with the poller STOPPED, like
    * `graft_ingest_repair_t`. EAGER side effect; the repair is a plain
    * batch job, so no isolated session is needed — but one is used
    * anyway for symmetry with the poller forms (state is entirely
    * filesystem-resident either way). */
  private def spanRescoreTable(a: Args): DataFrame = {
    val p = spanDupParams(a)
    SpanDupStream.rescoreStats(a.spark.newSession(), a.str(0), a.str(1), p)
    SpanDupStream.stats(a.spark, a.str(1))
  }

  /** `graft_ingest_pipeline_t` — the composed dedup→index ingest loop
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
  private def ingestPipelineTable(a: Args): DataFrame = {
    import graft.llm.Gates
    val d = DedupStream.Params()
    val p = d.copy(minJaccard = a.dbl(3, d.minJaccard))
    val spanTokens = a.int(4, 0)
    val maxDupFrac = a.dbl(5, 1.0)
    val maxDupWordFrac = a.dbl(6, 1.0)
    val maxTopBigramFrac = a.dbl(7, 1.0)
    val semMinCos = a.dbl(12, 1.0)
    val minQuality = a.dbl(14, 0.0)
    val langs = a.csv(16)
    // 'en:the,a;de:der,die' — language marker sets for langId
    val langMarkers = a.str(17, "").split(";").map(_.trim).filter(_.nonEmpty)
      .toSeq.map { part =>
        val sep = part.indexOf(':')
        a.check(sep > 0 && sep < part.length - 1, s"malformed lang-marker " +
          s"segment '$part' — expected 'lang:word,word' entries separated by ';'")
        part.substring(0, sep).trim ->
          part.substring(sep + 1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      }
    val iso = a.spark.newSession()
    // REBIND the bench view (and the classifier weight view) to the
    // isolated session: this builder runs inside the analyzer's
    // SessionCatalog monitor, and the stream's foreachBatch thread
    // analyzing a plan that still references the OUTER session would
    // block on that same monitor while this thread awaits the stream — a
    // deadlock (observed as a LookupFunctions wait in the microbatch
    // thread). Compiling the view to an RDD HERE (reentrant on the
    // lock-holding thread) and re-wrapping it leaves the gate plan with a
    // session-free LogicalRDD — bench suites are broadcast-tiny and model
    // tables dim-bounded by contract, so the lost column pruning is
    // irrelevant.
    def rebound(i: Int): Option[DataFrame] = Option.when(a.has(i)) {
      val v = a.view(i)
      iso.createDataFrame(v.toDF().rdd, v.schema)
    }
    val gates = Gates(
      normalize = a.bool(11, false),
      semantic = Option.when(semMinCos < 1.0)(Gates.Semantic(semMinCos)),
      span = Option.when(spanTokens > 0)(Gates.Span(spanTokens, maxDupFrac)),
      repetition = Option.when(maxDupWordFrac < 1.0 || maxTopBigramFrac < 1.0)(
        Gates.Repetition(maxDupWordFrac, maxTopBigramFrac)),
      gopher = a.bool(13, false),
      classifier = rebound(18).map(Gates.Classifier(_, a.long(20, Long.MinValue),
        a.int(19, 1 << 18))),
      contamination = rebound(8).map(Gates.Contamination(_, a.dbl(9, 1.0),
        a.int(10, 5))),
      quality = Option.when(minQuality > 0.0)(
        Gates.QualityFloor(minQuality, a.csv(15))),
      language = Option.when(langs.nonEmpty || langMarkers.nonEmpty)(
        Gates.Language(langs, langMarkers)))
    PipelineStream.pollIngest(iso, a.str(0), a.str(1), a.str(2), gates, p)
    DedupStream.assignments(a.spark, a.str(1))
  }

  /** `graft_ingest_repair_t` — [[graft.streaming.DedupStream.repairMerges]]
    * from SQL: rebuilds the near-dup graph over the stored state and
    * merges the cross-batch bridge clusters the stream deliberately left
    * split, then returns the repaired (doc_id, rep_id) table. EAGER side
    * effect like `graft_ingest_dedup_t`; run with the poller STOPPED (the
    * repair's single-writer contract). Only the verify threshold and
    * band-bucket cap matter to the repair — shingles and band digests come
    * from the stored state. */
  private def ingestRepairTable(a: Args): DataFrame = {
    val d = DedupStream.Params()
    val p = d.copy(minJaccard = a.dbl(1, d.minJaccard),
      maxBandBucket = a.long(2, d.maxBandBucket))
    // same isolation rationale as graft_ingest_dedup_t: keep the repair's
    // jobs off the calling session's analyzer state
    DedupStream.repairMerges(a.spark.newSession(), a.str(0), p)
    DedupStream.assignments(a.spark, a.str(0))
  }

  /** `graft_ingest_sem_repair_t` —
    * [[graft.streaming.PipelineStream.repairSem]] from SQL: rebuilds the
    * semantic near-dup graph over ALL stored gate vectors (dropped bridges
    * included), rewrites kept flags to component min-ids, prunes the
    * index, and returns the repaired surviving (vec_id, cell) table. EAGER
    * side effect like `graft_ingest_repair_t`; run with the poller
    * STOPPED. */
  private def ingestSemRepairTable(a: Args): DataFrame = {
    PipelineStream.repairSem(a.spark.newSession(), a.str(0), a.str(1),
      a.dbl(2), a.int(3, 0))
    PipelineStream.semSurvivors(a.spark, a.str(0))
  }

  /** `graft_ivf_save_t`, `graft_ivf_save_q_t`, `graft_ivf_save_pq_t` —
    * train-once IVF index persistence from SQL in the float, SQ8 or PQ
    * [[graft.llm.IvfTier]] that `tier` reads from the row's arguments
    * ([[graft.llm.Similarity.saveIvf]]: k-means + corpus cell assignment,
    * written cell-partitioned under `dir`). The PQ row's optional
    * `residual` / `perCell` / `rotationView` tail selects the residual
    * encoding, the per-cell codebook layout and the OPQ rotated space
    * (`graft_opq_train_t` trains the rotation). EAGER with a SIDE EFFECT,
    * like `graft_ingest_dedup_t`: analysis writes the index, and the
    * statement returns the saved centroid table (cell, _cv). */
  private def ivfSaveTable(tier: Args => IvfTier)(a: Args): DataFrame = {
    val t = tier(a)
    val seedAt = t match { case _: IvfTier.Pq => 7; case _ => 5 }
    Similarity.saveIvf(a.view(0), a.str(1), a.str(2), a.str(3), t, a.int(4),
      seed = a.long(seedAt, 42L))
    Similarity.ivfCentroids(a.spark, a.str(3))
  }

  /** The five serve rows — [[graft.llm.Similarity.ivfServe]] over a saved
    * index, probed-cells-only scan (dynamic partition pruning over the
    * cell-partitioned layout): `graft_ivf_topk_indexed_t` serves a float
    * index, and its `'allowView'` restricts the answers to the ids it
    * lists; `graft_ivf_topk_q_t` an SQ8 one, `graft_ivf_topk_pq_t` a PQ
    * one by ADC. The `refine` rows `graft_ivf_topk_qr_t` and
    * `graft_ivf_topk_pqr_t` re-score `k·refineFactor` candidates exactly
    * against `refineView` ([[graft.llm.IvfRefine]], output gains the
    * `refined` flag). Each row serves only the flavor its name implies
    * (see [[requireFlavor]]). */
  private def ivfServeTable(implied: String, refine: Boolean = false)(
      a: Args): DataFrame = {
    val r = if (refine) 1 else 0 // the refine usage puts refineView third
    val (dir, idCol) = (a.str(1), a.str(2 + r))
    // filtered search: a single-column allow view resolves positionally
    // (renamed to the serve's idCol); a wider one must carry idCol by
    // name — stated here so the failure names the contract instead of
    // surfacing as an unresolved-column AnalysisException downstream
    val allow = Option.when(!refine && a.has(7)) {
      val av = a.view(7)
      if (av.columns.length == 1) av.toDF(idCol)
      else {
        a.check(av.columns.contains(idCol), "allow view must have exactly one " +
          s"column or contain the id column '$idCol' (has: ${av.columns.mkString(", ")})")
        av
      }
    }
    requireFlavor(a, dir, implied)
    Similarity.ivfServe(a.view(0), dir, idCol, a.str(3 + r), a.int(4 + r),
      a.int(5 + r), a.int(6 + 2 * r, 1),
      refine = Option.when(refine)(IvfRefine(a.view(2), a.int(7, 4))),
      allow = allow, allowIdCol = idCol)
  }

  /** Refuse a serve row whose name implies a flavor (`float`, `sq8` or
    * `pq`) other than the one `dir`'s manifest records: served anyway, the
    * wrong name would silently change what the statement means. */
  private def requireFlavor(a: Args, dir: String, implied: String): Unit = {
    val flavor = Similarity.ivfFlavor(a.spark, dir).name
    a.check(flavor.takeWhile(_ != ' ') == implied,
      s"$dir holds a '$flavor' index, not $implied")
  }

  /** `graft_pq_refresh_t` — retrain a drifted PQ index's codebooks on the
    * full-precision corpus view and rewrite one new committed version
    * ([[graft.llm.Similarity.refreshPqCodebooks]]: stored coarse
    * centroids reused, `retain` defaults to 1 so the previous version
    * keeps serving concurrent readers). EAGER side effect; returns the
    * refreshed index's [[graft.llm.Similarity.pqIndexStats]] (the
    * codebook-drift diagnostic `graft_pq_stats_t` reads;
    * `graft_ivf_stats_t` gives the per-cell occupancy of the serving
    * corpus). */
  private def pqRefreshTable(a: Args): DataFrame = {
    Similarity.refreshPqCodebooks(a.view(0), a.str(1), a.str(2), a.str(3),
      pqK = a.int(4, 256), retain = a.int(5, 1))
    Similarity.pqIndexStats(a.spark, a.str(3))
  }

  /** `graft_ivf_append_t` — incremental index growth from SQL: assigns
    * ONLY the new vectors against the stored centroids and lands a
    * `_COMMIT`-gated delta (no retrain, no base rewrite); `compact = true`
    * additionally folds base + deltas into one new committed version
    * afterwards. The append follows the flavor in the index's version
    * manifest, so quantized and PQ indexes grow too. EAGER with a side
    * effect, like `graft_ivf_save_t`; returns the served centroid table
    * (cell, _cv). */
  private def ivfAppendTable(a: Args): DataFrame = {
    val compact = a.bool(4, false)
    Similarity.appendIvfIndex(a.view(0), a.str(1), a.str(2), a.str(3))
    if (compact) Similarity.compactIvfIndex(a.spark, a.str(3))
    Similarity.ivfCentroids(a.spark, a.str(3))
  }

  /** `graft_ivf_topk_t` — IVF approximate nearest neighbors from pure
    * SQL. Seeded k-means centroids (`nlist` cells) are trained on the
    * corpus AT PLAN BUILD — an eager analysis-time job, the same
    * documented eagerness as `graft_neardup_t` — then queries fan out to
    * their `nprobe` nearest cells for the scored join
    * ([[graft.llm.Similarity.ivfTopK]]); `salt` > 1 spreads each cell's
    * corpus rows over that many sub-buckets (hot-cell skew relief, result
    * set unchanged). Unlike `graft_topk_t` the query side is distributed —
    * no broadcast cap. */
  private def ivfTopkTable(a: Args): DataFrame = {
    // read every literal before the training job, so a bad one costs nothing
    val (k, nprobe, salt) = (a.int(4), a.int(6), a.int(8, 1))
    val corpus = a.view(1)
    val centroids = Similarity.trainCentroids(corpus, a.str(3), a.int(5),
      seed = a.long(7, 42L))
    Similarity.ivfTopK(a.view(0), corpus, centroids, a.str(2), a.str(3), k,
      nprobe, salt)
  }

  /** `graft_ffill_t` — pandas `ffill` (W3) from pure SQL. With
    * `bucketSize > 0` the keyless form runs the bucketed carry
    * ([[graft.operators.Fill.ffillBucketed]] — exact ffill semantics, no
    * single-partition sort at any size); the SQL-native
    * `last_value(c, true) OVER (ORDER BY ...)` form cannot avoid that
    * sort on a keyless table. `orderCol` must be numeric for the bucketed
    * form (epoch micros / frame ids). */
  private def ffillTable(a: Args): DataFrame = {
    import graft.operators.Fill
    val cols = a.csv(2)
    a.check(cols.nonEmpty, "at least one fill column required")
    val bucket = a.long(3, 0L)
    if (bucket > 0) Fill.ffillBucketed(a.view(0), cols, a.str(1), bucket, a.csv(4))
    else Fill.ffill(a.view(0), cols, a.str(1), a.csv(4))
  }

  /** `graft_fights_t` runs the full batch fight detector
    * ([[graft.behavior.Detectors.detectFights]]) over the named view — the
    * flagship pipeline from pure SQL
    * (`SELECT * FROM graft_fights_t('pose_v', '', 'A,B')`). Pass the
    * identity pair to keep resolution fully lazy (without it the detector
    * resolves the 2-identity domain with one small job at plan build, like
    * the typed API). `''` parts = identity skeleton mapping; a non-empty
    * 5th argument joins the named blob view for the speed condition. */
  private def fightsTable(a: Args): DataFrame = {
    import graft.behavior.Detectors
    Detectors.detectFights(a.view(0),
        Some(a.str(4, "")).filter(_.trim.nonEmpty).map(a.spark.table),
        partsMap(a), Detectors.FightParams(fps = a.dbl(3, 50.0)),
        knownIds = Some(a.csv(2)).filter(_.nonEmpty))
      .toDF()
  }

  /** `graft_tube_tests_t` — the batch tube-test detector from pure SQL;
    * the optional 5th argument is the annulus ROI (nest/gate exclusions
    * need the typed [[graft.behavior.Detectors.Roi]] API). */
  private def tubeTable(a: Args): DataFrame = {
    import graft.behavior.Detectors
    val roi = Some(a.str(4, "")).filter(_.trim.nonEmpty).map { csv =>
      val xs =
        try csv.split(",").map(_.trim.toDouble)
        catch { case _: NumberFormatException =>
          throw a.error(s"roi must be 'cx,cy,innerR,outerR' (numeric CSV), got '$csv'")
        }
      a.check(xs.length == 4, s"roi must be 'cx,cy,innerR,outerR', got '$csv'")
      Detectors.Roi(xs(0), xs(1), xs(2), xs(3))
    }
    Detectors.detectTubeTests(a.view(0), partsMap(a),
        Detectors.TubeParams(fps = a.dbl(3, 50.0)), roi = roi,
        knownIds = Some(a.csv(2)).filter(_.nonEmpty))
      .toDF()
  }

  /** `graft_assign_t` runs the distributed
    * [[graft.operators.Assignment.assign]] over the named view — per-group
    * optimal assignment with groups distributed across the cluster (each
    * group's candidate set is still collected onto one row for the JV
    * solve, the operator's intrinsic per-group contract; pass '' for a
    * single global group). */
  private def assignTable(a: Args): DataFrame =
    graft.operators.Assignment.assign(a.view(0), a.csv(1), a.str(2), a.str(3),
      a.str(4))
}
