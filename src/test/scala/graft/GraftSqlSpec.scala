package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{IvfRefine, IvfTier}

/** The SQL façade exposes the tables to spark.sql so relational operators
  * run from SQL text and interleave with the typed operator APIs. */
class GraftSqlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("registered views answer SQL and interleave with typed operators") {
    GraftSql.register(spark, TestSpark.sfDir)
    val n = spark.sql(
      "SELECT count(*) FROM events WHERE event_type = 'purchase'").head.getLong(0)
    assert(n > 0)
    // typed operator output flows back into SQL via a view
    val sessed = graft.operators.Sessionize.sessionize(
      spark.table("events"), "ts", Seq("user_id"), 86400L * 1000000L)
    sessed.createOrReplaceTempView("sessions")
    val m = spark.sql(
      "SELECT count(DISTINCT user_id) FROM sessions WHERE session_id >= 1").head.getLong(0)
    assert(m > 0)
  }

  test("graft_sessionize from SQL equals the typed Sessionize operator") {
    GraftSql.register(spark, TestSpark.sfDir)
    val gap = 86400L * 1000000L
    val fromSql = spark.sql(
      s"""SELECT user_id, us, sid FROM (
         |  SELECT user_id,
         |    inline(arrays_zip(ts_arr, graft_sessionize(ts_arr, $gap))) AS (us, sid)
         |  FROM (
         |    SELECT user_id, sort_array(collect_list(unix_micros(ts))) AS ts_arr
         |    FROM events GROUP BY user_id))""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fromScala = graft.operators.Sessionize.sessionize(
        spark.table("events"), "ts", Seq("user_id"), gap)
      .selectExpr("user_id", "unix_micros(ts) AS us", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromSql === fromScala)
  }

  test("graft_sessionize_t table function equals the typed operator, no arrays") {
    GraftSql.register(spark, TestSpark.sfDir)
    val gap = 86400L * 1000000L
    val fromSql = spark.sql(
      s"SELECT event_id, session_id FROM graft_sessionize_t('events', 'ts', $gap)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromScala = graft.operators.Sessionize.sessionize(
        spark.table("events"), "ts", Nil, gap)
      .select("event_id", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromSql === fromScala)
  }

  test("graft_sessionize_t scales: 1M-row keyless view, no single-row array, no global sort") {
    import spark.implicits._
    import org.apache.spark.sql.execution.window.WindowExec
    GraftSql.registerFunctions(spark)
    // 1M rows, ~1000 sessions: tsUs advances 10us per row, +big jump each
    // 1000th row
    spark.range(1000000L)
      .selectExpr("id", "id * 10 + (id DIV 1000) * 1000000 AS us")
      .createOrReplaceTempView("big_stream")
    val df = spark.sql(
      "SELECT * FROM graft_sessionize_t('big_stream', 'us', 5000, 100000)")
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
      "bucketed table-function plan must not sort the stream on one task")
    assert(!plan.toString.contains("collect_list"),
      "table function must not materialize per-group arrays")
    val sessions = df.agg(
      org.apache.spark.sql.functions.countDistinct("session_id")).head.getLong(0)
    assert(sessions === 1000L)
  }

  test("graft_asof_t equals the typed AsOfJoin for all three directions") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    def ts(ms: Long) = new java.sql.Timestamp(1717243200000L + ms)
    val left = Seq((ts(0), "u1", 1L), (ts(1000), "u1", 2L), (ts(2500), "u2", 3L),
      (ts(9000), "u1", 4L))
      .toDF("t", "uid", "lval")
    val right = Seq((ts(100), "u1", 10.0), (ts(900), "u1", 20.0),
      (ts(2400), "u2", 30.0), (ts(2600), "u2", 40.0), (ts(20000), "u1", 50.0))
      .toDF("t", "uid", "rval")
    left.createOrReplaceTempView("asof_left")
    right.createOrReplaceTempView("asof_right")
    for (dirName <- Seq("backward", "forward", "nearest")) {
      val dir = dirName match {
        case "backward" => graft.operators.AsOfJoin.Backward
        case "forward" => graft.operators.AsOfJoin.Forward
        case _ => graft.operators.AsOfJoin.Nearest
      }
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]))
      val fromSql = spark.sql(
        s"SELECT lval, rval FROM graft_asof_t('asof_left', 'asof_right', 't', 'uid', '$dirName', 2000000)")
        .collect().map(key).toSet
      val fromScala = graft.operators.AsOfJoin.asofJoin(left, right, "t",
          Seq("uid"), dir, tolerance = Some(2000000L))
        .select("lval", "rval")
        .collect().map(key).toSet
      assert(fromSql === fromScala, s"direction=$dirName")
    }
    // keyless + bucketed form from SQL
    val fromSqlKeyless = spark.sql(
      "SELECT lval, rval FROM graft_asof_t('asof_left', 'asof_right', 't', '', 'backward', 0, 3600000000)")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    val fromScalaKeyless = graft.operators.AsOfJoin.asofJoin(left, right, "t",
        Nil, graft.operators.AsOfJoin.Backward, bucketUs = Some(3600000000L))
      .select("lval", "rval")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(fromSqlKeyless === fromScalaKeyless)
  }

  test("graft_band_t equals the typed BandJoin and avoids the nested-loop plan") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    def ts(ms: Long) = new java.sql.Timestamp(1717243200000L + ms)
    val left = Seq((ts(0), "u1", 1L), (ts(1000), "u2", 2L), (ts(5000), "u1", 3L))
      .toDF("lt", "uid", "lval")
    val right = Seq((ts(400), "u1", 10.0), (ts(900), "u2", 20.0),
      (ts(1600), "u2", 30.0), (ts(9000), "u1", 40.0))
      .toDF("rt", "uid", "rval")
    left.createOrReplaceTempView("band_left")
    right.createOrReplaceTempView("band_right")
    val df = spark.sql(
      "SELECT lval, rval FROM graft_band_t('band_left', 'band_right', 'lt', 'rt', 'uid', -500000, 700000)")
    val fromSql = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val fromScala = graft.operators.BandJoin.bandJoin(left, right, "lt", "rt",
        Seq("uid"), -500000L, 700000L)
      .select("lval", "rval")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(fromSql === fromScala)
    assert(fromSql === Set((1L, 10.0), (2L, 20.0), (2L, 30.0)))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      "graft_band_t must plan as an equi-bucketed join, not a nested loop")
  }

  test("graft_sessionize_t with group columns equals the typed per-key operator") {
    GraftSql.register(spark, TestSpark.sfDir)
    val gap = 86400L * 1000000L
    val fromSql = spark.sql(
      s"SELECT event_id, session_id FROM graft_sessionize_t('events', 'ts', $gap, 0, 'user_id')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromScala = graft.operators.Sessionize.sessionize(
        spark.table("events"), "ts", Seq("user_id"), gap)
      .select("event_id", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromSql === fromScala)
  }

  test("graft_neardup_t runs the full dedup pipeline from SQL ≡ typed") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    // 3 planted near-dup groups of 4 + 8 distinct docs
    def words(seed: Int) = (0 until 30).map(w => s"w${seed * 37 + w * 3}").mkString(" ")
    val docs = ((0 until 12).map { i =>
      (i.toLong, words(i / 4) + s" tail$i") // groups {0-3},{4-7},{8-11}
    } ++ (100 until 108).map(i => (i.toLong, words(i)))).toDF("doc_id", "text")
    docs.createOrReplaceTempView("neardup_docs")
    val fromSql = spark.sql(
      "SELECT doc_id, rep_id FROM graft_neardup_t('neardup_docs', 'doc_id', 'text')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val pairs = graft.llm.Dedup.minhashDedupPairs(
      docs, "doc_id", "text", 3, 64, 16, 0.7)
    val typed = graft.llm.Dedup.withRepresentatives(docs, "doc_id", pairs)
      .select("doc_id", "rep_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fromSql === typed)
    // the planted groups collapse to their min id; distinct docs survive
    assert(fromSql(1L) === 0L && fromSql(5L) === 4L && fromSql(11L) === 8L)
    assert((100L until 108L).forall(i => fromSql(i) == i))
    val survivors = spark.sql(
      "SELECT count(*) FROM graft_neardup_t('neardup_docs', 'doc_id', 'text') WHERE doc_id = rep_id")
      .head.getLong(0)
    assert(survivors === 11L)
    // winnowing pairs from SQL ≡ typed on the same fixture
    val sqlWn = spark.sql(
      """SELECT * FROM graft_winnow_pairs_t('neardup_docs', 'doc_id',
        'text', 8, 4, 2, 50)""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val typedWn = graft.llm.Dedup.winnowPairs(docs, "doc_id", "text",
        8, 4, 2L, 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sqlWn === typedWn && sqlWn.nonEmpty)
  }

  test("graft_topk_t equals the typed cosineTopK") {
    import org.apache.spark.sql.functions.col
    GraftSql.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    emb.filter(col("vec_id") < 5).createOrReplaceTempView("topk_queries")
    emb.createOrReplaceTempView("topk_corpus")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
    val fromSql = spark.sql(
      "SELECT query_id, neighbor_id, cos FROM graft_topk_t('topk_queries', 'topk_corpus', 'vec_id', 'embedding', 3)")
      .collect().map(key).toSet
    val typed = graft.llm.Similarity.cosineTopK(
        emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "cos")
      .collect().map(key).toSet
    assert(fromSql === typed)
    assert(fromSql.size === 15)
  }

  test("graft_ingest_dedup_t polls landing files and returns assignments ≡ typed") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_sql_ingest").toString
    val landing = s"$base/landing"; val work = s"$base/work"
    new java.io.File(landing).mkdirs()
    def member(tag: String, k: Int): String =
      (0 until 42).map(i =>
        if (i == 20 && k > 0) s"${tag}_var$k" else s"${tag}_w$i").mkString(" ")
    val chunk1 = Seq(1L -> member("a", 0), 2L -> member("a", 1),
      3L -> "standalone text one here")
    val chunk2 = Seq(11L -> member("a", 2), 12L -> "standalone text two here")
    def q = "SELECT doc_id, rep_id FROM " +
      s"graft_ingest_dedup_t('$landing', '$work', 3, 16, 8, 0.8)"
    chunk1.toDF("doc_id", "text").write.parquet(s"$landing/c1")
    val got1 = spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got1 === Set(1L -> 1L, 2L -> 1L, 3L -> 3L))
    // second delivery: the SAME statement re-polls and dedups against state
    chunk2.toDF("doc_id", "text").write.parquet(s"$landing/c2")
    val got2 = spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val typed = graft.streaming.DedupStream.assignments(spark, work)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 === Set(1L -> 1L, 2L -> 1L, 3L -> 3L, 11L -> 1L, 12L -> 12L))
    assert(got2 === typed, "SQL ≡ DedupStream.assignments")
    // idempotent with nothing new landed
    assert(spark.sql(q).count() === 5L)
    // bridge repair from SQL: this corpus is bridge-free, so the repair
    // must be an exact no-op ≡ the typed repairMerges contract
    val repaired = spark.sql(
      s"SELECT doc_id, rep_id FROM graft_ingest_repair_t('$work', 0.8)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(repaired === got2)
  }

  test("graft_spandup_t / graft_span_remove_t: span-dup stats and excision from SQL ≡ typed") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    val boiler = "one two three four five"
    Seq(
      1L -> s"aa bb cc $boiler dd ee",
      2L -> s"zz yy $boiler xx ww vv",
      3L -> "qq rr ss tt uu pp oo nn",
      9L -> "just four tokens here").toDF("doc_id", "text")
      .createOrReplaceTempView("span_docs_v")
    val sqlStats = spark.sql(
      "SELECT * FROM graft_spandup_t('span_docs_v', 'doc_id', 'text', 5)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val typedStats = graft.llm.Dedup.spanDupStats(
        spark.table("span_docs_v"), "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sqlStats === typedStats)
    assert(sqlStats.exists(t => t._1 == 1L && t._3 == 1L),
      "planted boilerplate must flag a duplicated window from SQL")
    val sqlRm = spark.sql(
      "SELECT * FROM graft_span_remove_t('span_docs_v', 'doc_id', 'text', 5)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val typedRm = graft.llm.Dedup.removeDupSpans(
        spark.table("span_docs_v"), "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(sqlRm === typedRm)
    assert(sqlRm.contains((1L, "aa bb cc dd ee", 5L)))
    // explicit minDocs: a 2-doc span is NOT duplicated at minDocs=3
    val strict = spark.sql(
      "SELECT * FROM graft_spandup_t('span_docs_v', 'doc_id', 'text', 5, 3)")
      .collect().map(_.getLong(2)).sum
    assert(strict === 0L, "no window reaches 3 docs in this fixture")
  }

  test("graft_ingest_spandup_t: span scoring at ingest from SQL, re-poll idempotent ≡ typed stats") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_sql_span").toString
    val landing = s"$base/landing"; val work = s"$base/work"
    new java.io.File(landing).mkdirs()
    val boiler = "one two three four five"
    def q = "SELECT doc_id, n_windows, n_dup_windows FROM " +
      s"graft_ingest_spandup_t('$landing', '$work', 5, 2)"
    // delivery 1 carries the duplicated pair together (bridge-free)
    Seq(1L -> s"aa bb cc $boiler dd ee", 2L -> s"zz yy $boiler xx ww vv")
      .toDF("doc_id", "text").write.parquet(s"$landing/c1")
    val got1 = spark.sql(q).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got1 === Map(1L -> ((6L, 1L)), 2L -> ((6L, 1L))))
    // delivery 2: scored against the accumulated state — its boiler
    // window is already over the floor
    Seq(5L -> s"kk $boiler ll mm").toDF("doc_id", "text")
      .write.parquet(s"$landing/c2")
    val got2 = spark.sql(q).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got2(5L) === ((4L, 1L)),
      "second delivery must score against the accumulated corpus")
    // idempotent with nothing new landed, and SQL ≡ the typed stats read
    val again = spark.sql(q).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(again === got2)
    val typed = graft.streaming.SpanDupStream.stats(spark, work)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(again === typed)
    // the offline repair from SQL: a late delivery reuses doc 1's left
    // flank ("aa bb cc one two"), pushing that stored window over the
    // floor — doc 1's row is final at landing until the rescore re-flags
    Seq(7L -> "g1 aa bb cc one two g2").toDF("doc_id", "text")
      .write.parquet(s"$landing/c3")
    spark.sql(q).collect() // poll the late delivery first
    val repaired = spark.sql(
      "SELECT doc_id, n_windows, n_dup_windows FROM " +
        s"graft_span_rescore_t('$landing', '$work', 5, 2)")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(repaired(7L) === ((3L, 1L)))
    assert(repaired(1L) === ((6L, 2L)),
      "the late-crossed stored window must be re-flagged")
    assert(repaired === graft.streaming.SpanDupStream
      .stats(spark, work).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap,
      "SQL rescore ≡ typed stats read after repair")
  }

  test("graft_ingest_pipeline_t: dedup→index loop from SQL, index holds only representatives") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_sql_pipe").toString
    val landing = s"$base/landing"; val work = s"$base/work"
    val index = s"$base/index"
    new java.io.File(landing).mkdirs()
    val cents = (0L until 4L).map(c => (c, {
      val a = new Array[Float](8); a(c.toInt * 2) = 1.0f; a
    })).toDF("cell", "_cv")
    graft.llm.Similarity.saveIvf(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", index, IvfTier.Float, nlist = 4,
      centroids = Some(cents))
    def vec(id: Long) = { val a = new Array[Float](8); a((id % 8).toInt) = 1.0f; a }
    def land(name: String, rows: (Long, String)*): Unit =
      rows.map { case (id, t) => (id, t, vec(id)) }
        .toDF("doc_id", "text", "embedding").write.parquet(s"$landing/$name")
    val probe = Seq((999999L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    def indexedIds() = graft.llm.Similarity.ivfServe(probe, index,
        "vec_id", "embedding", k = 1000, nprobe = 4)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    def q = "SELECT doc_id, rep_id FROM " +
      s"graft_ingest_pipeline_t('$landing', '$work', '$index')"
    land("c1", 1L -> "alpha text body one", 2L -> "alpha text body one",
      3L -> "beta text body two")
    assert(spark.sql(q).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set(1L -> 1L, 2L -> 1L, 3L -> 3L))
    assert(indexedIds() === Set(1L, 3L), "one vector per cluster")
    // second delivery through the SAME statement: exact re-delivery
    // attaches without indexing, a new doc indexes
    land("c2", 11L -> "alpha text body one", 12L -> "gamma text body three")
    assert(spark.sql(q).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set(1L -> 1L, 2L -> 1L, 3L -> 3L, 11L -> 1L, 12L -> 12L))
    assert(indexedIds() === Set(1L, 3L, 12L))
    // idempotent with nothing new landed
    assert(spark.sql(q).count() === 5L)
    assert(indexedIds() === Set(1L, 3L, 12L))
  }

  test("graft_ingest_pipeline_t full tail: repetition + decontamination floors from SQL ≡ typed") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_sql_pipef").toString
    val landing = s"$base/landing"; val work = s"$base/work"
    val index = s"$base/index"
    new java.io.File(landing).mkdirs()
    val cents = (0L until 4L).map(c => (c, {
      val a = new Array[Float](8); a(c.toInt * 2) = 1.0f; a
    })).toDF("cell", "_cv")
    graft.llm.Similarity.saveIvf(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", index, IvfTier.Float, nlist = 4,
      centroids = Some(cents))
    def vec(id: Long) = { val a = new Array[Float](8); a((id % 8).toInt) = 1.0f; a }
    def uniq(tag: String) = (0 until 42).map(i => s"${tag}_u$i").mkString(" ")
    val benchText = (0 until 42).map(i => s"bm$i").mkString(" ")
    val contaminated = (0 until 21).map(i => s"bm$i").mkString(" ") + " " +
      (0 until 21).map(i => s"c_u$i").mkString(" ")
    Seq(benchText).toDF("text").createOrReplaceTempView("pipef_bench")
    Seq(1L -> uniq("a"), 2L -> Seq.fill(42)("x").mkString(" "),
      3L -> contaminated, 4L -> uniq("b"))
      .map { case (id, t) => (id, t, vec(id)) }
      .toDF("doc_id", "text", "embedding").write.parquet(s"$landing/c1")
    val got = spark.sql(
      s"""SELECT doc_id FROM graft_ingest_pipeline_t('$landing', '$work',
         |'$index', 0.8, 0, 1.0, 0.7, 0.25, 'pipef_bench', 0.3, 5)"""
        .stripMargin.replace("\n", " "))
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 4L),
      "SQL tail floors the looping and contaminated docs, like the typed gate")
    // the 18-arg form: quality + language floors on a second delivery
    val german = (0 until 60).map(i => s"der d$i").mkString(" ")
    val good = (0 until 60).map(i => s"the g$i").mkString(" ")
    Seq(11L -> good, 12L -> german)
      .map { case (id, t) => (id, t, vec(id)) }
      .toDF("doc_id", "text", "embedding").write.parquet(s"$landing/c2")
    val got2 = spark.sql(
      s"""SELECT doc_id FROM graft_ingest_pipeline_t('$landing', '$work',
         |'$index', 0.8, 0, 1.0, 0.7, 0.25, 'pipef_bench', 0.3, 5,
         |false, 1.0, false, 0.5, 'the,a', 'en', 'en:the;de:der')"""
        .stripMargin.replace("\n", " "))
      .collect().map(_.getLong(0)).toSet
    assert(got2 === Set(1L, 4L, 11L),
      "quality + language floors drive from the grown SQL tail")
    // the 21-arg form: the classifier floor on a third delivery — a
    // frozen weight view (trained via the facade itself) gates at
    // landing time exactly like the typed parameter
    (0L until 20L).map { i =>
      val y = (i % 2).toInt
      (100L + i,
        if (y == 1) s"the insightful essay piece$i the"
        else s"the click bait offer$i the", y)
    }.toDF("doc_id", "text", "label")
      .createOrReplaceTempView("pipef_labeled")
    val dim = 1 << 14
    spark.sql("SELECT * FROM graft_classifier_train_t(" +
      s"'pipef_labeled', 'doc_id', 'text', 'label', $dim, true, 200)")
      .createOrReplaceTempView("pipef_weights")
    // single marker mention + unique filler: repeated markers would trip
    // the repetition floor (dup_word_frac > 0.7) before the classifier
    // ever saw the doc
    Seq(21L -> ("the insightful essay " +
        (0 until 100).map(i => s"e$i").mkString(" ")),
      22L -> ("the click bait " +
        (0 until 100).map(i => s"o$i").mkString(" ")))
      .map { case (id, t) => (id, t, vec(id)) }
      .toDF("doc_id", "text", "embedding").write.parquet(s"$landing/c3")
    val got3 = spark.sql(
      s"""SELECT doc_id FROM graft_ingest_pipeline_t('$landing', '$work',
         |'$index', 0.8, 0, 1.0, 0.7, 0.25, 'pipef_bench', 0.3, 5,
         |false, 1.0, false, 0.5, 'the,a', 'en', 'en:the;de:der',
         |'pipef_weights', $dim, 0)"""
        .stripMargin.replace("\n", " "))
      .collect().map(_.getLong(0)).toSet
    assert(got3 === Set(1L, 4L, 11L, 21L),
      "the classifier floor drives from the 21-arg SQL tail")
  }

  test("graft_ivf_save_t + graft_ivf_topk_indexed_t: train-once/serve-many ≡ live IVF") {
    GraftSql.register(spark, TestSpark.sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_sql_ivfidx").toString
    val emb = spark.table("embeddings")
    emb.filter(org.apache.spark.sql.functions.col("vec_id") % 37 === 0)
      .createOrReplaceTempView("ivfidx_q")
    val cents = spark.sql(
      s"SELECT * FROM graft_ivf_save_t('embeddings', 'vec_id', 'embedding', '$dir', 8)")
    assert(cents.count() === 8L)
    val fromSql = spark.sql("SELECT query_id, neighbor_id, cos FROM " +
      s"graft_ivf_topk_indexed_t('ivfidx_q', '$dir', 'vec_id', 'embedding', 5, 3)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val typed = graft.llm.Similarity.ivfServe(
        spark.table("ivfidx_q"), dir, "vec_id", "embedding", 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromSql === typed)
    // and serving ≡ the live (train-per-call) path under the same seed
    val live = graft.llm.Similarity.ivfTopK(spark.table("ivfidx_q"), emb,
        graft.llm.Similarity.trainCentroids(emb, "embedding", 8),
        "vec_id", "embedding", 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromSql === live)
    // filtered search through the 8-arg tail ≡ the typed allow path
    emb.filter(org.apache.spark.sql.functions.col("vec_id") % 3 === 0)
      .select("vec_id").createOrReplaceTempView("ivfidx_allow")
    val fromSqlF = spark.sql("SELECT query_id, neighbor_id, cos FROM " +
      s"graft_ivf_topk_indexed_t('ivfidx_q', '$dir', 'vec_id', 'embedding', " +
      "5, 3, 1, 'ivfidx_allow')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val typedF = graft.llm.Similarity.ivfServe(
        spark.table("ivfidx_q"), dir, "vec_id", "embedding", 5, 3,
        allow = Some(spark.table("ivfidx_allow")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromSqlF === typedF && typedF.nonEmpty)
    assert(fromSqlF !== fromSql, "the allow list must change the result")
  }

  test("graft_ivf_append_t: incremental growth from SQL ≡ typed append; compact flag folds") {
    GraftSql.register(spark, TestSpark.sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_sql_ivfapp").toString
    val emb = spark.table("embeddings")
    val vid = org.apache.spark.sql.functions.col("vec_id")
    emb.filter(vid % 5 =!= 0).createOrReplaceTempView("ivfapp_base")
    emb.filter(vid % 5 === 0).createOrReplaceTempView("ivfapp_new")
    emb.filter(vid % 37 === 0).createOrReplaceTempView("ivfapp_q")
    spark.sql(
      s"SELECT * FROM graft_ivf_save_t('ivfapp_base', 'vec_id', 'embedding', '$dir', 8)").count()
    assert(spark.sql("SELECT * FROM graft_ivf_append_t(" +
      s"'ivfapp_new', 'vec_id', 'embedding', '$dir', true)").count() === 8L)
    val fromSql = spark.sql("SELECT query_id, neighbor_id, cos FROM " +
      s"graft_ivf_topk_indexed_t('ivfapp_q', '$dir', 'vec_id', 'embedding', 5, 3)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // live reference over the grown corpus with the STORED centroids
    val live = graft.llm.Similarity.ivfTopK(spark.table("ivfapp_q"), emb,
        graft.llm.Similarity.ivfCentroids(spark, dir),
        "vec_id", "embedding", 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromSql === live)
    // compact=true folded the delta into a fresh version
    val v = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("v")).sorted.toSeq
    assert(v === Seq("v2"), s"expected one compacted version, got $v")
    assert(new java.io.File(s"$dir/v2").listFiles().map(_.getName)
      .count(_.startsWith("delta")) === 0)
    // serving-corpus stats from SQL: occupancy sums to the full corpus
    val statN = spark.sql(s"SELECT sum(n) AS t FROM graft_ivf_stats_t('$dir')")
      .head.getLong(0)
    assert(statN === emb.count(), "stats cover base + appended vectors")
  }

  test("graft_ivf_save_q_t + graft_ivf_topk_q_t: SQ8 tier from SQL ≡ typed") {
    GraftSql.register(spark, TestSpark.sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_sql_ivfq").toString
    spark.table("embeddings")
      .filter(org.apache.spark.sql.functions.col("vec_id") % 37 === 0)
      .createOrReplaceTempView("ivfq_q")
    assert(spark.sql("SELECT * FROM graft_ivf_save_q_t(" +
      s"'embeddings', 'vec_id', 'embedding', '$dir', 8)").count() === 8L)
    val fromSql = spark.sql("SELECT query_id, neighbor_id, cos FROM " +
      s"graft_ivf_topk_q_t('ivfq_q', '$dir', 'vec_id', 'embedding', 5, 3)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val typed = graft.llm.Similarity.ivfServe(
        spark.table("ivfq_q"), dir, "vec_id", "embedding", 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromSql === typed)
    assert(fromSql.nonEmpty)
  }

  test("graft_ivf_topk_qr_t: refined quantized serve from SQL ≡ typed on the degenerate fixture") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_sql_ivfqr").toString
    // the fixture where refine MATTERS: per-vector range is dominated by
    // the 1.0 one-hot (step ≈ 1/255 ≈ 0.004) while the discriminative
    // jitter is ~100× smaller — raw SQ8 ranking is signal-free among
    // same-axis neighbors and only the exact re-score orders them
    def vec(id: Long): Array[Float] = {
      val a = new Array[Float](16)
      a((id % 4).toInt) = 1.0f
      (0 until 16).foreach(j => a(j) = a(j) + ((id * 31 + j * 7) % 11).toFloat * 4e-6f)
      a
    }
    val corpus = (0L until 200L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    corpus.createOrReplaceTempView("ivfqr_c")
    corpus.filter($"vec_id" < 20).createOrReplaceTempView("ivfqr_q")
    spark.sql("SELECT * FROM graft_ivf_save_q_t(" +
      s"'ivfqr_c', 'vec_id', 'embedding', '$dir', 4)").collect()
    val fromSql = spark.sql("SELECT query_id, neighbor_id, cos FROM " +
      s"graft_ivf_topk_qr_t('ivfqr_q', '$dir', 'ivfqr_c', 'vec_id', " +
      "'embedding', 5, 2, 8)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val typed = graft.llm.Similarity.ivfServe(
        spark.table("ivfqr_q"), dir, "vec_id",
        "embedding", 5, 2, refine = Some(IvfRefine(spark.table("ivfqr_c"), 8)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromSql === typed)
    assert(fromSql.nonEmpty)
    // and the refined ranks really differ from the raw quantized ranks
    // here (the reason this serving form exists)
    val raw = spark.sql("SELECT query_id, neighbor_id, cos FROM " +
      s"graft_ivf_topk_q_t('ivfqr_q', '$dir', 'vec_id', 'embedding', 5, 2)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromSql.map(t => (t._1, t._2)) !== raw,
      "degenerate fixture: exact re-scoring must reorder the top-k")
  }

  test("graft_ivf_save_pq_t / graft_ivf_topk_pq_t / graft_ivf_topk_pqr_t: PQ tier from SQL ≡ typed") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_sql_ivfpq").toString
    def vec(id: Long): Array[Float] = {
      val a = new Array[Float](16)
      a((id % 4).toInt) = 1.0f
      (0 until 16).foreach(j => a(j) = a(j) + ((id * 31 + j * 7) % 11).toFloat * 4e-6f)
      a
    }
    val corpus = (0L until 200L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    corpus.createOrReplaceTempView("ivfpq_c")
    corpus.filter($"vec_id" < 20).createOrReplaceTempView("ivfpq_q")
    spark.sql("SELECT * FROM graft_ivf_save_pq_t(" +
      s"'ivfpq_c', 'vec_id', 'embedding', '$dir', 4, 4, 16)").collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
    val rawSql = spark.sql("SELECT query_id, neighbor_id, cos FROM " +
      s"graft_ivf_topk_pq_t('ivfpq_q', '$dir', 'vec_id', 'embedding', 5, 2)")
      .collect().map(key).toSet
    val rawTyped = graft.llm.Similarity.ivfServe(spark.table("ivfpq_q"),
        dir, "vec_id", "embedding", 5, 2)
      .collect().map(key).toSet
    assert(rawSql === rawTyped)
    assert(rawSql.nonEmpty)
    val refSql = spark.sql("SELECT query_id, neighbor_id, cos FROM " +
      s"graft_ivf_topk_pqr_t('ivfpq_q', '$dir', 'ivfpq_c', 'vec_id', " +
      "'embedding', 5, 2, 8)")
      .collect().map(key).toSet
    val refTyped = graft.llm.Similarity.ivfServe(
        spark.table("ivfpq_q"), dir, "vec_id",
        "embedding", 5, 2, refine = Some(IvfRefine(spark.table("ivfpq_c"), 8)))
      .collect().map(key).toSet
    assert(refSql === refTyped)
    assert(refSql.nonEmpty)
    // residual arm: the 9-arg save form stamps _PQRES and the raw serve
    // routes through the residual ADC (add-back per probed cell) — SQL
    // must hit the same path as the typed call on a fresh directory
    val rdir = java.nio.file.Files.createTempDirectory("graft_sql_ivfpqr")
      .toString
    spark.sql("SELECT * FROM graft_ivf_save_pq_t(" +
      s"'ivfpq_c', 'vec_id', 'embedding', '$rdir', 4, 4, 16, 42, true)")
      .collect()
    assert((graft.llm.IvfManifest.read(spark, s"$rdir/v1").flavor match {
      case f: graft.llm.IvfFlavor.Pq => f.residual; case _ => false }),
      "the SQL save form carries the residual flavor marker")
    val rresSql = spark.sql("SELECT query_id, neighbor_id, cos FROM " +
      s"graft_ivf_topk_pq_t('ivfpq_q', '$rdir', 'vec_id', 'embedding', 5, 2)")
      .collect().map(key).toSet
    val rresTyped = graft.llm.Similarity.ivfServe(spark.table("ivfpq_q"),
        rdir, "vec_id", "embedding", 5, 2)
      .collect().map(key).toSet
    assert(rresSql === rresTyped)
    assert(rresSql.nonEmpty)
    // per-cell arm: the 10-arg save form stamps _PQLOCAL (+_PQRES — local
    // codebooks quantize residuals) and the raw serve routes through the
    // per-(query, probed cell) ADC lookup — SQL ≡ typed on a fresh dir
    val ldir = java.nio.file.Files.createTempDirectory("graft_sql_ivfpql")
      .toString
    spark.sql("SELECT * FROM graft_ivf_save_pq_t(" +
      s"'ivfpq_c', 'vec_id', 'embedding', '$ldir', 4, 4, 16, 42, false, " +
      "true)").collect()
    assert((graft.llm.IvfManifest.read(spark, s"$ldir/v1").flavor match {
      case f: graft.llm.IvfFlavor.Pq => f.perCell; case _ => false }) &&
      (graft.llm.IvfManifest.read(spark, s"$ldir/v1").flavor match {
      case f: graft.llm.IvfFlavor.Pq => f.residual; case _ => false }),
      "the SQL save form carries the per-cell flavor markers")
    val lSql = spark.sql("SELECT query_id, neighbor_id, cos FROM " +
      s"graft_ivf_topk_pq_t('ivfpq_q', '$ldir', 'vec_id', 'embedding', 5, 2)")
      .collect().map(key).toSet
    val lTyped = graft.llm.Similarity.ivfServe(spark.table("ivfpq_q"),
        ldir, "vec_id", "embedding", 5, 2)
      .collect().map(key).toSet
    assert(lSql === lTyped)
    assert(lSql.nonEmpty)
    // rotated (OPQ) arm: graft_opq_train_t trains the rotation, the
    // 11-arg save form stamps _PQROT, and the raw serve rotates the
    // query for its ADC lookups — SQL ≡ typed on a fresh dir
    val odir = java.nio.file.Files.createTempDirectory("graft_sql_ivfpqo")
      .toString
    spark.sql("SELECT * FROM graft_opq_train_t(" +
      "'ivfpq_c', 'vec_id', 'embedding', 4, 16, 4)")
      .createOrReplaceTempView("ivfpq_rot_v")
    spark.sql("SELECT * FROM graft_ivf_save_pq_t(" +
      s"'ivfpq_c', 'vec_id', 'embedding', '$odir', 4, 4, 16, 42, true, " +
      "false, 'ivfpq_rot_v')").collect()
    assert((graft.llm.IvfManifest.read(spark, s"$odir/v1").flavor match {
      case f: graft.llm.IvfFlavor.Pq => f.rotated; case _ => false }) &&
      new java.io.File(s"$odir/v1/rotation").exists(),
      "the SQL save form carries the rotation artifacts")
    val oSql = spark.sql("SELECT query_id, neighbor_id, cos FROM " +
      s"graft_ivf_topk_pq_t('ivfpq_q', '$odir', 'vec_id', 'embedding', 5, 2)")
      .collect().map(key).toSet
    val oTyped = graft.llm.Similarity.ivfServe(spark.table("ivfpq_q"),
        odir, "vec_id", "embedding", 5, 2)
      .collect().map(key).toSet
    assert(oSql === oTyped)
    assert(oSql.nonEmpty)
  }

  test("graft_dhash_pairs_t / graft_dhash_clusters_t / graft_frame_dup_t / graft_frame_clusters_t: multimodal tier from SQL ≡ typed") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, struct}
    GraftSql.registerFunctions(spark)
    // mm2's construction: each doc plus a one-byte-perturbed twin payload
    val rnd = new scala.util.Random(11)
    val vids = (1L to 6L).map { i =>
      val b = Array.fill[Byte](192)(rnd.nextInt(256).toByte)
      (i, b)
    }
    val twins = vids.map { case (i, b) =>
      val t = b.clone(); t(70) = (t(70) ^ 0x7f).toByte; (i + 100L, t)
    }
    val media = (vids ++ twins).toDF("doc_id", "payload")
      .withColumn("meta", struct(lit("raw").as("format")))
    media.createOrReplaceTempView("mm_media_v")
    def pk(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val pairsSql = spark.sql(
      "SELECT * FROM graft_dhash_pairs_t('mm_media_v', 3)")
      .collect().map(pk).toSet
    val pairsTyped = graft.llm.Multimodal.dHashPairs(media, maxDist = 3)
      .collect().map(pk).toSet
    assert(pairsSql === pairsTyped)
    assert(pairsSql.nonEmpty)
    val clSql = spark.sql(
      "SELECT * FROM graft_dhash_clusters_t('mm_media_v', 3, 4, " +
        "'doc_id', 'payload')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clTyped = graft.llm.Multimodal.dHashClusters(media, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clSql === clTyped)
    assert(clSql.nonEmpty)
    val fpSql = spark.sql(
      "SELECT * FROM graft_frame_dup_t('mm_media_v', 64, 1, 3)")
      .collect().map(pk).toSet
    val fpTyped = graft.llm.Multimodal.frameDupPairs(media, frameBytes = 64,
        everyN = 1, maxDist = 3)
      .collect().map(pk).toSet
    assert(fpSql === fpTyped)
    assert(fpSql.nonEmpty)
    val fcSql = spark.sql(
      "SELECT * FROM graft_frame_clusters_t('mm_media_v', 64, 1, 3, 1, 4)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fcTyped = graft.llm.Multimodal.frameDupClusters(media,
        frameBytes = 64, everyN = 1, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fcSql === fcTyped)
    assert(fcSql.nonEmpty)
    // arg validation: idCol without payloadCol is refused
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM graft_dhash_pairs_t('mm_media_v', 3, 4, " +
        "'doc_id')").collect()
    }
    assert(ex.getMessage.contains("together"))
  }

  test("graft_pq_stats_t + graft_pq_refresh_t: codebook-drift loop from SQL ≡ typed") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_sql_pqst").toString
    // the LlmSpec drift fixture: corpus A on even components, shifted
    // delivery B on odd ones — A-trained codebooks cannot encode B
    def aVec(i: Long) = Array.tabulate(8)(j =>
      if (j % 2 == 0) (i % 2 + 1).toFloat else 0f)
    def bVec(i: Long) = Array.tabulate(8)(j =>
      if (j % 2 == 1) (i % 2 + 3).toFloat else 0f)
    val a = (0L until 50L).map(i => (i, aVec(i))).toDF("vec_id", "embedding")
    val b = (50L until 100L).map(i => (i, bVec(i))).toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, Array.tabulate(8)(j => if (j % 2 == 0) 1f else 0f)),
      (1L, Array.tabulate(8)(j => if (j % 2 == 1) 1f else 0f)))
      .toDF("cell", "_cv")
    graft.llm.Similarity.saveIvf(a, "vec_id", "embedding", dir,
      IvfTier.Pq(m = 4, k = 4),
      nlist = 2, centroids = Some(cents))
    graft.llm.Similarity.appendIvfIndex(b, "vec_id", "embedding", dir,
      Some("b1"))
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1),
      math.round(r.getDouble(2) * 1e6))
    val statSql = spark.sql(
      s"SELECT source, rows, mean_qerr FROM graft_pq_stats_t('$dir')")
      .collect().map(key).toSet
    val statTyped = graft.llm.Similarity.pqIndexStats(spark, dir)
      .select("source", "rows", "mean_qerr").collect().map(key).toSet
    assert(statSql === statTyped && statSql.size === 2)
    a.unionByName(b).createOrReplaceTempView("pqst_c")
    val refreshed = spark.sql("SELECT source, rows, mean_qerr FROM " +
      s"graft_pq_refresh_t('pqst_c', 'vec_id', 'embedding', '$dir', 4)")
      .collect()
    assert(refreshed.length === 1 && refreshed.head.getLong(1) === 100L)
    assert(refreshed.head.getDouble(2) < 1e-3,
      "SQL refresh restores the error floor")
  }

  test("graft_combine_t equals the typed combineChunk") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val pose = Seq(
      (ts(2000), 1L, "anchor_spine2", 10.0, 10.0),
      (ts(2000), 1L, "head", 11.0, 12.0),
      (ts(2000), 2L, "anchor_spine2", 100.0, 100.0),
      (ts(22000), 3L, "anchor_spine2", 10.5, 10.0))
      .toDF("time", "pose_id", "part", "x", "y")
    val ids = Seq(
      (ts(1000), "alice", Map("alice" -> 0.9), 12.0, 10.0),
      (ts(1000), "bob", Map("bob" -> 0.8), 98.0, 102.0),
      (ts(21000), "alice", Map("alice" -> 0.7), 11.0, 10.0))
      .toDF("time", "identity", "identity_likelihood", "x_top", "y_top")
    pose.createOrReplaceTempView("comb_pose")
    ids.createOrReplaceTempView("comb_ids")
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getString(3))
    val fromSql = spark.sql(
      "SELECT time, pose_id, part, identity FROM graft_combine_t('comb_pose', 'comb_ids', 50.0, 40.0, 'anchor')")
      .collect().map(key).toSet
    val typed = graft.combine.Combine.combineChunk(pose, ids,
        graft.combine.Combine.Params(fps = 50, maxDistance = 40))
      .select("time", "pose_id", "part", "identity")
      .collect().map(key).toSet
    assert(fromSql === typed)
    assert(fromSql.nonEmpty)
  }

  test("graft_ivf_topk_t equals the typed trainCentroids+ivfTopK, salted included") {
    import org.apache.spark.sql.functions.col
    GraftSql.register(spark, TestSpark.sfDir)
    val emb = spark.table("embeddings")
    emb.filter(col("vec_id") < 5).createOrReplaceTempView("ivf_queries")
    emb.createOrReplaceTempView("ivf_corpus")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
    val fromSql = spark.sql(
      "SELECT query_id, neighbor_id, cos FROM graft_ivf_topk_t('ivf_queries', 'ivf_corpus', 'vec_id', 'embedding', 3, 4, 2)")
      .collect().map(key).toSet
    val cents = graft.llm.Similarity.trainCentroids(emb, "embedding", 4, seed = 42L)
    val typed = graft.llm.Similarity.ivfTopK(
        emb.filter(col("vec_id") < 5), emb, cents, "vec_id", "embedding", 3, 2)
      .select("query_id", "neighbor_id", "cos")
      .collect().map(key).toSet
    assert(fromSql === typed)
    assert(fromSql.nonEmpty)
    // salted form returns the identical result set
    val salted = spark.sql(
      "SELECT query_id, neighbor_id, cos FROM graft_ivf_topk_t('ivf_queries', 'ivf_corpus', 'vec_id', 'embedding', 3, 4, 2, 42, 3)")
      .collect().map(key).toSet
    assert(salted === fromSql)
  }

  test("graft_ffill_t equals the typed Fill, plain and bucketed, no global sort when bucketed") {
    import spark.implicits._
    import org.apache.spark.sql.execution.window.WindowExec
    GraftSql.registerFunctions(spark)
    val rows = (0L until 5000L).map(i =>
      (i, if (i % 7 == 0) Some(i * 1.5) else None, s"g${i % 3}"))
      .toDF("us", "v", "grp")
    rows.createOrReplaceTempView("ffill_in")
    def got(sql: String) = spark.sql(sql).collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]))).toSet
    // plain keyed form ≡ typed
    val sqlKeyed = got("SELECT us, v FROM graft_ffill_t('ffill_in', 'us', 'v', 0, 'grp')")
    val typedKeyed = graft.operators.Fill.ffill(rows, Seq("v"), "us", Seq("grp"))
      .select("us", "v").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]))).toSet
    assert(sqlKeyed === typedKeyed)
    // bucketed keyless form ≡ plain keyless form, with no global-sort window
    val bucketedDf = spark.sql(
      "SELECT us, v FROM graft_ffill_t('ffill_in', 'us', 'v', 500)")
    val sqlBucketed = bucketedDf.collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]))).toSet
    val typedPlain = graft.operators.Fill.ffill(rows, Seq("v"), "us")
      .select("us", "v").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]))).toSet
    assert(sqlBucketed === typedPlain)
    val plan = bucketedDf.queryExecution.executedPlan
    assert(plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
      "bucketed ffill must not sort the stream on one task")
  }

  test("graft_assign from SQL equals the typed Assignment operator") {
    GraftSql.registerFunctions(spark)
    import spark.implicits._
    val pairs = Seq(
      (1L, 10L, "a", 0.5), (1L, 10L, "b", 0.1), (1L, 11L, "a", 0.2),
      (1L, 11L, "b", 0.9), (2L, 20L, "a", 0.3),
      (2L, 21L, "a", Double.PositiveInfinity))
      .toDF("grp", "l", "r", "cost")
    pairs.createOrReplaceTempView("cand_pairs")
    val fromSql = spark.sql(
      """SELECT grp, l, r, cost FROM (
        |  SELECT grp,
        |    inline(graft_assign(collect_list(struct(l, r, cost)))) AS (l, r, cost)
        |  FROM cand_pairs GROUP BY grp)
        |WHERE cost < cast('Infinity' as double)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    val fromScala = graft.operators.Assignment.assign(
        pairs, Seq("grp"), "l", "r", "cost")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    assert(fromSql === fromScala)
    // the optimum: in group 1, b→10 (0.1) + a→11 (0.2) beats the greedy mix
    assert(fromSql.contains((1L, 10L, "b", 0.1)) && fromSql.contains((1L, 11L, "a", 0.2)))
  }

  test("graft_assign_t table function equals the typed Assignment operator") {
    GraftSql.registerFunctions(spark)
    import spark.implicits._
    val pairs = Seq(
      (1L, 10L, "a", 0.5), (1L, 10L, "b", 0.1), (1L, 11L, "a", 0.2),
      (1L, 11L, "b", 0.9), (2L, 20L, "a", 0.3))
      .toDF("grp", "l", "r", "cost")
    pairs.createOrReplaceTempView("assign_t_pairs")
    val fromSql = spark.sql(
      "SELECT grp, l, r, cost FROM graft_assign_t('assign_t_pairs', 'grp', 'l', 'r', 'cost')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    val fromScala = graft.operators.Assignment.assign(
        pairs, Seq("grp"), "l", "r", "cost")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    assert(fromSql === fromScala)
    assert(fromSql.contains((1L, 10L, "b", Some(0.1))))
  }

  test("graft_fights_t and graft_tube_tests_t run the detectors from pure SQL") {
    import spark.implicits._
    import graft.behavior.Detectors
    GraftSql.registerFunctions(spark)
    val parts = Map("nose" -> "nose", "head" -> "head",
      "centroid" -> "spine2", "tail_base" -> "spine4")
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 12:00:00")
    def mouse(f: Int, id: String, cx: Double, cy: Double, dir: Double,
        noseHead: Double = 2.0) = Seq(
      (f, id, "nose", cx + dir * (8 + noseHead), cy),
      (f, id, "head", cx + dir * 8, cy),
      (f, id, "spine2", cx, cy),
      (f, id, "spine4", cx - dir * 10, cy))
    def poseDf(rows: Seq[(Int, String, String, Double, Double)]) =
      rows.map { case (f, id, part, x, y) =>
        (new java.sql.Timestamp(t0.getTime + f * 20L), id, part, x, y)
      }.toDF("time", "identity", "part", "x", "y")
    // fight fixture (DetectorSpec golden): close fast contorted 100–200
    val fightRows = (0 to 260).flatMap { f =>
      if (f >= 100 && f <= 200) {
        val x = 100.0 + (f - 100) * 10.0
        mouse(f, "A", x, 100, 1, noseHead = 10.0) ++
          mouse(f, "B", x + 3, 104, 1, noseHead = 10.0)
      } else mouse(f, "A", 100, 100, 1) ++ mouse(f, "B", 400, 400, 1)
    }
    poseDf(fightRows).createOrReplaceTempView("sql_fight_pose")
    val sqlFights = spark.sql(
      "SELECT * FROM graft_fights_t('sql_fight_pose', " +
        "'nose=nose,head=head,centroid=spine2,tail_base=spine4', 'A,B')")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime,
        r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSet
    val typedFights = Detectors.detectFights(poseDf(fightRows), None, parts,
        Detectors.FightParams())
      .collect().map(e => (e.start_ts.getTime, e.end_ts.getTime,
        e.duration_sec, e.end_x, e.end_y)).toSet
    assert(typedFights.size === 1)
    assert(sqlFights === typedFights)
    // tube fixture (DetectorSpec golden): stand-off then B retreats
    val tubeRows = (0 to 69).flatMap { f =>
      if (f < 20) mouse(f, "A", 100, 50, 1) ++ mouse(f, "B", 140, 50, -1)
      else mouse(f, "A", 100, 50, 1) ++ mouse(f, "B", 140.0 + 3 * (f - 19), 50, 1)
    }
    poseDf(tubeRows).createOrReplaceTempView("sql_tube_pose")
    val sqlTubes = spark.sql(
      "SELECT * FROM graft_tube_tests_t('sql_tube_pose', '" +
        "nose=nose,head=head,centroid=spine2,tail_base=spine4', 'A,B', 50.0, " +
        "'0,50,50,400')")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime,
        r.getString(2))).toSet
    val typedTubes = Detectors.detectTubeTests(poseDf(tubeRows), parts,
        Detectors.TubeParams(), roi = Some(Detectors.Roi(0.0, 50.0, 50.0, 400.0)))
      .collect().map(e => (e.start_ts.getTime, e.end_ts.getTime,
        e.winner_identity)).toSet
    assert(typedTubes.size === 1 && typedTubes.head._3 === "A")
    assert(sqlTubes === typedTubes)
    // blob view argument wires condition 3: a slow blob during the planted
    // fight suppresses it (typed parity both with and without the view)
    val blobSlow = (0 to 260).map { f =>
      (new java.sql.Timestamp(t0.getTime + f * 20L), 100.0, 100.0)
    }.toDF("time", "x", "y")
    blobSlow.createOrReplaceTempView("sql_fight_blob")
    val sqlBlob = spark.sql(
      "SELECT * FROM graft_fights_t('sql_fight_pose', '', 'A,B', 50.0, 'sql_fight_blob')")
      .collect()
    val typedBlob = Detectors.detectFights(poseDf(fightRows), Some(blobSlow),
      parts, Detectors.FightParams()).collect()
    assert(typedBlob.isEmpty, "stationary blob suppresses the pseudo-fight")
    assert(sqlBlob.isEmpty, "blob view argument must reach condition 3")
    // identity parts mapping default: '' resolves nose/head/centroid/tail_base
    poseDf(tubeRows).withColumn("part",
        org.apache.spark.sql.functions.expr(
          "CASE part WHEN 'spine2' THEN 'centroid' WHEN 'spine4' THEN 'tail_base' ELSE part END"))
      .createOrReplaceTempView("sql_tube_pose_ident")
    val sqlDefault = spark.sql(
      "SELECT * FROM graft_tube_tests_t('sql_tube_pose_ident')")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime,
        r.getString(2))).toSet
    assert(sqlDefault === typedTubes)
  }

  test("graft_assign drops NULL l/r/cost rows as infeasible, like the Scala API") {
    GraftSql.registerFunctions(spark)
    val values =
      """VALUES
        |  (CAST(10 AS BIGINT), 'a', CAST(0.4 AS DOUBLE)),
        |  (CAST(10 AS BIGINT), 'b', CAST(NULL AS DOUBLE)),
        |  (CAST(NULL AS BIGINT), 'b', CAST(0.1 AS DOUBLE)),
        |  (CAST(11 AS BIGINT), CAST(NULL AS STRING), CAST(0.2 AS DOUBLE)),
        |  (CAST(11 AS BIGINT), 'b', CAST(0.7 AS DOUBLE)) AS t(l, r, cost)""".stripMargin
    // pre-fix this CRASHED (null in a non-nullable decoded tuple field)
    val fromSql = spark.sql(
      s"""SELECT l, r, cost FROM (
         |  SELECT inline(graft_assign(collect_list(struct(l, r, cost)))) AS (l, r, cost)
         |  FROM $values)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val fromScala = graft.operators.Assignment.assign(
        spark.sql(s"SELECT * FROM $values"), Nil, "l", "r", "cost")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(fromSql === fromScala)
    assert(fromSql === Set((10L, "a", 0.4), (11L, "b", 0.7)))
  }

  test("graft_repetition_t / graft_pii_scrub_t: quality signals from SQL ≡ typed") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    Seq(
      1L -> "a a a a",
      2L -> "mail bob@x.io ip 1.2.3.4 tel +44 207 946 0958 end",
      3L -> "clean text with no repetition at all").toDF("doc_id", "text")
      .createOrReplaceTempView("mix_docs_v")
    val sqlRep = spark.sql(
      "SELECT * FROM graft_repetition_t('mix_docs_v', 'doc_id', 'text')")
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(4))).toSet
    val typedRep = graft.llm.Quality.repetitionStats(
        spark.table("mix_docs_v"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(4))).toSet
    assert(sqlRep === typedRep)
    assert(sqlRep.exists(t => t._1 == 1L && t._2 == 0.75 && t._3 == 1.0))
    val scrub = spark.sql(
      "SELECT * FROM graft_pii_scrub_t('mix_docs_v', 'doc_id', 'text')")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(scrub(2L) ===
      (("mail <EMAIL> ip <IP> tel <PHONE> end", 1L, 1L, 1L)))
    assert(scrub(3L)._1 === "clean text with no repetition at all")
  }

  test("graft_sample_t / graft_quota_t / graft_pack_t: training-mix ops from SQL ≡ typed") {
    GraftSql.registerFunctions(spark)
    graft.Tables.documents(spark, graft.TestSpark.sfDir)
      .createOrReplaceTempView("mix_corpus_v")
    val sqlSample = spark.sql(
      "SELECT doc_id FROM graft_sample_t('mix_corpus_v', 'doc_id', 37)")
      .collect().map(_.getLong(0)).toSet
    val typedSample = graft.llm.Sampling.hashSample(
        spark.table("mix_corpus_v"), "doc_id", 37)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sqlSample === typedSample)
    assert(sqlSample.nonEmpty && sqlSample.size < typedSample.size + 1)
    val sqlQuota = spark.sql(
      "SELECT doc_id, rk FROM graft_quota_t('mix_corpus_v', 'lang,source', 'doc_id', 5)")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val typedQuota = graft.llm.Sampling.stratifiedQuota(
        spark.table("mix_corpus_v"), Seq("lang", "source"), "doc_id", 5)
      .select("doc_id", "rk").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(sqlQuota === typedQuota)
    val sqlPack = spark.sql(
      "SELECT doc_id, bin_id FROM graft_pack_t('mix_corpus_v', 'doc_id', 'text', 'lang', 64)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val typedPack = graft.llm.Sampling.packGreedy(
        spark.table("mix_corpus_v"), "doc_id", "text", "lang", 64L, 4)
      .select("doc_id", "bin_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sqlPack === typedPack)
  }

  test("graft_contamination_t / graft_shuffle_t: decontamination and shuffle from SQL ≡ typed") {
    GraftSql.registerFunctions(spark)
    val d = graft.Tables.documents(spark, graft.TestSpark.sfDir)
    d.filter(org.apache.spark.sql.functions.col("source") =!= "src0")
      .createOrReplaceTempView("contam_corpus_v")
    d.filter(org.apache.spark.sql.functions.col("source") === "src0")
      .createOrReplaceTempView("contam_bench_v")
    val sqlC = spark.sql(
      """SELECT doc_id, n_contaminated FROM
        |graft_contamination_t('contam_corpus_v', 'contam_bench_v', 'doc_id', 'text')""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val typedC = graft.llm.Dedup.contaminationStats(
        spark.table("contam_corpus_v"), spark.table("contam_bench_v"),
        "doc_id", "text", 5)
      .select("doc_id", "n_contaminated")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sqlC === typedC)
    d.createOrReplaceTempView("shuffle_docs_v")
    val sqlS = spark.sql(
      "SELECT doc_id, shard, pos FROM graft_shuffle_t('shuffle_docs_v', 'doc_id', 8, 'ep1')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val typedS = graft.llm.Sampling.shuffleShards(
        spark.table("shuffle_docs_v"), "doc_id", 8, "ep1")
      .select("doc_id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sqlS === typedS)
  }

  test("graft_semdedup_t / graft_mix_sample_t / graft_mix_quota_t / graft_normalize_t: mix tier from SQL ≡ typed") {
    GraftSql.registerFunctions(spark)
    import org.apache.spark.sql.functions.col
    val e = graft.Tables.embeddings(spark, graft.TestSpark.sfDir)
    e.createOrReplaceTempView("sd_vecs_v")
    e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("embedding").as("_cv"))
      .createOrReplaceTempView("sd_cents_v")
    val sqlSurv = spark.sql(
      "SELECT vec_id FROM graft_semdedup_t('sd_vecs_v', 'sd_cents_v', 0.35D)")
      .collect().map(_.getLong(0)).toSet
    val typedSurv = graft.llm.Similarity.semDedup(e,
        spark.table("sd_cents_v"), "vec_id", "embedding", 0.35)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(sqlSurv === typedSurv && sqlSurv.size < e.count())
    val sqlPairs = spark.sql(
      "SELECT i, j FROM graft_semdedup_pairs_t('sd_vecs_v', 'sd_cents_v', 0.35D)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val typedPairs = graft.llm.Similarity.semDedupPairs(e,
        spark.table("sd_cents_v"), "vec_id", "embedding", 0.35)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sqlPairs === typedPairs && sqlPairs.nonEmpty)

    val d = graft.Tables.documents(spark, graft.TestSpark.sfDir)
    d.createOrReplaceTempView("mix_docs_v")
    spark.sql("SELECT * FROM (VALUES ('src0', 80), ('src1', 0), ('src2', 40)) AS t(s, p)")
      .createOrReplaceTempView("mix_rates_v")
    val sqlMix = spark.sql(
      "SELECT doc_id FROM graft_mix_sample_t('mix_docs_v', 'source', 'doc_id', 'mix_rates_v', 25)")
      .collect().map(_.getLong(0)).toSet
    val typedMix = graft.llm.Sampling.mixSample(d, "source", "doc_id",
        Map("src0" -> 80, "src1" -> 0, "src2" -> 40), 25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sqlMix === typedMix && sqlMix.nonEmpty)

    spark.sql("SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.3)) AS t(s, w)")
      .createOrReplaceTempView("mix_weights_v")
    val sqlQuota = spark.sql(
      "SELECT doc_id, rk FROM graft_mix_quota_t('mix_docs_v', 'source', 'doc_id', 'mix_weights_v', 20)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val typedQuota = graft.llm.Sampling.mixQuota(d, "source", "doc_id",
        Map("src0" -> 0.5, "src1" -> 0.3), 20L)
      .select("doc_id", "rk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sqlQuota === typedQuota && sqlQuota.nonEmpty)

    val sqlNorm = spark.sql(
      "SELECT * FROM graft_normalize_t('mix_docs_v', 'doc_id', 'text', true)")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val typedNorm = d.select(col("doc_id"),
        graft.llm.Quality.normalizeText(col("text"), lowercase = true).as("norm"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sqlNorm === typedNorm && sqlNorm.nonEmpty)
    // arg validation surfaces as a clear error, not a mis-bound plan
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM graft_semdedup_t('sd_vecs_v', 'sd_cents_v')").collect()
    }
    assert(err.getMessage.contains("usage") || err.getMessage.contains("minCos"))
  }

  test("graft_line_dedup_t / graft_lm_t / graft_lm_score_t: line dedup and LM scoring from SQL ≡ typed") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    Seq(
      1L -> "intro one\naccept all cookies\nbody a",
      2L -> "accept all cookies\nbody b",
      3L -> "solo\nbody c").toDF("doc_id", "text")
      .createOrReplaceTempView("line_docs_v")
    val sqlLines = spark.sql(
      "SELECT * FROM graft_line_dedup_t('line_docs_v', 'doc_id', 'text')")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    val typedLines = graft.llm.Dedup.removeDupLines(
        spark.table("line_docs_v"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    assert(sqlLines === typedLines)
    assert(sqlLines.exists(t => t._1 == 1L && t._2 == "intro one\nbody a"))
    // optional args: at minDocs=3 the 2-doc boilerplate line survives
    val kept3 = spark.sql(
      "SELECT * FROM graft_line_dedup_t('line_docs_v', 'doc_id', 'text', 3, '\n')")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(kept3.values.forall(_ == 0L))

    val d = graft.Tables.documents(spark, graft.TestSpark.sfDir)
    d.createOrReplaceTempView("lm_docs_v")
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW lm_model_v AS
      SELECT * FROM graft_lm_t('lm_docs_v', 'text', 16)""")
    assert(spark.table("lm_model_v").count() === 16L)
    val sqlLm = spark.sql(
      "SELECT * FROM graft_lm_score_t('lm_docs_v', 'doc_id', 'text', 'lm_model_v')")
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSet
    val typedLm = graft.llm.Quality.lmPerplexity(d,
        graft.llm.Quality.unigramLm(d, "text", 16), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSet
    assert(sqlLm === typedLm && sqlLm.nonEmpty)
    // DSIR ratio with target ≡ source model: exactly zero everywhere
    val sqlRatio = spark.sql(
      """SELECT * FROM graft_lm_ratio_t('lm_docs_v', 'doc_id', 'text',
        'lm_model_v', 'lm_model_v')""")
      .collect().map(r => (r.getDouble(2), r.getDouble(3)))
    assert(sqlRatio.nonEmpty && sqlRatio.forall(t => t._1 == 0.0 && t._2 == 0.0))
    // SentencePiece-unigram trainer from SQL ≡ typed
    val sqlSp = spark.sql(
      "SELECT * FROM graft_sp_unigram_train_t('lm_docs_v', 'doc_id', " +
        "'text', 120, 2, 3)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    val typedSp = graft.llm.SpUnigram.train(d, "doc_id", "text",
        vocab = 120, iters = 2, maxPieceLen = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(sqlSp === typedSp && sqlSp.nonEmpty)

    // SP encode from SQL against the persisted trained vocab ≡ typed
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW sp_model_v AS
      SELECT * FROM graft_sp_unigram_train_t('lm_docs_v', 'doc_id',
        'text', 120, 2, 3)""")
    val sqlEnc = spark.sql(
      "SELECT * FROM graft_sp_encode_t('lm_docs_v', 'doc_id', 'text', " +
        "'sp_model_v')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val typedEnc = graft.llm.SpUnigram.encode(d, "doc_id", "text",
        graft.llm.SpUnigram.train(d, "doc_id", "text", vocab = 120,
          iters = 2, maxPieceLen = 3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(sqlEnc === typedEnc && sqlEnc.nonEmpty)

    // multi-class trainer + trained langid from SQL ≡ typed
    Seq((1L, "alpha beta gamma", "en"), (2L, "alpha beta delta", "en"),
      (3L, "uno dos tres", "es"), (4L, "uno dos cuatro", "es"),
      (5L, "beta alpha gamma", "en"), (6L, "dos uno tres", "es"))
      .toDF("doc_id", "text", "lang")
      .createOrReplaceTempView("langid_train_v")
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW langid_model_v AS
      SELECT * FROM graft_classifier_train_multi_t('langid_train_v',
        'doc_id', 'text', 'lang', 16384, true, 100)""")
    val sqlLang = spark.sql(
      """SELECT * FROM graft_langid_t('langid_train_v', 'doc_id', 'text',
        'langid_model_v', 16384)""")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val typedLang = {
      val t = spark.table("langid_train_v")
      graft.llm.Quality.langIdTrained(t, "doc_id", "text",
        graft.llm.Quality.trainTextClassifierMulti(t, "doc_id", "text",
          "lang", 16384, iters = 100), 16384)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    assert(sqlLang === typedLang)
    assert(sqlLang === Map(1L -> "en", 2L -> "en", 3L -> "es",
      4L -> "es", 5L -> "en", 6L -> "es"))

    // bigram model + stupid-backoff scoring ≡ typed
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW bi_model_v AS
      SELECT * FROM graft_bigram_lm_t('lm_docs_v', 'text', 'lm_model_v', 64)""")
    assert(spark.table("bi_model_v").count() === 64L)
    val sqlNg = spark.sql(
      """SELECT * FROM graft_ngram_score_t('lm_docs_v', 'doc_id', 'text',
        'lm_model_v', 'bi_model_v')""")
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSet
    val typedNg = {
      val uni = graft.llm.Quality.unigramLm(d, "text", 16)
      graft.llm.Quality.ngramPerplexity(d, uni,
        graft.llm.Quality.bigramLm(d, "text", uni, 64), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
        .toSet
    }
    assert(sqlNg === typedNg && sqlNg.nonEmpty)
    // trigram model + chain scoring ≡ typed
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW tri_model_v AS
      SELECT * FROM graft_trigram_lm_t('lm_docs_v', 'text', 'bi_model_v', 256)""")
    val sqlTri = spark.sql(
      """SELECT * FROM graft_trigram_score_t('lm_docs_v', 'doc_id', 'text',
        'lm_model_v', 'bi_model_v', 'tri_model_v')""")
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSet
    val typedTri = {
      val (uni, bi, tri) = graft.llm.Quality.ngramLm3(d, "text", 16, 64, 256)
      graft.llm.Quality.trigramPerplexity(d, uni, bi, tri, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
        .toSet
    }
    assert(sqlTri === typedTri && sqlTri.nonEmpty)
    // interpolated Kneser–Ney scoring ≡ typed (default + explicit discount)
    val sqlKn = spark.sql(
      """SELECT * FROM graft_kn_score_t('lm_docs_v', 'doc_id', 'text',
        'lm_model_v', 'bi_model_v', 0.75D)""")
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSet
    val typedKn = {
      val uni = graft.llm.Quality.unigramLm(d, "text", 16)
      graft.llm.Quality.knPerplexity(d, uni,
        graft.llm.Quality.bigramLm(d, "text", uni, 64), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
        .toSet
    }
    assert(sqlKn === typedKn && sqlKn.nonEmpty)
    // CCNet perplexity buckets ≡ typed
    val sqlBk = spark.sql(
      """SELECT * FROM graft_ppl_buckets_t('lm_docs_v', 'doc_id', 'text',
        'lm_model_v', 'bi_model_v', 500.0D, 900.0D)""")
      .collect().map(r => (r.getLong(0), r.getDouble(3), r.getString(4))).toSet
    val typedBk = {
      val uni = graft.llm.Quality.unigramLm(d, "text", 16)
      graft.llm.Quality.pplBuckets(d, uni,
        graft.llm.Quality.bigramLm(d, "text", uni, 64), "doc_id", "text",
        500.0, 900.0)
        .collect().map(r => (r.getLong(0), r.getDouble(3), r.getString(4)))
        .toSet
    }
    assert(sqlBk === typedBk && sqlBk.nonEmpty)
    // temperature quota ≡ typed
    val sqlTq = spark.sql(
      """SELECT doc_id, source FROM graft_temperature_quota_t('lm_docs_v',
        'source', 'doc_id', 0.5D, 60)""")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val typedTq = graft.llm.Sampling.temperatureQuota(d, "source", "doc_id",
        0.5, 60L)
      .select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sqlTq === typedTq && sqlTq.nonEmpty)
    // Gopher rules ≡ typed at an overridden word floor
    val sqlGopher = spark.sql(
      "SELECT * FROM graft_gopher_t('lm_docs_v', 'doc_id', 'text', 30)")
      .collect().map(r => (r.getLong(0), r.getAs[Boolean]("pass"))).toSet
    val typedGopher = graft.llm.Quality.gopherRules(d, "doc_id", "text",
        minWords = 30)
      .collect().map(r => (r.getLong(0), r.getAs[Boolean]("pass"))).toSet
    assert(sqlGopher === typedGopher && sqlGopher.nonEmpty)
  }

  test("graft_tfidf_t / graft_bm25_t / graft_bpe_train_t / graft_bpe_encode_t: relevance and tokenizer tiers from SQL ≡ typed") {
    GraftSql.registerFunctions(spark)
    val d = graft.Tables.documents(spark, graft.TestSpark.sfDir)
    d.createOrReplaceTempView("rel_docs_v")
    val sqlTfidf = spark.sql(
      "SELECT * FROM graft_tfidf_t('rel_docs_v', 'doc_id', 'text', 3)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3),
        r.getLong(4))).toSet
    val typedTfidf = graft.llm.Relevance.tfidfTopTerms(d, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3),
        r.getLong(4))).toSet
    assert(sqlTfidf === typedTfidf && sqlTfidf.nonEmpty)
    val sqlBm25 = spark.sql(
      "SELECT * FROM graft_bm25_t('rel_docs_v', 'doc_id', 'text', 'spark,merge', 10)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val typedBm25 = graft.llm.Relevance.bm25TopK(d, "doc_id", "text",
        Seq("spark", "merge"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sqlBm25 === typedBm25 && sqlBm25.size === 10)
    // BPE: trained merge table from SQL ≡ typed, then encode against the
    // persisted view — merge view read at plan build (codebook pattern)
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW bpe_merges_v AS
      SELECT * FROM graft_bpe_train_t('rel_docs_v', 'doc_id', 'text', 4)""")
    val sqlMerges = spark.table("bpe_merges_v")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    val typedMerges = graft.llm.Bpe.train(d, "doc_id", "text", 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(sqlMerges === typedMerges && sqlMerges.size === 4)
    val sqlEnc = spark.sql(
      """SELECT * FROM graft_bpe_encode_t('rel_docs_v', 'doc_id', 'text',
        'bpe_merges_v')""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val typedEnc = graft.llm.Bpe.encode(d, "doc_id", "text",
        graft.llm.Bpe.train(d, "doc_id", "text", 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(sqlEnc === typedEnc && sqlEnc.nonEmpty)
    val sqlChunk = spark.sql(
      "SELECT * FROM graft_chunk_t('rel_docs_v', 'doc_id', 'text', 32, 8)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    val typedChunk = graft.llm.Sampling.chunkDocs(d, "doc_id", "text", 32, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(sqlChunk === typedChunk && sqlChunk.nonEmpty)
  }

  test("graft_bm25_batch_t: multi-query retrieval from SQL ≡ typed") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    val d = graft.Tables.documents(spark, graft.TestSpark.sfDir)
    d.createOrReplaceTempView("relb_docs_v")
    Seq(1L -> Seq("spark", "merge"), 2L -> Seq("window"))
      .toDF("query_id", "terms").createOrReplaceTempView("relb_queries_v")
    val sql = spark.sql(
      """SELECT * FROM graft_bm25_batch_t('relb_docs_v', 'doc_id', 'text',
        'relb_queries_v', 'query_id', 'terms', 10)""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val typed = graft.llm.Relevance.bm25TopKBatch(d, "doc_id", "text",
        spark.table("relb_queries_v"), "query_id", "terms", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sql === typed && sql.size === 20)
  }

  test("graft_classifier_train_t / graft_classifier_score_t: classifier tier from SQL ≡ typed") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    (0L until 20L).map { i =>
      val y = (i % 2).toInt
      (i, if (y == 1) s"thoughtful prose piece$i" else s"spam click bait$i", y)
    }.toDF("doc_id", "text", "label")
      .createOrReplaceTempView("clf_labeled_v")
    val dim = 1 << 14
    val wSql = spark.sql("SELECT * FROM graft_classifier_train_t(" +
      s"'clf_labeled_v', 'doc_id', 'text', 'label', $dim, true, 50)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val typedW = graft.llm.Quality.trainTextClassifier(
        spark.table("clf_labeled_v"), "doc_id", "text", "label", dim,
        iters = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wSql === typedW && wSql.nonEmpty)
    typedW.toSeq.toDF("feature", "w_micro")
      .createOrReplaceTempView("clf_weights_v")
    val sSql = spark.sql("SELECT * FROM graft_classifier_score_t(" +
      s"'clf_labeled_v', 'doc_id', 'text', 'clf_weights_v', $dim)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sTyped = graft.llm.Quality.scoreTextClassifier(
        spark.table("clf_labeled_v"), "doc_id", "text",
        spark.table("clf_weights_v"), dim)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sSql === sTyped && sSql.size === 20)
  }

  test("graft_kmeans_t: deterministic Lloyd k-means from SQL ≡ typed") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    Seq(Array(0.1f), Array(0.2f), Array(0.9f), Array(0.8f)).toDF("v")
      .createOrReplaceTempView("km_vecs_v")
    Seq((0L, Array(0.0f)), (1L, Array(1.0f))).toDF("cell", "_cv")
      .createOrReplaceTempView("km_seeds_v")
    val sql = spark.sql(
      "SELECT * FROM graft_kmeans_t('km_vecs_v', 'v', 'km_seeds_v', 2)")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    val typed = graft.llm.Similarity.kmeansLloyd(
        spark.table("km_vecs_v"), "v", spark.table("km_seeds_v"), 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(sql === typed && sql.nonEmpty)
  }

  test("graft_classifier_train_gd_t: distributed GD trainer from SQL ≡ typed") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    (0L until 20L).map { i =>
      val y = (i % 2).toInt
      (i, if (y == 1) s"thoughtful prose piece$i" else s"spam click bait$i", y)
    }.toDF("doc_id", "text", "label")
      .createOrReplaceTempView("clf_gd_labeled_v")
    val dim = 1 << 14
    val wSql = spark.sql("SELECT * FROM graft_classifier_train_gd_t(" +
      s"'clf_gd_labeled_v', 'doc_id', 'text', 'label', $dim, true, 20, " +
      "0.5D, 0.0D)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val typedW = graft.llm.Quality.trainTextClassifierGd(
        spark.table("clf_gd_labeled_v"), "doc_id", "text", "label", dim,
        iters = 20, lr = 0.5, l2 = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wSql === typedW && wSql.nonEmpty)
  }

  test("graft_classifier_train_multi_gd_t: distributed softmax GD from SQL ≡ typed") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    (0L until 30L).map { i =>
      val lang = if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "es"
      (i, s"word$lang token${i % 5} text$lang", lang)
    }.toDF("doc_id", "text", "lang")
      .createOrReplaceTempView("clf_mgd_labeled_v")
    val dim = 1 << 14
    val wSql = spark.sql("SELECT * FROM graft_classifier_train_multi_gd_t(" +
      s"'clf_mgd_labeled_v', 'doc_id', 'text', 'lang', $dim, true, 15)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val typedW = graft.llm.Quality.trainTextClassifierMultiGd(
        spark.table("clf_mgd_labeled_v"), "doc_id", "text", "lang", dim,
        iters = 15)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(wSql === typedW && wSql.nonEmpty)
  }

  test("graft_ingest_sem_repair_t: semantic bridge repair from SQL ≡ typed survivors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    GraftSql.registerFunctions(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_sql_semrep").toString
    val landing = s"$base/landing"; val work = s"$base/work"
    val index = s"$base/index"
    new java.io.File(landing).mkdirs()
    def v(fine: Float): Array[Float] = {
      val a = new Array[Float](8); a(0) = 1.0f; a(1) = fine; a
    }
    val cents = Seq((0L, v(0.0f))).toDF("cell", "_cv")
    graft.llm.Similarity.saveIvf(
      Seq((900L, v(0.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", index, IvfTier.Float, nlist = 1,
      centroids = Some(cents))
    def member(tag: String): String =
      (0 until 42).map(i => s"${tag}_w$i").mkString(" ")
    // the bridge chain: A(1) kept; 11 near A dropped; 21 near 11 only —
    // survives at landing, must fold under repair
    Seq((1L, member("a"), v(0.10f))).toDF("doc_id", "text", "embedding")
      .write.parquet(s"$landing/d0")
    def poll(): Unit = graft.streaming.PipelineStream.pollIngest(spark,
      landing, work, index, graft.llm.Gates(semantic =
        Some(graft.llm.Gates.Semantic(0.995))), compactEvery = 0)
    poll()
    Seq((11L, member("b"), v(0.189f))).toDF("doc_id", "text", "embedding")
      .write.parquet(s"$landing/d1")
    poll()
    Seq((21L, member("c"), v(0.2813f))).toDF("doc_id", "text", "embedding")
      .write.parquet(s"$landing/d2")
    poll()
    val got = spark.sql(
      s"SELECT vec_id FROM graft_ingest_sem_repair_t('$work', '$index', 0.995)")
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(1L), "repair folds the chain to the min id")
    val typed = graft.streaming.PipelineStream.semSurvivors(spark, work)
      .collect().map(_.getLong(0)).toSet
    assert(typed === got, "SQL ≡ semSurvivors")
  }

  test("integer literals: an out-of-int value is refused, never wrapped; every integral type reads") {
    GraftSql.registerFunctions(spark)
    spark.range(2000).selectExpr("id AS doc_id", "concat('w', id) AS text")
      .createOrReplaceTempView("int_lit_v")
    // 2^32 + 50 wrapped to 50 and sampled half the view
    val wide = intercept[IllegalArgumentException] {
      spark.sql("SELECT * FROM graft_sample_t('int_lit_v', 'doc_id', 4294967346)")
        .collect()
    }
    assert(wide.getMessage.contains("graft_sample_t") &&
      wide.getMessage.contains("pct") && wide.getMessage.contains("4294967346"))
    // 2^32 + 1 wrapped to a 1-token chunk
    val chunk = intercept[IllegalArgumentException] {
      spark.sql("SELECT * FROM graft_chunk_t('int_lit_v', 'doc_id', 'text', " +
        "4294967297)").collect()
    }
    assert(chunk.getMessage.contains("graft_chunk_t") &&
      chunk.getMessage.contains("maxTokens"))
    // TINYINT, SMALLINT, INT and BIGINT literals all read as the same value
    val counts = Seq("37Y", "37S", "37", "37L").map { pct =>
      spark.sql(s"SELECT * FROM graft_sample_t('int_lit_v', 'doc_id', $pct)").count()
    }
    assert(counts.distinct.size === 1 && counts.head > 0L && counts.head < 2000L)
  }

  test("the SQL surface: 76 table functions, arity and string parameters checked from each usage") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    GraftSql.registerFunctions(spark)
    val fns = GraftSql.functions
    assert(fns.size === 76)
    assert(fns.map(_.name).distinct.size === 76)
    def call(f: GraftSql.TableFn, args: Seq[String]): Unit =
      spark.sql(s"SELECT * FROM ${f.name}(${args.mkString(", ")})")
    fns.foreach { f =>
      assert(spark.sessionState.tableFunctionRegistry
        .functionExists(FunctionIdentifier(f.name)), f.name)
      assert(f.minArgs >= 1 && f.minArgs <= f.maxArgs, f.name)
      // these calls fail before the builder runs: no view is looked up
      for (n <- Seq(f.minArgs - 1, f.maxArgs + 1)) {
        val e = intercept[IllegalArgumentException](call(f, Seq.fill(n)("'x'")))
        assert(e.getMessage.contains(f.usage), s"${f.name} with $n arguments")
      }
      if (f.params.head.startsWith("'")) {
        val e = intercept[IllegalArgumentException] {
          call(f, "1" +: Seq.fill(f.minArgs - 1)("'x'"))
        }
        assert(e.getMessage.contains("must be a string literal") &&
          e.getMessage.contains(f.params.head), f.name)
      }
    }
  }

  test("registerFunctions: a second call replaces nothing; a new session registers its own") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    GraftSql.registerFunctions(spark)
    val replaced = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-replaced", null, null, true,
        Array.empty[Property]) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("replaced a previously registered function")) replaced.add(m)
      }
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try GraftSql.registerFunctions(spark)
    finally { root.removeAppender(appender); appender.stop() }
    assert(replaced.isEmpty, s"${replaced.size} replacement WARNs, e.g. ${replaced.peek}")
    // registration is per session: a new session starts from the built-ins
    val s2 = spark.newSession()
    GraftSql.registerFunctions(s2)
    s2.sql("SELECT id AS event_id, timestamp_micros(id * 10) AS ts FROM range(3)")
      .createOrReplaceTempView("reg_v")
    assert(s2.sql("SELECT * FROM graft_sessionize_t('reg_v', 'ts', 100)")
      .count() === 3L)
  }

  test("IVF serve names × index flavors: a matching name ≡ ivfServe, a mismatch names the manifest's flavor") {
    import spark.implicits._
    GraftSql.registerFunctions(spark)
    def vec(id: Long): Array[Float] = {
      val a = new Array[Float](16)
      a((id % 4).toInt) = 1.0f
      (0 until 16).foreach(j => a(j) = a(j) + ((id * 31 + j * 7) % 11).toFloat * 4e-6f)
      a
    }
    val corpus = (0L until 200L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    corpus.createOrReplaceTempView("ivfmx_c")
    corpus.filter($"vec_id" < 20).createOrReplaceTempView("ivfmx_q")
    // explicit centroids and codebooks (the first vectors, 4-dim slices as
    // codes): the test is about dispatch, not training
    import org.apache.spark.sql.functions.{explode, lit, sequence, slice}
    val cents = corpus.filter($"vec_id" < 4)
      .select($"vec_id".cast("int").as("cell"), $"embedding".as("_cv"))
    val cbs = corpus.filter($"vec_id" < 16)
      .select($"vec_id".cast("int").as("code"),
        explode(sequence(lit(0), lit(3))).as("m"), $"embedding")
      .select($"m", $"code", slice($"embedding", $"m" * 4 + 1, lit(4)).as("_cbv"))
    val dirs = Seq("float" -> IvfTier.Float, "sq8" -> IvfTier.Sq8,
        "pq" -> IvfTier.Pq(m = 4, k = 16, codebooks = Some(cbs))).map {
      case (flavor, tier) =>
        val d = java.nio.file.Files.createTempDirectory("graft_sql_ivfmx").toString
        graft.llm.Similarity.saveIvf(corpus, "vec_id", "embedding", d, tier,
          nlist = 4, centroids = Some(cents))
        flavor -> d
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
    // each serve name with the flavor it implies and whether it refines
    val names = Seq(("graft_ivf_topk_indexed_t", "float", false),
      ("graft_ivf_topk_q_t", "sq8", false), ("graft_ivf_topk_qr_t", "sq8", true),
      ("graft_ivf_topk_pq_t", "pq", false), ("graft_ivf_topk_pqr_t", "pq", true))
    var mismatches = 0
    for ((fn, implied, refine) <- names; (flavor, d) <- dirs) {
      val args =
        if (refine) s"'ivfmx_q', '$d', 'ivfmx_c', 'vec_id', 'embedding', 5, 2, 8"
        else s"'ivfmx_q', '$d', 'vec_id', 'embedding', 5, 2"
      def viaSql() = spark.sql(s"SELECT query_id, neighbor_id, cos FROM $fn($args)")
      if (flavor == implied) {
        val typed = graft.llm.Similarity.ivfServe(spark.table("ivfmx_q"), d,
          "vec_id", "embedding", 5, 2,
          refine = Option.when(refine)(IvfRefine(spark.table("ivfmx_c"), 8)))
        val got = viaSql().collect().map(key).toSet
        assert(got.nonEmpty && got === typed.collect().map(key).toSet,
          s"$fn on the $flavor index")
      } else {
        val e = intercept[IllegalArgumentException](viaSql())
        assert(e.getMessage.contains(fn) && e.getMessage.contains(s"'$flavor'"),
          s"$fn on the $flavor index: ${e.getMessage}")
        mismatches += 1
      }
    }
    assert(mismatches === 10)
  }
}
