package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.graftbench.SparkBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and layer counters for the traced run.
  *
  * Spans are kept in memory (name, layer, start, end, parent, and the id
  * of the operation they belong to) and written once, at the end. Layer
  * counters come from Spark's own instrumentation, registered from the
  * benchmark side only while the traced phase runs:
  *   - a `SparkListener` (jobs, stages, task metrics);
  *   - a `QueryExecutionListener` (`QueryExecution.tracker.phases`, and
  *     the shuffle exchanges of each executed plan);
  *   - a `StreamingQueryListener` (micro-batch progress per poll and per
  *     stage);
  *   - Hadoop `FileSystem` statistics (bytes read and written);
  *   - a stack sampler that charges every sampled thread to the graft
  *     module of its innermost graft frame (module walls).
  *
  * Jobs are tied to the operation and phase that submitted them through
  * local properties, which Spark copies onto every job a thread submits.
  * With tracing off, `span` only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val origin = System.nanoTime()

  final case class Span(id: Int, name: String, layer: String, op: Int,
      parent: Int, startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var currentOp = 0
  private var active = false

  /** Time `body` as a span of `layer`; nested spans become its children.
    * Only the thread that owns the tracer opens spans and reads them. */
  def span[T](name: String, layer: String)(body: => T): T = {
    if (!active) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val prevPhase = sc.getLocalProperty(PhaseKey)
    if (layer == "build" || layer == "execute")
      sc.setLocalProperty(PhaseKey, layer)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, prevPhase)
      stack = stack.tail
      spans += Span(id, name, layer, currentOp, parent, t0 - origin, t1 - origin)
    }
  }

  /** Charge the analysis of a built DataFrame: DataFrame-API plans are
    * analysed eagerly at construction, on a `QueryExecution` that no
    * listener sees. */
  def built(df: org.apache.spark.sql.DataFrame): Unit = if (active) synchronized {
    sums("catalyst.analysis") += df.queryExecution.tracker.phases.get("analysis")
      .map(_.durationMs.toDouble).getOrElse(0.0)
  }

  /** One operation (a query execution or a poll): its spans share `op`,
    * and so do the Spark jobs it submits. */
  def op[T](name: String, layer: String)(body: => T): T = {
    if (!active) return body
    currentOp += 1
    sc.setLocalProperty(OpKey, currentOp.toString)
    val wall0 = System.currentTimeMillis()
    val fs0 = fsBytes()
    try span(name, layer)(body)
    finally {
      opWalls(currentOp) = (wall0, System.currentTimeMillis())
      val fs1 = fsBytes()
      synchronized {
        sums("fs_read") += fs1._1 - fs0._1
        sums("fs_write") += fs1._2 - fs0._2
      }
      sc.setLocalProperty(OpKey, null)
    }
  }

  // ---- counters, filled by listeners during the traced phase ----
  private val opWalls = mutable.Map.empty[Int, (Long, Long)]
  private final case class Job(op: Int, phase: String, start: Long, var end: Long)
  private val jobs = mutable.Map.empty[Int, Job]
  // stage -> operation of the job that runs it; stages and tasks of work
  // outside every operation (the poll workload's deliveries) are not counted
  private val stageOp = mutable.Map.empty[Int, Int]
  private var stagesDone = 0L
  private val taskDurations = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stream = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stateRows = mutable.Map.empty[String, Long]
  private val stateBytes = mutable.Map.empty[String, Long]
  private val samples = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var sampleTicks = 0L
  private var sampledNs = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty(OpKey))).map(_.toInt).getOrElse(0)
      val phase = p.flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse("")
      if (op > 0) {
        jobs(e.jobId) = Job(op, phase, e.time, e.time)
        e.stageIds.foreach(stageOp(_) = op)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        if (stageOp.contains(e.stageInfo.stageId)) stagesDone += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (stageOp.contains(e.stageId)) taskEnded(e)
    }
  }

  private def taskEnded(e: SparkListenerTaskEnd): Unit = {
    sums("tasks") += 1
    taskDurations.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      sums("run_ms") += m.executorRunTime
      sums("cpu_ms") += m.executorCpuTime / 1e6
      sums("gc_ms") += m.jvmGCTime
      sums("shuffle_read") += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      sums("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      sums("shuffle_write") += m.shuffleWriteMetrics.bytesWritten
      sums("spill") += m.memoryBytesSpilled + m.diskBytesSpilled
      sums("input") += m.inputMetrics.bytesRead
      sums("output") += m.outputMetrics.bytesWritten
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val ex = scala.util.Try(SparkBridge.exchanges(qe.executedPlan)).getOrElse(0)
      Tracer.this.synchronized {
        Seq("analysis", "optimization", "planning").foreach { k =>
          sums(s"catalyst.$k") += ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
        }
        sums("catalyst.exchanges") += ex
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    // only the fight poller runs streaming queries; its three stages are
    // told apart by sink path
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val sink = p.sink.description
      val stage =
        if (sink.contains("/silver")) "silver"
        else if (sink.contains("/filled")) "filled"
        else "gold"
      val d = p.durationMs.asScala.map { case (a, b) => a -> b.toDouble }
        .withDefaultValue(0.0)
      Tracer.this.synchronized {
        stream("microbatches") += 1
        stream("trigger_ms") += d("triggerExecution")
        stream("add_batch_ms") += d("addBatch")
        stream("planning_ms") += d("queryPlanning")
        stream("wal_commit_ms") += d("walCommit") + d("commitOffsets")
        stream("offset_ms") += d("latestOffset") + d("getBatch")
        stream("state_commit_ms") += p.stateOperators.map(_.commitTimeMs).sum
        stream(s"$stage.trigger_ms") += d("triggerExecution")
        // state size is a level, not a flow: keep the latest per stage
        stateRows(stage) = p.stateOperators.map(_.numRowsTotal).sum
        stateBytes(stage) = p.stateOperators.map(_.memoryUsedBytes).sum
      }
    }
  }

  /** Bytes read and written through Hadoop file systems (parquet,
    * checkpoints, state). The local file system keeps byte counts but not
    * operation counts, so bytes are what can be reported here. */
  private def fsBytes(): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  @volatile private var sampling = false
  private val sampler = new Thread(() => {
    var last = System.nanoTime()
    while (sampling) {
      val now = System.nanoTime()
      val traces = Thread.getAllStackTraces.asScala
      Tracer.this.synchronized {
        sampleTicks += 1
        sampledNs += now - last
        traces.foreach { case (t, frames) =>
          if (t ne Thread.currentThread)
            frames.iterator.map(f => module(f.getClassName)).find(_.nonEmpty)
              .foreach(m => samples(m.get) += 1)
        }
      }
      last = now
      Thread.sleep(SampleMs)
    }
  }, "graftbench-sampler")
  sampler.setDaemon(true)

  private var phaseNs = 0L
  private var phaseStart = 0L

  /** Start the traced phase: register every listener and the sampler. */
  def start(): Unit = if (enabled) {
    SparkBridge.drainListenerBus(sc)
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    sampling = true
    sampler.start()
    active = true
    phaseStart = System.nanoTime()
  }

  /** End the traced phase and detach everything `start` registered. */
  def stop(): Unit = if (active) {
    phaseNs = System.nanoTime() - phaseStart
    active = false
    sampling = false
    sampler.join()
    SparkBridge.drainListenerBus(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Per-layer metrics, each normalised per timed operation (a query
    * execution, or one poll) unless its unit says otherwise. */
  def layerMetrics(cores: Int, overheadPct: Double): Seq[Metric] = synchronized {
    val nOps = math.max(1, opWalls.size).toDouble
    def per(v: Double) = v / nOps
    val byOp = jobs.values.groupBy(_.op)
    var unionMs = 0.0
    var gapMs = 0.0
    opWalls.foreach { case (op, (w0, w1)) =>
      val iv = byOp.getOrElse(op, Nil).map(j => (j.start, j.end)).toSeq.sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      unionMs += covered
      gapMs += math.max(0L, (w1 - w0) - covered)
    }
    val skews = taskDurations.values.filter(_.size >= 2).map { d =>
      val s = d.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    val buildMs = spans.filter(_.layer == "build").map(s => (s.endNs - s.startNs) / 1e6).sum
    val m = mutable.ArrayBuffer.empty[Metric]
    def add(n: String, v: Double, u: String) = m += Metric(n, v, u)
    add("queries.build_ms", per(buildMs), "ms")
    add("queries.eager_jobs", per(jobs.values.count(_.phase == "build")), "count")
    add("catalyst.analysis_ms", per(sums("catalyst.analysis")), "ms")
    add("catalyst.optimization_ms", per(sums("catalyst.optimization")), "ms")
    add("catalyst.planning_ms", per(sums("catalyst.planning")), "ms")
    add("catalyst.exchanges", per(sums("catalyst.exchanges")), "count")
    add("scheduler.jobs", per(jobs.size), "count")
    add("scheduler.stages", per(stagesDone), "count")
    add("scheduler.tasks", per(sums("tasks")), "count")
    add("scheduler.job_wall_ms", per(unionMs), "ms")
    add("scheduler.driver_gap_ms", per(gapMs), "ms")
    add("executor.run_ms", per(sums("run_ms")), "ms")
    add("executor.cpu_ms", per(sums("cpu_ms")), "ms")
    add("executor.gc_ms", per(sums("gc_ms")), "ms")
    add("executor.task_skew",
      if (skews.isEmpty) 1.0 else skews.sum / skews.size, "ratio")
    add("executor.busy_frac",
      sums("run_ms") / math.max(1.0, cores * phaseNs / 1e6), "ratio")
    add("shuffle.read_bytes", per(sums("shuffle_read")), "bytes")
    add("shuffle.write_bytes", per(sums("shuffle_write")), "bytes")
    add("shuffle.fetch_wait_ms", per(sums("fetch_wait_ms")), "ms")
    add("shuffle.spill_bytes", per(sums("spill")), "bytes")
    add("io.input_bytes", per(sums("input")), "bytes")
    add("io.output_bytes", per(sums("output")), "bytes")
    add("fs.read_bytes", per(sums("fs_read")), "bytes")
    add("fs.write_bytes", per(sums("fs_write")), "bytes")
    // streaming counters are per poll
    val polls = math.max(1, spans.count(_.layer == "poll")).toDouble
    Seq("microbatches" -> "count", "trigger_ms" -> "ms", "add_batch_ms" -> "ms",
      "planning_ms" -> "ms", "wal_commit_ms" -> "ms", "offset_ms" -> "ms",
      "state_commit_ms" -> "ms").foreach { case (c, u) =>
      add(s"streaming.fight.$c", stream(c) / polls, u)
    }
    add("streaming.fight.state_rows", stateRows.values.sum.toDouble, "rows")
    add("streaming.fight.state_bytes", stateBytes.values.sum.toDouble, "bytes")
    Seq("silver", "filled", "gold").foreach { st =>
      add(s"streaming.fight.$st.trigger_ms", stream(s"$st.trigger_ms") / polls, "ms")
    }
    val secPerSample = if (sampleTicks == 0) 0.0 else sampledNs / 1e9 / sampleTicks
    Modules.foreach { mod =>
      add(s"$mod.wall_s", per(samples(mod) * secPerSample), "s")
    }
    add("jvm.peak_heap_mb", peakHeapMb.toDouble, "MB")
    add("trace.overhead_pct", overheadPct, "%")
    m.toSeq
  }

  /** Self time per span layer (span duration minus its children), ms. */
  def layerSelfMs: Seq[(String, Double)] = {
    val childNs = spans.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    spans.groupBy(_.layer).toSeq.map { case (l, ss) =>
      l -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e6
    }.sortBy(-_._2)
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"name":${Json.str(s.name)},"layer":"${s.layer}",""" +
        f""""op":${s.op},"parent":${s.parent},"start_ms":${s.startNs / 1e6}%.3f,""" +
        f""""end_ms":${s.endNs / 1e6}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

final case class Metric(name: String, value: Double, unit: String)

object Tracer {
  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"
  val SampleMs = 50L
  /** The graft modules the workloads reach; every other graft package
    * counts as `core`, and every other `llm` file as `llm.other`. */
  val Modules = Seq("core", "operators", "behavior", "streaming",
    "llm.similarity", "llm.tokenize", "llm.other")

  private val llmFiles = Seq("Similarity" -> "similarity",
    "BpeKernel" -> "tokenize", "Bpe" -> "tokenize", "SpUnigram" -> "tokenize")

  /** The graft module a class belongs to, if it is a graft class. Query
    * packs are not a module here: their own frames are construction, which
    * `queries.build_ms` already covers. */
  def module(cls: String): Option[String] =
    if (cls.startsWith("graftbench.") || cls.startsWith("graft.queries.")) None
    else if (cls.startsWith("graft.llm.")) {
      val rest = cls.stripPrefix("graft.llm.")
      Some("llm." + llmFiles.find(f => rest.startsWith(f._1)).map(_._2)
        .getOrElse("other"))
    } else if (cls.startsWith("graft.")) {
      val pkg = cls.stripPrefix("graft.").takeWhile(_ != '.')
      Some(if (Modules.contains(pkg) && cls.count(_ == '.') >= 2) pkg else "core")
    } else if (cls.startsWith("org.apache.spark.sql.graft.")) Some("core")
    else None

  def peakHeapMb: Long =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024L * 1024L)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
