package graftbench

import scala.collection.mutable
import graft.SparkEntry

/** The batch workload: closed loop, one client, one query at a time, each
  * query built through `SparkEntry.queries` and fully materialised through
  * a `noop` write (a `count()` would let Catalyst prune the projected
  * columns away). */
object Batch {
  /** Aeon queries, which sit on the per-query job floor: a time-range scan
    * and a backward as-of join. Queries that write outside the run
    * directory (the CSV, JSON and Harp round trips write under /tmp) are
    * left out. */
  val aeonNames: Seq[String] = Seq("s1_time_range_scan", "j2_asof_backward")

  /** Curation queries, executor-heavy: an IVF index saved to disk and
    * served from it, and unigram tokenizer training. */
  val curationNames: Seq[String] = Seq("ann3_ivf_indexed", "sp1_sp_unigram_train")

  def run(ctx: Ctx): Outcome = {
    val names = aeonNames ++ curationNames
    val spark = ctx.spark
    val queries = SparkEntry.queries
    val order = new scala.util.Random(ctx.seed).shuffle(names.sorted)
    var attempted = 0L
    var failed = 0L
    val found = mutable.LinkedHashMap.empty[String, String]

    // answer check and warm-up, untimed: each query's digest, then one
    // execution on the timed path. The queries run concurrently: a query's
    // first executions in a fresh JVM are mostly single-threaded class
    // loading and code generation, so this shortens set-up without changing
    // what the timed passes measure.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(order.size)
    val digests = try order.map { q =>
      q -> pool.submit(new java.util.concurrent.Callable[Digest.D] {
        def call(): Digest.D = {
          val df = queries(q)(spark, ctx.dataDir)
          ctx.dumpDir.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$q"))
          val d = Digest.of(df)
          queries(q)(spark, ctx.dataDir).write.format("noop").mode("overwrite").save()
          d
        }
      })
    }.map { case (q, f) =>
      q -> (try Right(f.get()) catch {
        case e: java.util.concurrent.ExecutionException => Left(e.getCause)
      })
    } finally pool.shutdown()
    digests.foreach { case (q, result) =>
      attempted += 1
      val ok = result match {
        case Left(e) => ctx.log(s"FAILED $q in check pass: $e"); false
        case Right(d) =>
          found(q) = d.toString
          ctx.expected.get(q) match {
            case Some(e) if e == d.toString => true
            case Some(e) => ctx.log(s"WRONG ANSWER $q: digest $d, expected $e"); false
            case None => ctx.log(s"NO EXPECTED DIGEST for $q (got $d)"); false
          }
      }
      if (!ok) failed += 1
    }
    ctx.foundDigests = found.toMap

    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val all = mutable.ArrayBuffer.empty[Double]
    def pass(): Double = {
      val p0 = System.nanoTime()
      order.foreach { q =>
        attempted += 1
        val t0 = System.nanoTime()
        try {
          ctx.tracer.op(s"query:$q", "query") {
            val df = ctx.tracer.span("build", "build")(queries(q)(spark, ctx.dataDir))
            ctx.tracer.built(df)
            ctx.tracer.span("execute", "execute")(
              df.write.format("noop").mode("overwrite").save())
          }
          val s = (System.nanoTime() - t0) / 1e9
          times.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
          all += s
        } catch {
          case e: Exception => failed += 1; ctx.log(s"FAILED $q in timed pass: $e")
        }
      }
      (System.nanoTime() - p0) / 1e9
    }
    val passes = ctx.timedPhase(() => pass())
    val medianOf = times.view.mapValues(v => Stats.median(v.toSeq)).toMap
    val medians = medianOf.values.toSeq
    def geomeanOf(qs: Seq[String]) = Stats.geomean(qs.flatMap(medianOf.get))
    Outcome(attempted, failed, Seq(
      Metric("op_geomean_s", Stats.geomean(medians), "s"),
      Metric("cycle_wall_s", Stats.median(passes), "s")),
      report = Seq(
        s"queries=${order.size} timed_executions=${all.size} passes=${passes.size}",
        f"batch_wall_s=${Stats.median(passes)}%.3f (median of ${passes.size} warm passes)",
        f"query_geomean_s=${Stats.geomean(medians)}%.4f (geomean of ${medians.size} per-query medians)",
        f"aeon_geomean_s=${geomeanOf(aeonNames)}%.4f curation_geomean_s=${geomeanOf(curationNames)}%.4f",
        f"query_max_s=${all.maxOption.getOrElse(Double.NaN)}%.4f (over ${all.size} executions)") ++
        order.map(q => f"  $q%-32s median_s=${medianOf.getOrElse(q, Double.NaN)}%.4f"),
      detail = medianOf.toSeq.sorted)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}
