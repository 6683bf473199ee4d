package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Bench runner: executes every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * emits one JSON line with per-query wall seconds.
  *
  * Each query is fully materialized through a `noop`-format write (not
  * `.count()`): count() lets Catalyst prune every projected column, so
  * pure-projection queries would benchmark a scan instead of their math.
  *
  * Noise control, three layers (rounds 9 and 10 each shipped a record
  * poisoned by box contention — a per-query spike, then a 25-minute
  * contended window that min-of-3 per query could not defend against):
  *
  *  1. every query runs `SPARK_GRAFT_BENCH_REPS` times (default 3) and the
  *     MINIMUM is recorded — min-of-3 keeps a single descheduled rep out of
  *     the record;
  *  2. a fixed CPU-bound CALIBRATION micro-job (256M xxhash64 sums, 32
  *     partitions, no file I/O) runs before and after the suite; both
  *     times plus /proc/loadavg land in the bench line, so any reader can
  *     judge what the box was doing while the suite ran;
  *  3. the run SELF-FLAGS `"contended":true` when either calibration time
  *     exceeds 1.5x the committed idle-box band (`CalRefSec`) or the total
  *     over queries shared with the last committed same-sf line in
  *     bench_out.json exceeds 1.5x that line's common-query total; a
  *     flagged full-suite run automatically re-runs ONCE and the
  *     lower-total attempt is the one recorded (re-flagged on its own
  *     evidence, so a still-contended retry is still labeled).
  *
  * A query that throws is recorded as -1 and listed in "failed", never
  * summed into the total, so a broken query cannot make the bench look
  * faster.
  *
  * `SPARK_GRAFT_BENCH_ONLY` (comma-separated query names or prefixes) is
  * a DEV knob that restricts the run for iteration; unset in harness runs.
  * Restricted runs skip the contended re-run (layer 3's retry) — the flag
  * fields still print.
  *
  * OUTPUT SHAPE (changed round 11): the harness captures only the last
  * ~2k chars of process output and json-parses the line it finds there. At
  * 113 queries the full per-query map is ~5.5k chars, so round 10's stdout
  * line lost its head to the tail window and recorded as unparseable. The
  * STDOUT line is now compact: totals, flags, calibration, failures, and
  * only the `SlowestN` slowest per-query entries (shape-compatible
  * `"queries":{...}`), plus `"n_queries"` and `"full":"bench_out.json"`.
  * The FILE line in bench_out.json carries the complete per-query map and
  * the same-box DuckDB oracle splice, and is APPENDED (never overwritten)
  * so drift disputes can compare labeled runs instead of git archaeology.
  */
object Bench {
  /** Idle-box calibration band (seconds) for the fixed micro-job below,
    * measured on the harness box (local[32], warm JVM): 0.38-0.57 s across
    * idle runs (the high end is the first timed run of a JVM). A
    * calibration above 1.5x this means the box was NOT idle while the
    * suite ran and the run is flagged contended. */
  private val CalRefSec = 0.55

  /** How many slowest per-query entries the compact stdout line carries. */
  private val SlowestN = 12

  /** Fixed CPU-bound calibration micro-job: no file I/O, no shuffle, one
    * codegen'd stage — measures raw compute throughput of the box at this
    * instant, nothing about the engine under test. */
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    // bit_xor, not sum: ANSI mode (on by default in Spark 4) throws on the
    // Long overflow that 256M summed hashes guarantee
    spark.range(0L, 256000000L, 1L, 32)
      .selectExpr("bit_xor(xxhash64(id)) AS h").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def load1(): Double = scala.util.Try {
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
  }.getOrElse(-1.0)

  /** Balanced-brace extraction of the object value at `"key":{...}` —
    * duck_bench's and our own query maps are flat string->number (no
    * nested braces or brace-bearing strings), so a depth counter is exact.
    * Searches from `from` so a file line's SECOND queries-shaped key (the
    * oracle splice) can be skipped by the caller. */
  private def braceObj(s: String, key: String, from: Int = 0): Option[String] = {
    val k = s.indexOf("\"" + key + "\":", from)
    if (k < 0) None
    else {
      val open = s.indexOf('{', k)
      if (open < 0) None
      else {
        var i = open; var depth = 0; var end = -1
        while (i < s.length && end < 0) {
          s.charAt(i) match {
            case '{' => depth += 1
            case '}' => depth -= 1; if (depth == 0) end = i
            case _ => ()
          }
          i += 1
        }
        if (end < 0) None else Some(s.substring(open, end + 1))
      }
    }
  }

  private def parseFlatMap(obj: String): Map[String, Double] =
    """"([A-Za-z0-9_]+)":(-?[0-9]+(?:\.[0-9]+)?)""".r.findAllMatchIn(obj)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  /** The last committed same-sf, same-cpus full-suite line's per-query
    * map among `lines` (bench_out.json). "Same suite" is judged by
    * overlap: the line must cover at least 80% of this run's query names
    * (the suite grows every round, so exact-set matching would never
    * fire). `cpus` is matched too, quoted or bare: a line from a box with
    * another core count is no measure of contention on this one. */
  private[graft] def lastCommittedQueries(lines: Seq[String], sfNum: String,
      cpus: String, names: Seq[String]): Option[Map[String, Double]] = {
    val nameSet = names.toSet
    def field(l: String, key: String) =
      s""""$key":"?([^",}]+)""".r.findFirstMatchIn(l).map(_.group(1))
    lines.reverseIterator.flatMap { l =>
      if (!field(l, "sf").contains(sfNum) || !field(l, "cpus").contains(cpus)) None
      else braceObj(l, "queries").map(parseFlatMap).filter { m =>
        val common = m.keySet.intersect(nameSet).size
        common >= math.max(1, (nameSet.size * 0.8).toInt)
      }
    }.nextOption()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: pay JVM/codegen/parquet-reader initialization once, outside
    // the measured loop, so the first query's time is its own. A small
    // untimed calibrate warms the range/xxhash codegen path too.
    try {
      Tables.events(spark, sfDir).limit(10000)
        .groupBy("event_type").count()
        .write.format("noop").mode("overwrite").save()
      spark.range(0L, 1000000L, 1L, 32)
        .selectExpr("bit_xor(xxhash64(id)) AS h").collect()
    } catch { case _: Throwable => () }

    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    val names = suite.map(_._1)
    val sfNum = "sf([0-9]+(?:\\.[0-9]+)?)$".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("-1")
    val prev = scala.util.Try {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get("bench_out.json")).asScala.toSeq
    }.toOption.flatMap(lastCommittedQueries(_, sfNum, cpus, names))

    case class Run(results: Seq[(String, Double)], calBefore: Double,
                   calAfter: Double, loadBefore: Double, loadAfter: Double) {
      def total: Double = results.map(_._2).filter(_ >= 0).sum
      /** Total over the queries shared with the last committed line —
        * suite growth must not read as a slowdown. */
      def commonTotal(m: Map[String, Double]): (Double, Double) = {
        val mine = results.filter { case (k, v) => v >= 0 && m.contains(k) }
        (mine.map(_._2).sum, mine.map { case (k, _) => m(k) }.sum)
      }
      def contended: Boolean = {
        val calBad = math.max(calBefore, calAfter) > 1.5 * CalRefSec
        val totBad = prev.exists { m =>
          val (cur, old) = commonTotal(m)
          old > 0 && cur > 1.5 * old
        }
        calBad || totBad
      }
    }

    def runSuite(): Run = {
      val l0 = load1()
      val cb = calibrate(spark)
      val results = suite.map { case (name, fn) =>
        val times = (1 to reps).map { _ =>
          // operators cache intermediate tables (shingle sets etc.); drop
          // them between runs so storage memory doesn't accumulate across
          // 113 queries x reps
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1.0
          }
        }
        name -> (if (times.contains(-1.0)) -1.0 else times.min)
      }
      val ca = calibrate(spark)
      Run(results, cb, ca, l0, load1())
    }

    var run = runSuite()
    var attempts = 1
    if (run.contended && only.isEmpty) {
      System.err.println(f"[bench] CONTENDED run detected (cal ${run.calBefore}%.2f/" +
        f"${run.calAfter}%.2f s vs ref $CalRefSec%.2f, total ${run.total}%.1f s) — re-running once")
      val retry = runSuite()
      attempts = 2
      if (retry.total < run.total) run = retry
    }

    // Locale.ROOT: the default-locale f-interpolator would print a comma
    // decimal separator on e.g. de_DE JVMs — invalid JSON
    def f2(v: Double) =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def qjson(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => "\"" + k + "\":" + f2(v) }.mkString("{", ",", "}")

    val results = run.results
    val failed = results.collect { case (k, -1.0) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = run.total
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(SlowestN)
      .sortBy(_._1)
    // cpus is quoted: it is an env-provided STRING ("*" is a legal value
    // for local[*]) and splicing it bare would emit invalid JSON
    val meta = s""""failed":$failed,"sf":$sfNum,"reps":$reps,""" +
      s""""cpus":"${cpus.replaceAll("[\"\\\\]", "")}",""" +
      s""""cal_before":${f2(run.calBefore)},"cal_after":${f2(run.calAfter)},""" +
      s""""cal_ref":${f2(CalRefSec)},"load1_before":${f2(run.loadBefore)},""" +
      s""""load1_after":${f2(run.loadAfter)},"contended":${run.contended},""" +
      s""""attempts":$attempts,"ts":${System.currentTimeMillis / 1000}"""
    // COMPACT stdout line: only the SlowestN slowest queries (the full map
    // would blow the harness's ~2k-char tail window — round 10's record
    // parsed as null exactly because of this).
    val line = s"""{"metric":"total","value":${f2(total)},"unit":"sec",""" +
      s""""queries":${qjson(slowest)},"n_queries":${results.size},""" +
      s""""slowest_only":true,"full":"bench_out.json",$meta}"""
    // FULL file line: every query, plus the same-box DuckDB oracle splice.
    val fullLine = s"""{"metric":"total","value":${f2(total)},"unit":"sec",""" +
      s""""queries":${qjson(results)},$meta}"""
    // The FILE line additionally carries the DuckDB oracle's per-query
    // seconds (tools/duck_bench.py writes oracle_bench.json, a flat
    // name->sec map) so per-query slower-than-baseline adjudication
    // compares same-box runs, not a stale total.
    // duck_bench.py stamps {"sf":...,"ts":...,"queries":{...}} — the sf
    // must match THIS run's, so a stale file from a different scale factor
    // is never recorded as this run's same-box oracle. A stamp MISSING any
    // query this run executed is REFUSED with a loud stderr message:
    // rounds 8 and 9 both shipped their newest queries without a baseline
    // because a stale-but-same-sf stamp spliced silently. (Legacy
    // un-stamped flat maps fail the sf check and are skipped.)
    val oracleMap = scala.util.Try {
      val s = Files.readString(Paths.get("oracle_bench.json")).trim
      val sfOk = """"sf":([0-9.eE+-]+)""".r.findFirstMatchIn(s)
        .exists(_.group(1) == sfNum)
      val ts = """"ts":([0-9]+)""".r.findFirstMatchIn(s).map(_.group(1))
      val q = braceObj(s, "queries").getOrElse("")
      if (s.startsWith("{") && sfOk && ts.isDefined &&
          q.startsWith("{") && q.endsWith("}"))
        Some((q, ts.get))
      else None
    }.toOption.flatten
    val fileLine = oracleMap match {
      case Some((m, ots)) =>
        val stamped = """"([A-Za-z0-9_]+)":""".r
          .findAllMatchIn(m).map(_.group(1)).toSet
        val missing = results.map(_._1).filterNot(stamped)
        if (missing.isEmpty)
          fullLine.stripSuffix("}") + s""","oracle":$m,"oracle_ts":$ots}"""
        else {
          System.err.println(
            s"[bench] STALE ORACLE: oracle_bench.json is missing " +
            s"${missing.size} quer${if (missing.size == 1) "y" else "ies"} " +
            s"(${missing.mkString(", ")}) — re-run tools/duck_bench.py; " +
            "oracle map NOT spliced")
          val arr = missing.map("\"" + _ + "\"").mkString("[", ",", "]")
          fullLine.stripSuffix("}") + s""","oracle_missing":$arr}"""
        }
      case None => fullLine
    }
    // APPEND, never overwrite: each run is one labeled line (reps/cpus/ts/
    // calibration/contended), so drift disputes compare runs directly
    try Files.writeString(Paths.get("bench_out.json"), fileLine + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case _: Throwable => () }
    // raw stdout: visible as a clean line even under sbt's logger
    val raw = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true)
    raw.println(line)
    println(line)
    spark.stop()
  }
}
