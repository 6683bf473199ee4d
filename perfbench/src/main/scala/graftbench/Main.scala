package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.Tables

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Double, val dataDir: String, val workDir: String,
    val scale: String, val expected: Map[String, String], val cores: Int,
    val dumpDir: Option[String]) {
  /** Wall-clock instant (epoch ns) of the first timed operation. */
  var firstTimedNs = 0L
  var overheadPct = 0.0
  var foundDigests: Map[String, String] = Map.empty

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** Run whole passes (`pass` returns its wall seconds) until `seconds`
    * have elapsed, at least one. In a traced run the budget is split: an
    * untraced half, then the traced half with every listener attached;
    * the ratio of their mean pass walls is the tracing overhead. Returns
    * the walls of the measured passes. */
  def timedPhase(pass: () => Double): Seq[Double] = {
    def loop(budget: Double): Seq[Double] = {
      val t0 = System.nanoTime()
      val walls = scala.collection.mutable.ArrayBuffer(pass())
      while ((System.nanoTime() - t0) / 1e9 < budget) walls += pass()
      walls.toSeq
    }
    firstTimedNs = Main.nowNs()
    if (!tracer.enabled) loop(seconds)
    else {
      val untraced = loop(seconds / 2)
      tracer.start()
      val traced = try loop(seconds / 2) finally tracer.stop()
      overheadPct = 100.0 * (traced.sum / traced.size / (untraced.sum / untraced.size) - 1)
      traced
    }
  }
}

/** `detail`: per-operation medians (seconds) for the record, by name. */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[Metric],
    report: Seq[String], detail: Seq[(String, Double)] = Nil)

/** Benchmark harness entry point, launched by `run.py`:
  * `--workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR
  *  --out DIR --scale NAME --digests FILE --t0-ns NS [--commit C]
  *  [--dump DIR] [--write-digests]`.
  * Prints a human-readable report on stderr and the result object as the
  * last line of stdout. */
object Main {
  def nowNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def load1(): Double = scala.util.Try {
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
  }.getOrElse(-1.0)

  /** Fixed CPU-bound micro-job (no I/O, no shuffle): how fast the box is
    * right now, independent of the code under test. */
  private def calibrate(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 8000000L, 1L, cores * 2)
      .selectExpr("bit_xor(xxhash64(id)) AS h").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val writeDigests = argv.contains("--write-digests")
    val workload = args("workload")
    val traced = args.getOrElse("trace", "0") == "1"
    val scale = args("scale")
    val digestFile = Paths.get(args("digests"))
    val outDir = Paths.get(args("out"))
    val t0Ns = args("t0-ns").toLong
    val cores = Runtime.getRuntime.availableProcessors
    val master = s"local[$cores]"
    val load1Before = load1()

    val spark = Tables.configure(SparkSession.builder()
      .master(master)
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args("work")}/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val expected = if (writeDigests || !Files.exists(digestFile)) Map.empty[String, String]
    else Files.readAllLines(digestFile).asScala.map(_.split("\t"))
      .collect { case Array(sc, q, d) if sc == scale => q -> d }.toMap
    val tracer = new Tracer(spark, traced)
    val ctx = new Ctx(spark, tracer, args("seed").toLong, args("seconds").toDouble,
      args("data"), args("work"), scale, expected, cores, args.get("dump"))

    val outcome = workload match {
      case "batch" => Batch.run(ctx)
      case "poll" => PollWorkload.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // after the workload, so that the JVM is warm and the time reflects
    // the box, not class loading
    val calibrationS = calibrate(spark, cores)
    val setupS = (ctx.firstTimedNs - t0Ns) / 1e9
    val metrics =
      if (traced) tracer.layerMetrics(cores, ctx.overheadPct)
      else Metric("setup_s", setupS, "s") +: outcome.metrics

    // result dump for the DuckDB differential (tools/check.py)
    ctx.dumpDir.foreach { d =>
      val sql = graft.SparkEntry.oracleSql.filter { case (q, _) => ctx.foundDigests.contains(q) }
        .map { case (q, v) => s"${Json.str(q)}: ${Json.str(v.replace("{SFDIR}", ctx.dataDir))}" }
      Files.writeString(Paths.get(s"$d/oracle_sql.json"), sql.mkString("{", ",", "}"))
    }
    if (writeDigests) {
      val kept = if (Files.exists(digestFile))
        Files.readAllLines(digestFile).asScala.filterNot { l =>
          val f = l.split("\t"); f.length == 3 && f(0) == scale &&
            ctx.foundDigests.contains(f(1))
        }.toSeq else Seq.empty
      val added = ctx.foundDigests.toSeq.sorted.map { case (q, d) => s"$scale\t$q\t$d" }
      Files.write(digestFile, (kept ++ added).sorted.asJava)
    }

    val failedFrac = outcome.failed.toDouble / math.max(1L, outcome.attempted)
    val stamp = Seq(
      "nproc" -> cores.toString, "master" -> Json.str(master),
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "commit" -> Json.str(args.getOrElse("commit", "unknown")),
      "calibration_s" -> Json.num(calibrationS),
      "load1" -> s"[${Json.num(load1Before)},${Json.num(load1())}]")
    val report = outcome.report ++ Seq(
      f"failed_frac=$failedFrac%.4f (${outcome.failed} of ${outcome.attempted})",
      f"setup_s=$setupS%.3f") ++
      (if (traced) f"trace overhead ${ctx.overheadPct}%.2f%% against the untraced half" +:
        tracer.layerSelfMs.map { case (l, ms) => f"  self time $l%-10s $ms%10.1f ms" }
      else Nil)
    report.foreach(ctx.log)
    metrics.foreach(m => ctx.log(f"${m.name}%-36s ${m.value}%14.4f ${m.unit}"))

    Files.createDirectories(outDir)
    if (traced) tracer.writeSpans(outDir.resolve(s"spans-$workload-${ctx.seed}.jsonl"))
    val metricsJson = metrics.map(m =>
      s"""${Json.str(m.name)}:{"value":${Json.num(m.value)},"unit":${Json.str(m.unit)}}""")
      .mkString("{", ",", "}")
    val record = (Seq("workload" -> Json.str(workload), "seed" -> ctx.seed.toString,
      "trace" -> (if (traced) "1" else "0"), "scale" -> Json.str(scale)) ++ stamp ++
      Seq("failed_frac" -> Json.num(failedFrac), "metrics" -> metricsJson,
        "medians_s" -> outcome.detail.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
          .mkString("{", ",", "}")))
      .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    Files.write(outDir.resolve("records.jsonl"), java.util.List.of(record),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    println(s"STAMP $record")
    spark.stop()
    val correct = outcome.failed == 0
    println(s"""{"correct":$correct,"attempted":${outcome.attempted},""" +
      s""""failed":${outcome.failed},"metrics":$metricsJson}""")
  }
}
