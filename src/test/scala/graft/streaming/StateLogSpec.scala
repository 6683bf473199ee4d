package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.TestSpark

/** The state log's torn states, one crash point each, on tiny frames and
  * with no streaming query: what a read sees, and what the next fold or
  * repair leaves on disk. */
class StateLogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType)))

  private def newLog() = StateLog(
    java.nio.file.Files.createTempDirectory("graft_statelog").toString, schema)
  private def frame(ids: Long*) = ids.map(i => (i, i * 10)).toDF("id", "v")
  private def ids(df: org.apache.spark.sql.DataFrame) =
    df.select("id").as[Long].collect().toSet
  private def layout(log: StateLog) = new java.io.File(log.root).listFiles()
    .filter(_.isDirectory).map(_.getName).sorted.toSeq

  test("a fold that died before its rename: reads ignore its .tmpsnap, the replayed fold replaces it") {
    val log = newLog()
    (0L to 1L).foreach(i => log.write(i, frame(i)))
    // the dead fold's half-written temp, holding rows no batch wrote
    frame(999L).write.parquet(s"${log.root}/.tmpsnap1")
    assert(layout(log) === Seq(".tmpsnap1", "b0", "b1"))
    assert(ids(log.read(spark)) === Set(0L, 1L))
    log.compactIfDue(spark, 2L, every = 2)
    assert(layout(log) === Seq("snap1"))
    assert(ids(log.read(spark)) === Set(0L, 1L))
  }

  test("a fold renamed into place but not swept: reads ignore b<i ≤ m>, the next (replayed) fold deletes them") {
    val log = newLog()
    (0L to 2L).foreach(i => log.write(i, frame(i)))
    log.compactIfDue(spark, 2L, every = 2)
    assert(layout(log) === Seq("b2", "snap1"))
    // the folded dirs, as a crash before the sweep leaves them
    (0L to 1L).foreach(i => log.write(i, frame(100L + i)))
    assert(ids(log.read(spark)) === Set(0L, 1L, 2L))
    log.compactIfDue(spark, 2L, every = 2) // the replay: sweep only
    assert(layout(log) === Seq("b2", "snap1"))
    assert(ids(log.read(spark)) === Set(0L, 1L, 2L))
  }

  test("snap<m>r beats snap<m> at the same id; a torn snapshot without _SUCCESS is not read") {
    val log = newLog()
    (0L to 1L).foreach(i => log.write(i, frame(i)))
    log.compactIfDue(spark, 2L, every = 2)
    // a repair committed at m = 1 before the sweep of the plain snapshot
    frame(10L, 11L).write.parquet(s"${log.root}/snap1r")
    assert(ids(log.read(spark)) === Set(10L, 11L))
    // the repair is already there: commitRepair keeps it and sweeps
    StateLog.commitRepair(1L, log -> frame(30L))
    assert(layout(log) === Seq("snap1r"))
    assert(ids(log.read(spark)) === Set(10L, 11L))
    // a newer snapshot torn by a non-atomic rename
    frame(20L).write.parquet(s"${log.root}/snap2")
    new java.io.File(s"${log.root}/snap2/_SUCCESS").delete()
    assert(ids(log.read(spark)) === Set(10L, 11L))
  }

  test("read(below = k) does not see b<k> or later dirs") {
    val log = newLog()
    (0L to 3L).foreach(i => log.write(i, frame(i)))
    assert(ids(log.read(spark, 2L)) === Set(0L, 1L))
    assert(ids(log.read(spark, 0L)).isEmpty)
    log.compactIfDue(spark, 2L, every = 2)
    assert(ids(log.read(spark, 3L)) === Set(0L, 1L, 2L))
    assert(ids(log.read(spark)) === Set(0L, 1L, 2L, 3L))
  }
}
