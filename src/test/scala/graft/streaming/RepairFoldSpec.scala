package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import scala.jdk.CollectionConverters._
import graft.TestSpark
import graft.llm.{Gates, IvfTier, Similarity}

/** A repair commits `snap<m>r`, which already holds every batch ≤ m. A
  * later poll whose compaction lands on the same m must not fold the
  * whole table again into a plain `snap<m>` only for the sweep to delete
  * it as shadowed: the poll renames nothing into the repaired table. */
class RepairFoldSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A local work dir under the `renamefs` scheme, and the renames whose
    * target is a direct child of `work/<table>` (a snapshot commit; the
    * parquet committer's own renames land deeper). */
  private def renameWork(): (String, String) = {
    spark.sparkContext.hadoopConfiguration.set("fs.renamefs.impl",
      classOf[RenameCountingFs].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_repairfold").toString
    (root, s"renamefs://$root/work")
  }
  private def commitsInto(root: String, table: String): Seq[String] =
    RenameCountingFs.renames.asScala.toSeq.collect {
      case (src, dst) if new Path(dst).getParent.toUri.getPath == s"$root/work/$table" =>
        s"${new Path(src).getName} -> ${new Path(dst).getName}"
    }

  test("span dup: the poll folding at a rescore's id renames nothing into stats/") {
    val (root, work) = renameWork()
    val landing = s"$root/landing"
    val p = SpanDupStream.Params(spanTokens = 5, minDocs = 2, compactEvery = 2)
    val boiler = "one two three four five"
    Seq(1L -> s"aa bb $boiler cc dd").toDF("doc_id", "text")
      .write.parquet(s"$landing/d0")
    SpanDupStream.pollSpanDup(spark, landing, work, p)
    Seq(11L -> s"ee ff $boiler gg hh").toDF("doc_id", "text")
      .write.parquet(s"$landing/d1")
    SpanDupStream.pollSpanDup(spark, landing, work, p)
    SpanDupStream.rescoreStats(spark, landing, work, p) // commits snap1r
    val repaired = SpanDupStream.stats(spark, work).collect().toSet
    Seq(21L -> "u1 u2 u3 u4 u5 u6").toDF("doc_id", "text")
      .write.parquet(s"$landing/d2")
    RenameCountingFs.renames.clear()
    SpanDupStream.pollSpanDup(spark, landing, work, p) // batch 2 folds at m = 1
    assert(commitsInto(root, "wins") === Seq(".tmpsnap1 -> snap1"),
      "the fold ran on the unrepaired table")
    assert(commitsInto(root, "stats").isEmpty, "stats/snap1r already covers m = 1")
    val after = SpanDupStream.stats(spark, work).collect().toSet
    assert(repaired.subsetOf(after) && after.size === repaired.size + 1)
  }

  test("semantic gate: the poll folding at a repairSem's id renames nothing into sem/") {
    val (root, work) = renameWork()
    val (landing, index) = (s"$root/landing", s"$root/index")
    def v(fine: Float): Array[Float] = {
      val a = new Array[Float](8); a(0) = 1.0f; a(1) = fine; a
    }
    def doc(id: Long, fine: Float) =
      (id, (0 until 12).map(i => s"t${id}_$i").mkString(" "), v(fine))
    val cents = (0L until 4L).map(c => (c, {
      val a = new Array[Float](8); a(c.toInt * 2) = 1.0f; a
    })).toDF("cell", "_cv")
    Similarity.saveIvf(Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", index, IvfTier.Float, nlist = 4,
      centroids = Some(cents))
    def poll(): Unit = PipelineStream.pollIngest(spark, landing, work, index,
      Gates(semantic = Some(Gates.Semantic(0.995))),
      DedupStream.Params(compactEvery = 2))
    Seq(doc(1L, 0.10f), doc(2L, 0.75f)).toDF("doc_id", "text", "embedding")
      .write.parquet(s"$landing/d0")
    poll()
    Seq(doc(11L, 1.9f)).toDF("doc_id", "text", "embedding")
      .write.parquet(s"$landing/d1")
    poll()
    PipelineStream.repairSem(spark, work, index, semMinCos = 0.995) // sem/snap1r
    Seq(doc(21L, 0.3f)).toDF("doc_id", "text", "embedding")
      .write.parquet(s"$landing/d2")
    RenameCountingFs.renames.clear()
    poll() // batch 2 folds at m = 1
    assert(commitsInto(root, "assign") === Seq(".tmpsnap1 -> snap1"),
      "the fold ran on the unrepaired tables")
    assert(commitsInto(root, "sem").isEmpty, "sem/snap1r already covers m = 1")
    assert(PipelineStream.semSurvivors(spark, work).select("vec_id").as[Long]
      .collect().toSet === Set(1L, 2L, 11L, 21L))
  }
}

/** The local file system under the `renamefs` scheme, recording every
  * rename as (source, target) paths. */
class RenameCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("renamefs:///")
  override def rename(src: Path, dst: Path): Boolean = {
    RenameCountingFs.renames.add(src.toUri.getPath -> dst.toUri.getPath)
    super.rename(src, dst)
  }
}

object RenameCountingFs {
  val renames = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
}
