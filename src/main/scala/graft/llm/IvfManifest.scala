package graft.llm

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The storage tier of one IVF index version, as its manifest records it
  * ([[IvfTier]] is the save-side config that maps to it). */
private[graft] sealed trait IvfFlavor {
  /** The flavor as the manifest spells it: `float`, `sq8`, or `pq`
    * followed by its set flags. */
  def name: String = this match {
    case IvfFlavor.Float => "float"
    case IvfFlavor.Sq8 => "sq8"
    case p: IvfFlavor.Pq =>
      ("pq" +: Seq(p.residual -> "residual", p.perCell -> "per-cell",
        p.rotated -> "rotated").collect { case (true, s) => s }).mkString(" ")
  }
}

private[graft] object IvfFlavor {
  /** Float rows (neighbor_id, _cv, _cn, cell). */
  case object Float extends IvfFlavor
  /** Per-row 8-bit scalar-quantized rows (neighbor_id, _qoff, _qstep, _cq,
    * _cn, cell). */
  case object Sq8 extends IvfFlavor
  /** Product-quantized rows (neighbor_id, _pq, _cn, _qerr, cell) coded
    * against the version's `codebooks` table. `residual` codes quantize
    * v − c(cell); `perCell` codebooks are keyed by cell; `rotated` codes
    * quantize the space of the version's `rotation` table. Per-cell
    * codebooks always quantize residuals, so constructing a per-cell `Pq`
    * sets `residual`. */
  final case class Pq private (residual: Boolean, perCell: Boolean,
      rotated: Boolean) extends IvfFlavor
  object Pq {
    def apply(residual: Boolean, perCell: Boolean, rotated: Boolean): Pq =
      new Pq(residual || perCell, perCell, rotated)
  }
}

/** The one record of an IVF index version's format: its flavor and its
  * folded-delta ledger, the names of every delta that
  * [[Similarity.compactIvfIndex]] folded into it or an ancestor (a
  * replayed streaming append of a folded delivery must be a no-op, or its
  * rows would land twice). Stored as `v<n>/_MANIFEST`, closed before
  * `_COMMIT` is created, so a committed version's manifest is complete. */
private[graft] final case class IvfManifest(flavor: IvfFlavor,
    folded: Set[String] = Set.empty)

private[graft] object IvfManifest {
  private val Name = "_MANIFEST"

  /** Write `m` as `vdir`'s manifest. Callers create `_COMMIT` after this
    * returns. */
  def write(spark: SparkSession, vdir: String, m: IvfManifest): Unit = {
    val text = (s"flavor ${m.flavor.name}" +:
        m.folded.toSeq.sorted.map("folded " + _))
      .mkString("", "\n", "\n")
    val p = new Path(vdir, Name)
    val out = fs(spark, p).create(p, true)
    try out.write(text.getBytes("UTF-8"))
    finally out.close()
  }

  /** The manifest of the committed version `vdir`. A version written
    * before the manifest existed has none; its manifest is derived from
    * the older layout (see [[legacy]]). */
  def read(spark: SparkSession, vdir: String): IvfManifest = {
    val p = new Path(vdir, Name)
    val f = fs(spark, p)
    val text =
      try Some(lines(f, p))
      catch { case _: java.io.FileNotFoundException => None }
    text.fold(legacy(spark, f, vdir)) { ls =>
      val flavor = ls.collectFirst {
        case l if l.startsWith("flavor ") => l.split(' ').toSeq.tail
      } match {
        case Some(Seq("float")) => IvfFlavor.Float
        case Some(Seq("sq8")) => IvfFlavor.Sq8
        case Some("pq" +: flags)
            if flags.forall(Set("residual", "per-cell", "rotated")) =>
          IvfFlavor.Pq(flags.contains("residual"), flags.contains("per-cell"),
            flags.contains("rotated"))
        case other => throw new IllegalStateException(
          s"$p: unrecognized flavor line ${other.map(_.mkString(" "))}")
      }
      IvfManifest(flavor,
        ls.collect { case l if l.startsWith("folded ") => l.drop(7) }.toSet)
    }
  }

  /** The manifest of a version written by an earlier release, derived
    * from the marker files it recorded its format in: `_PQ` with
    * `_PQRES` / `_PQLOCAL` / `_PQROT`, `_QUANTIZED`, and the `_FOLDED`
    * ledger (one delta name per line). SQ8 versions older than
    * `_QUANTIZED` carry no marker at all; for those the stored corpus
    * footer is sniffed for the `_cq` byte column. A version with no marker
    * and no readable corpus is float: empty seeding shipped together with
    * the markers. Read-only: such a version moves to the manifest at its
    * next compaction, rewrite or save. */
  private def legacy(spark: SparkSession, f: FileSystem,
      vdir: String): IvfManifest = {
    def has(marker: String) = f.exists(new Path(vdir, marker))
    val flavor =
      if (has("_PQ"))
        IvfFlavor.Pq(has("_PQRES"), has("_PQLOCAL"), has("_PQROT"))
      else if (has("_QUANTIZED") || scala.util.Try(Similarity
          .parquetDirSchema(spark, s"$vdir/corpus").fieldNames.contains("_cq"))
          .getOrElse(false)) IvfFlavor.Sq8
      else IvfFlavor.Float
    val ledger = new Path(vdir, "_FOLDED")
    IvfManifest(flavor,
      if (f.exists(ledger)) lines(f, ledger).filter(_.nonEmpty).toSet
      else Set.empty)
  }

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def lines(f: FileSystem, p: Path): Seq[String] = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }
}
