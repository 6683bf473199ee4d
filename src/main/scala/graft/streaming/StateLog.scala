package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One disk-resident state table of a poller, kept as parquet dirs under
  * `root` — the exactly-once protocol of the near-dedup
  * ([[DedupStream]]), span-dup ([[SpanDupStream]]) and semantic-gate
  * ([[PipelineStream]]) state, written down once. Layout:
  *   - `b<id>`: micro-batch `id`'s rows, written in overwrite mode, so a
  *     replayed batch rewrites its dir bit-identically;
  *   - `snap<m>`: every batch ≤ m folded into one dir. It is written to
  *     the dot-temp dir `.tmpsnap<m>` and renamed into place, so readers
  *     never see a partial snapshot, and it counts only with its
  *     `_SUCCESS` marker, which guards against a torn non-atomic rename
  *     on object stores;
  *   - `snap<m>r`: a snapshot an offline repair committed the same way.
  *     It wins a tie with `snap<m>`: it supersedes the fold it was
  *     computed from, and rename-once commits never replace in place.
  *
  * A read sees the newest committed snapshot below its bound plus the
  * `b<i>` dirs above that snapshot and below the bound. The bound keeps a
  * replayed batch blind to its own crashed half-commit; the snapshot id
  * keeps folded `b<i ≤ m>` that a crash left before the sweep from being
  * counted twice. Every fold or repair ends in an idempotent sweep of
  * what the new snapshot made unreachable (folded `b<i>`, older
  * snapshots, a plain `snap<m>` shadowed by `snap<m>r`, stale temps), so
  * a crash at any point replays to the same state.
  *
  * Single writer: the poller's foreachBatch, or an offline repair run
  * with the poller stopped.
  */
final case class StateLog(root: String, schema: StructType) {

  private def fs(sp: SparkSession): FileSystem =
    new Path(root).getFileSystem(sp.sparkContext.hadoopConfiguration)

  /** The effective state below `below`: all rows of the newest committed
    * snapshot and of the `b<i>` dirs above it, from one listing. The
    * DataFrame fixes its file list when it is built: after a poll that
    * compacts (and sweeps the `b<i>` it folded), re-read it; an action on
    * one built before that poll fails with `FAILED_READ_FILE.FILE_NOT_EXIST`. */
  def read(sp: SparkSession, below: Long = Long.MaxValue): DataFrame = {
    val (snap, bdirs) = dirs(sp, below)
    val paths = (snap.toSeq ++ bdirs).map(_._2.toString)
    if (paths.isEmpty) sp.createDataFrame(sp.sparkContext.emptyRDD[Row], schema)
    else sp.read.schema(schema).parquet(paths: _*)
  }

  /** Land micro-batch `batchId`'s rows, replacing a crashed attempt's. */
  def write(batchId: Long, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$root/b$batchId")

  /** Micro-batch `id`'s own rows. The explicit schema also reads a dir
    * with no part files (an all-filtered batch), where inference throws. */
  def batch(sp: SparkSession, id: Long): DataFrame =
    sp.read.schema(schema).parquet(s"$root/b$id")

  /** Every `every` micro-batches (0 disables), fold the state below
    * `batchId` through `fold` into `snap<batchId−1>` and sweep. Run it
    * before the batch reads state: every dir it folds is from a
    * checkpoint-committed batch, and a replay of this batch re-enters the
    * same fold. A snapshot of either flavor at that id means the fold is
    * done, so a replay, or a poll landing on a repair's id, only re-runs
    * the sweep. */
  def compactIfDue(sp: SparkSession, batchId: Long, every: Int,
      fold: DataFrame => DataFrame = identity): Unit =
    if (every > 0 && batchId > 0 && batchId % every == 0) {
      val m = batchId - 1
      val f = fs(sp)
      if (!f.exists(new Path(root, s"snap$m")) &&
          !f.exists(new Path(root, s"snap${m}r")))
        commit(f, s"snap$m", fold(read(sp, batchId)))
      sweep(f, m)
    }

  private def commit(f: FileSystem, name: String, df: DataFrame): Unit = {
    val tmp = new Path(root, s".tmp$name")
    df.write.mode("overwrite").parquet(tmp.toString)
    if (!f.rename(tmp, new Path(root, name)))
      throw new java.io.IOException(s"state commit rename failed: $root/$name")
  }

  /** (newest committed snapshot below `below`, the `b<i>` dirs above it
    * and below `below`), each as (id, path). */
  private def dirs(sp: SparkSession, below: Long)
      : (Option[(Long, Path)], Seq[(Long, Path)]) = {
    val f = fs(sp)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) return (None, Nil)
    val entries = f.listStatus(rootPath).filter(_.isDirectory).map(_.getPath).toSeq
    val snap = entries
      .flatMap(q => StateLog.snapId(q.getName).map { case (m, r) => (m, r, q) })
      .filter(_._1 < below)
      .sortBy(s => (s._1, s._2))(Ordering[(Long, Boolean)].reverse)
      .find(s => f.exists(new Path(s._3, "_SUCCESS")))
      .map(s => (s._1, s._3))
    val lo = snap.fold(Long.MinValue)(_._1)
    val bdirs = entries.flatMap(q => StateLog.batchId(q.getName)
      .filter(i => i > lo && i < below).map(_ -> q))
    (snap, bdirs.sortBy(_._1))
  }

  private def sweep(f: FileSystem, m: Long): Unit = {
    val rAtM = f.exists(new Path(root, s"snap${m}r/_SUCCESS"))
    f.listStatus(new Path(root)).map(_.getPath).foreach { q =>
      val n = q.getName
      val snap = StateLog.snapId(n)
      val foldedB = StateLog.batchId(n).exists(_ <= m)
      val oldSnap = snap.exists(_._1 < m)
      val shadowedPlain = snap.contains((m, false)) && rAtM
      val staleTmp = n.startsWith(".tmp") &&
        StateLog.snapId(n.drop(4)).exists(_._1 <= m)
      if (foldedB || oldSnap || shadowedPlain || staleTmp) f.delete(q, true)
    }
  }
}

object StateLog {

  /** The newest batch id an offline repair may fold over `logs`: their
    * newest state dir id, capped at the highest batch id the checkpoint
    * under `workDir` committed. A poller killed mid-batch leaves `b<k>`
    * dirs the checkpoint never committed; baking them into a repaired
    * snapshot would hide state from the replay of batch k (it reads below
    * its own id) and shadow the dirs it rewrites. Without a checkpoint
    * (state driven through a `processBatch` directly) every written dir
    * is committed. None when the logs hold no state. */
  def repairFrontier(sp: SparkSession, workDir: String,
      logs: StateLog*): Option[Long] =
    logs.flatMap { log =>
      val (snap, bdirs) = log.dirs(sp, Long.MaxValue)
      (snap.toSeq ++ bdirs).map(_._1)
    }.maxOption.map { newest =>
      val commits = new Path(s"$workDir/ckpt/commits")
      val f = commits.getFileSystem(sp.sparkContext.hadoopConfiguration)
      val committed = if (!f.exists(commits)) None
        else f.listStatus(commits).flatMap(_.getPath.getName.toLongOption).maxOption
      committed.fold(newest)(_ min newest)
    }

  /** Commit each `df` as the repaired snapshot `snap<m>r` of its log,
    * unless a crashed earlier repair already did, then sweep every log.
    * Every commit lands before any sweep: one table's repair may read the
    * dirs of another that the sweep deletes. */
  def commitRepair(m: Long, repairs: (StateLog, DataFrame)*): Unit = {
    repairs.foreach { case (log, df) =>
      val f = log.fs(df.sparkSession)
      if (!f.exists(new Path(log.root, s"snap${m}r")))
        log.commit(f, s"snap${m}r", df)
    }
    repairs.foreach { case (log, df) => log.sweep(log.fs(df.sparkSession), m) }
  }

  /** `snap<id>` / `snap<id>r` → (id, repaired). */
  private def snapId(name: String): Option[(Long, Boolean)] =
    if (!name.startsWith("snap")) None
    else if (name.endsWith("r"))
      name.slice(4, name.length - 1).toLongOption.map((_, true))
    else name.drop(4).toLongOption.map((_, false))

  private def batchId(name: String): Option[Long] =
    if (name.startsWith("b")) name.drop(1).toLongOption else None
}
