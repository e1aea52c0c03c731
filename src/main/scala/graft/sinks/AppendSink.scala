package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** Typed append write with idempotent-replay semantics
  * (SURVEY.md §2 #4), re-expressing the reference's
  * `write_disposition='WRITE_APPEND'` warehouse loads combined with
  * its retry/`depends_on_past` scheduling
  * (/root/reference/dags/stock_data_to_gcp.py:85-91,123-136): a batch
  * that reruns must replace its own rows, never duplicate them.
  *
  * The table is a [[VersionedTable]] whose files sit in the root's
  * Hive partition dirs (`batch_date=D/_batch_id=B/part-*.parquet`):
  * every write is one commit of its `_graft_log`, and the log is the
  * file index, so [[readBack]] lists no directory and opens no footer.
  * A plain append adds files; an idempotent append also removes the
  * live files of exactly the partitions it writes (dynamic partition
  * overwrite, linearized at the commit). Files a commit replaces are
  * deleted right after it. At 100 TB a replay swaps the files of its
  * partitions in the log — no read-modify-write of the table.
  */
object AppendSink {

  /** Blind append (the reference's WRITE_APPEND). */
  def append(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    VersionedTable.overwrite(path, VersionedTable.stage(df, path, partitionCols))(
      _ => Seq.empty)

  /** Idempotent append: re-running the same batch replaces exactly the
    * partitions it writes — one commit that adds the batch's files and
    * removes the live files under the partition dirs they land in. */
  def idempotentAppend(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    val c = VersionedTable.stage(df, path, partitionCols)
    val dirs = c.adds.map(a => a.path.take(a.path.lastIndexOf('/') + 1)).distinct
    VersionedTable.overwrite(path, c)(snap =>
      if (partitionCols.isEmpty) snap.files
      else snap.files.filter(f => dirs.exists(f.startsWith)))
  }

  /** The table as its log has it: schema, files and partition values
    * all come from the commit log, so building the frame runs no job. */
  def readBack(spark: SparkSession, path: String): DataFrame =
    VersionedTable.read(spark, path)

  // Day compaction (#56b): generation G rewrites a day's live
  // `_batch_id` files into `_batch_id=-G` in one commit that also
  // covers their dirs, so a later write there (a replay of a compacted
  // batch) is dropped. A crashed run leaves unreferenced files only;
  // the next takes a generation above every one on disk and deletes
  // the stale dirs. INVARIANT: a batch id never carries NEW data while
  // the writer's checkpoint lives (ids are checkpoint-scoped), so a
  // checkpoint reset must call [[resetDayManifests]] first.

  private val BatchDir = "_batch_id=(-?\\d+)".r

  /** `col`'s partition value of live file `f` (Some(null): null). */
  private def value(snap: VersionedTable.Snapshot, f: String,
      col: String): Option[String] =
    snap.entries(f).partitionValues.collectFirst { case (`col`, v) => v }

  /** [[VersionedTable.rewrite]] of `live` in its partition layout,
    * deleting the replaced files once committed; false if a racing
    * commit won (the caller restarts). */
  private def rewrite(spark: SparkSession, path: String,
      snap: VersionedTable.Snapshot, live: Seq[String], targetBytes: Long,
      covers: Seq[String] = Seq.empty)(shape: DataFrame => DataFrame): Boolean = {
    val ok = VersionedTable.rewrite(spark, path, snap, live, targetBytes,
      snap.entries(live.head).partitionValues.map(_._1), covers = covers)(
      (rows, n) => shape(rows).coalesce(n)).isDefined
    if (ok) VersionedTable.purge(path, live)
    ok
  }

  /** #56b Atomic day compaction (see above). Idempotent: a re-run, or
    * one resumed after a crash, compacts the live set into the next
    * generation; a day compacted with nothing new is left as it is. */
  def compactDay(spark: SparkSession, path: String, day: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val dayDir = new java.io.File(path, s"batch_date=$day")
    var gen = 0L
    while (gen == 0L) {
      val snap = VersionedTable.snapshot(path)
      val live = snap.files.filter(f => value(snap, f, "batch_date").contains(day) &&
        value(snap, f, "_batch_id").exists(_ != null))
      if (live.isEmpty) return
      val ids = live.flatMap(value(snap, _, "_batch_id")).map(_.toLong).distinct
      val onDisk = Option(dayDir.list()).toSeq.flatten.collect {
        case BatchDir(id) => id.toLong
      }
      if (ids.size == 1 && ids.head < 0) gen = -ids.head // nothing new
      else {
        val next = ((ids ++ onDisk).map(-_) :+ 0L).max + 1
        val covers = live.filter(value(snap, _, "_batch_id").exists(_.toLong >= 0))
          .map(f => f.take(f.lastIndexOf('/'))).distinct
        if (rewrite(spark, path, snap, live, targetBytes, covers)(rows =>
            rows.withColumn("_batch_id",
              lit(-next).cast(rows.schema("_batch_id").dataType))))
          gen = next
      }
    }
    // stale generations a crashed run left behind
    Option(dayDir.listFiles()).toSeq.flatten.foreach { d =>
      d.getName match {
        case BatchDir(id) if id.toLong < 0 && id.toLong != -gen =>
          org.apache.commons.io.FileUtils.deleteQuietly(d)
        case _ =>
      }
    }
  }

  /** Prepare a warehouse for a writer whose batch ids restart at 0 (see
    * the INVARIANT above), BEFORE its first micro-batch: fold every
    * day's live non-negative ids into a generation (a restarted batch N
    * would otherwise REPLACE a live `_batch_id=N`), then uncover every
    * covered dir in one commit, so restarted ids are visible again. */
  def resetDayManifests(spark: SparkSession, path: String): Unit = {
    val snap = VersionedTable.snapshot(path)
    snap.files.filter(value(snap, _, "_batch_id").exists(v => v != null && v.toLong >= 0))
      .flatMap(value(snap, _, "batch_date")).distinct
      .foreach(compactDay(spark, path, _))
    val after = VersionedTable.snapshot(path)
    if (after.covered.nonEmpty)
      VersionedTable.commit(path,
        VersionedTable.Commit(Seq.empty, uncovers = after.covered.toSeq.sorted))
  }

  /** #56 Small-file compaction: rewrite one partition's many
    * micro-batch files into ceil(bytes/target) files in one commit.
    * The reference's 2-minute cadence accretes thousands of tiny files
    * a day, whose opens dominate scans at 100 TB. Safe to re-run. */
  def compactPartition(spark: SparkSession, path: String,
      partitionCol: String, partitionValue: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    var done = false
    while (!done) {
      val snap = VersionedTable.snapshot(path)
      val live = snap.files.filter(value(snap, _, partitionCol).contains(partitionValue))
      done = live.isEmpty || rewrite(spark, path, snap, live, targetBytes)(identity)
    }
  }
}
