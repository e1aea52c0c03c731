package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sinks.VersionedTable

/** Table-protocol scale bench (VERDICT r10 #3): the versioned-table
  * operations have per-ROUND correctness gates but their own cost
  * curve as the LOG grows was unmeasured. This drives one table
  * through N append commits (2 files each, user_id stats sidecars),
  * then times the metadata-bound operations a deployment leans on:
  *
  *  - `append_first10` vs `append_last10` — per-append seconds early
  *    vs late in the log. Each append replays the log for its base
  *    snapshot (O(V) tiny-file reads), so the RATIO is the measured
  *    log-replay tax; metadata-bound means it stays near 1 while V
  *    grows (the Spark-side stage/stats write dominates).
  *  - `snapshot_sec` — one full log replay at V=N.
  *  - `cdc_last5_sec` — changes feed over the last 5 commits; bounded
  *    by those commits' files, NOT the table (vs `cdc_full_sec`).
  *  - `compact_sec` — snapshot rewrite into range-clustered files.
  *  - `delete_narrow_sec` — deleteWhere on a narrow user_id band
  *    AFTER compaction: the _stats.json prune must open only the
  *    band's files, so this stays ~constant as the table grows.
  *  - `vacuum_n` / `vacuum_sec` — unreferenced-file sweep (the
  *    compacted-away originals age past the 0-retention override).
  *
  * Run twice with SPARK_GRAFT_PROTOCOL_COMMITS (e.g. 40 and 400) and
  * compare: commit count grows 10×, so file count does too; the
  * metadata-bound claim holds if snapshot/cdc_last5/delete_narrow
  * stay flat-to-linear-in-candidates rather than linear-in-table.
  * Results land in BASELINE.md's protocol section per round.
  */
object ProtocolBench {

  def run(spark: SparkSession, dir: String, commits: Int): Unit =
    graft.sources.StagePath.scratch("protocol_bench")(
      run(spark, dir, commits, _))

  private def run(spark: SparkSession, dir: String, commits: Int,
      root: String): Unit = {

    // one day-slice of events, cached once: each commit re-appends the
    // same rows (content is irrelevant to protocol cost; distinct
    // uuid dirs make every commit's files unique)
    val batch = graft.sources.Tables.loadEventsRange(spark, dir,
      "2024-01-01 00:00:00", "2024-01-02 00:00:00")
      .repartition(2).cache()
    batch.count() // materialize outside the timed region

    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val perAppend = new Array[Double](commits)
    for (i <- 0 until commits) {
      val (_, s) = time(VersionedTable.append(batch, root, Seq("user_id")))
      perAppend(i) = s
    }
    val first10 = perAppend.take(10).sum / 10
    val last10 = perAppend.takeRight(10).sum / 10

    val (snap, snapshotSec) = time(VersionedTable.snapshot(root))
    val nFiles = snap.files.size

    val (_, cdcLast5Sec) = time(
      VersionedTable.changes(spark, root, snap.version - 5).count())
    val (_, cdcFullSec) = time(
      VersionedTable.changes(spark, root, 0).count())

    val (_, compactSec) = time(
      VersionedTable.compact(spark, root, 64L * 1024 * 1024,
        Seq("user_id")))

    // narrow band: after the range-clustered compaction the stats
    // sidecars confine the discovery scan to the band's files
    val (_, deleteSec) = time(
      VersionedTable.deleteWhere(spark, root,
        col("user_id") >= 10 && col("user_id") <= 12))

    val (vacN, vacSec) = time(VersionedTable.vacuum(root, 0L))

    println(s"""{"metric":"protocol","commits":$commits,""" +
      s""""n_files":$nFiles,""" +
      f""""append_first10":$first10%.4f,"append_last10":$last10%.4f,""" +
      f""""snapshot_sec":$snapshotSec%.4f,""" +
      f""""cdc_last5_sec":$cdcLast5Sec%.4f,"cdc_full_sec":$cdcFullSec%.4f,""" +
      f""""compact_sec":$compactSec%.4f,""" +
      f""""delete_narrow_sec":$deleteSec%.4f,""" +
      f""""vacuum_n":$vacN,"vacuum_sec":$vacSec%.4f,"sf":"$dir"}""")
  }
}
