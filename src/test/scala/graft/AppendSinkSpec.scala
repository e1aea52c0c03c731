package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sinks.{AppendSink, VersionedTable}

/** The append sink on the versioned log: its reads are log reads, a
  * replay replaces its partitions, a compacted batch's replay stays
  * out, and no replaced file stays on disk. */
class AppendSinkSpec extends SparkTestBase {
  import spark.implicits._

  private val Parts = Seq("batch_date", "_batch_id")

  /** Batch `id`: one row per day, value 1.5·id. */
  private def batch(id: Long, days: String*): DataFrame =
    days.zipWithIndex.map { case (d, i) => (id * 100 + i, d, id * 1.5) }
      .toDF("event_id", "d", "value")
      .select(col("event_id"), col("value"), to_date(col("d")).as("batch_date"),
        lit(id).as("_batch_id"))

  /** The parquet files under `root`, root-relative. */
  private def onDisk(root: String): Set[String] = {
    val base = new java.io.File(root).toPath
    org.apache.commons.io.FileUtils.listFiles(new java.io.File(root),
      Array("parquet"), true).asScala
      .map(f => base.relativize(f.toPath).toString).toSet
  }

  test("readBack over 42 batch dirs runs no job; partition filters prune") {
    val out = tempDir("graft_sink_log") + "/t"
    (0L until 21L).foreach(id =>
      AppendSink.idempotentAppend(batch(id, "2024-01-01", "2024-01-02"), out, Parts))
    assert(VersionedTable.snapshot(out).files.size >= 42)
    var day2: DataFrame = null
    val jobs = jobDescriptions {
      day2 = AppendSink.readBack(spark, out)
        .filter(col("batch_date") === lit("2024-01-02"))
      day2.queryExecution.executedPlan
    }
    assert(jobs.isEmpty, s"no listing or inference job, got $jobs")
    val plan = planOf(day2)
    assert(plan.contains("PartitionFilters: [") && plan.contains("batch_date"),
      plan.take(800))
    assert(day2.count() === 21L)
    assert(AppendSink.readBack(spark, out).schema.map(_.name) ===
      Seq("event_id", "value", "batch_date", "_batch_id"))
  }

  test("a replay after compactDay stays invisible; replaced files leave the disk") {
    val out = tempDir("graft_sink_replay") + "/t"
    def rows(): Seq[(Long, Double)] = AppendSink.readBack(spark, out)
      .select("event_id", "value").as[(Long, Double)].collect().sorted.toSeq
    AppendSink.idempotentAppend(batch(0, "2024-01-01"), out, Parts)
    AppendSink.idempotentAppend(batch(1, "2024-01-01", "2024-01-02"), out, Parts)
    AppendSink.idempotentAppend(batch(1, "2024-01-01", "2024-01-02"), out, Parts)
    val three = Seq((0L, 0.0), (100L, 1.5), (101L, 1.5))
    assert(rows() === three, "a replay replaces its partitions")
    assert(onDisk(out) === VersionedTable.snapshot(out).files.toSet,
      "the replaced files are deleted")
    AppendSink.compactDay(spark, out, "2024-01-01")
    assert(rows() === three)
    assert(VersionedTable.snapshot(out).files.count(_.startsWith(
      "batch_date=2024-01-01/_batch_id=-1/")) === 1)
    assert(onDisk(out) === VersionedTable.snapshot(out).files.toSet)
    // batch 1 again: its compacted day-1 partition is covered, so
    // those rows are dropped, and its live day-2 partition replaces
    // itself
    val v = VersionedTable.snapshot(out).version
    AppendSink.idempotentAppend(batch(1, "2024-01-01", "2024-01-02"), out, Parts)
    assert(VersionedTable.snapshot(out).version === v + 1)
    assert(rows() === three, "replay of a compacted batch duplicated rows")
    assert(onDisk(out) === VersionedTable.snapshot(out).files.toSet)
    // a new batch id into the compacted day is visible
    AppendSink.idempotentAppend(batch(2, "2024-01-01"), out, Parts)
    assert(rows() === three :+ ((200L, 3.0)))
  }
}
