package graft

import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.pipeline.Backfill
import graft.sinks.VersionedTable

/** Backfill driver tests (SURVEY.md §2 #117): depends_on_past chain
  * gating, retries, resume-from-log, and exactly-once across an
  * injected mid-range failure — the Airflow operational semantics
  * (stock_data_to_gcp.py:74-91) over the versioned-table log. */
class BackfillSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("backfill").toString

  private val d0 = LocalDate.of(2024, 3, 1)

  /** One row per (date, slot): 10 rows for the date's partition. */
  private def partition(d: LocalDate) =
    spark.range(10).select(
      lit(d.toString).as("day"),
      col("id").as("slot"),
      (col("id") * 2 + d.toEpochDay).as("value"))

  test("10-day backfill with a mid-range failure halts, resumes, lands exactly once") {
    val root = freshRoot()
    val failOn = d0.plusDays(5)
    // first run: day 5 throws on every attempt -> chain halts there
    val r1 = Backfill.run(spark, root, "w", d0, d0.plusDays(10)) { d =>
      if (d == failOn) sys.error(s"injected failure for $d")
      partition(d)
    }
    assert(!r1.completed)
    assert(r1.haltedAt === Some(failOn))
    assert(r1.runs.map(_.status) ===
      Seq.fill(5)("committed") ++ Seq("failed") ++ Seq.fill(4)("blocked"),
      "depends_on_past: 0-4 land, 5 fails, 6-9 never attempted")
    assert(r1.runs(5).attempts === 3, "retries=2 means 3 attempts")
    assert(r1.runs(5).error.exists(_.contains("injected failure")))
    assert(VersionedTable.read(spark, root)
      .select("day").distinct().count() === 5L)
    // re-run with the failure cleared: completed days SKIP from the
    // log (their versions unchanged), the rest commit
    val r2 = Backfill.run(spark, root, "w", d0, d0.plusDays(10))(partition)
    assert(r2.completed)
    assert(r2.runs.map(_.status) ===
      Seq.fill(5)("skipped") ++ Seq.fill(5)("committed"))
    assert(r2.runs.take(5).map(_.version) ===
      r1.runs.take(5).map(_.version),
      "skipped days keep their original commit versions")
    // exactly-once: every (day, slot) exactly once, no day doubled
    val t = VersionedTable.read(spark, root)
    assert(t.count() === 100L)
    assert(t.groupBy("day").count()
      .filter(col("count") =!= 10L).count() === 0L)
    // a third run is a full no-op
    val r3 = Backfill.run(spark, root, "w", d0, d0.plusDays(10))(partition)
    assert(r3.runs.forall(_.status == "skipped"))
    assert(VersionedTable.read(spark, root).count() === 100L)
  }

  test("a flaky task succeeds within its retry budget and the chain continues") {
    val root = freshRoot()
    val flaky = d0.plusDays(1)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val r = Backfill.run(spark, root, "w", d0, d0.plusDays(3)) { d =>
      if (d == flaky && calls.incrementAndGet() <= 2)
        sys.error("transient")
      partition(d)
    }
    assert(r.completed)
    assert(r.runs.map(_.status) === Seq.fill(3)("committed"))
    assert(r.runs(1).attempts === 3, "two transient failures then success")
    assert(VersionedTable.read(spark, root).count() === 30L)
  }

  test("zero retries fails fast; later committed dates from prior runs survive a halt") {
    val root = freshRoot()
    // a prior run already landed day 2 (e.g. a manually repaired
    // partition); day 1 then fails — the halt must not touch day 2
    VersionedTable.appendOnce(partition(d0.plusDays(2)), root, "w",
      d0.plusDays(2).toEpochDay)
    val r = Backfill.run(spark, root, "w", d0, d0.plusDays(3), retries = 0) { d =>
      if (d == d0.plusDays(1)) sys.error("boom")
      partition(d)
    }
    assert(r.runs.map(_.status) === Seq("committed", "failed", "blocked"))
    assert(r.runs(1).attempts === 1)
    val days = VersionedTable.read(spark, root)
      .select("day").distinct().as[String].collect().sorted.toSeq
    assert(days === Seq(d0.toString, d0.plusDays(2).toString))
  }

  test("backfill_range driver query resumes past a pre-committed day") {
    val got = Backfill.backfillRange(spark, SfDir)
    assert(got.count() === 3L, "one row per backfilled day")
    // equals a straight source aggregate over the same window
    val want = graft.sources.Tables.loadEventsRange(spark, SfDir,
        "2024-01-01 00:00:00", "2024-01-04 00:00:00")
      .groupBy(to_date(col("ts")).as("batch_date"))
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Num.dsum(col("value")).as("sum_value"))
      .orderBy("batch_date")
    assert(got.collect().toSeq === want.collect().toSeq)
  }
}
