package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.VersionedTable

/** Date-range backfill driver (SURVEY.md §2 #117): the reference's
  * Airflow operational layer — `depends_on_past=True`, `retries: 2`,
  * catchup over a date range, `max_active_runs=1`
  * (/root/reference/dags/stock_data_to_gcp.py:74-91) — re-expressed
  * over the versioned-table commit protocol instead of a scheduler
  * database.
  *
  * The design inverts Airflow's: there is NO separate state store.
  * The versioned table's transaction log IS the scheduler state —
  * each date partition commits through [[VersionedTable.appendOnce]]
  * tagged `(writer, epoch = date.toEpochDay)`, so
  *
  *  - **resume** is a log scan, not a bookkeeping table: a re-run
  *    probes [[VersionedTable.committedEpoch]] and SKIPS completed
  *    dates without recomputing them;
  *  - **exactly-once** holds even if the driver crashes between
  *    compute and commit-visibility: a replayed epoch is detected in
  *    the log and becomes a no-op (the appendOnce contract), so a
  *    backfill can be killed and restarted at any point without
  *    duplicating a partition;
  *  - **depends_on_past** is the chain gate: dates run ascending,
  *    one at a time (max_active_runs=1), and a date that exhausts
  *    its retries HALTS the chain — later dates are not attempted,
  *    exactly Airflow's semantics for a past-dependent DAG. Already-
  *    committed later dates (from a prior partial run that advanced
  *    further) stay committed; the gate governs new work only.
  *
  * Scale: the driver is pure metadata — per date it does one log
  * scan (O(versions), driver-side) plus the task's own Spark job.
  * Nothing here collects data rows; a 10-year daily backfill is
  * 3 650 sequential incremental jobs, each scan-pruned to its window
  * by the task (e.g. [[graft.operators.StockOps.incrementalBatch]]'s
  * pushed time-range predicate). */
object Backfill {

  /** One date-partition attempt trail. `status` ∈ `committed` (this
    * run did the work), `skipped` (a prior run had committed the
    * epoch), `failed` (exhausted retries — the chain halts here),
    * `blocked` (not attempted: an earlier date failed). */
  final case class TaskRun(date: LocalDate, status: String,
      version: Long, attempts: Int, error: Option[String])

  /** Backfill outcome: per-date trail plus the halt point, if any. */
  final case class Report(runs: Seq[TaskRun]) {
    def completed: Boolean = runs.forall(r =>
      r.status == "committed" || r.status == "skipped")
    def haltedAt: Option[LocalDate] =
      runs.find(_.status == "failed").map(_.date)
  }

  /** Run `task` for every date in `[start, end)` ascending, committing
    * each result to the versioned table at `root` as
    * `(writer, epoch = toEpochDay)`. `retries` extra attempts per date
    * (Airflow's `retries: 2` default), then halt. Resumable and
    * exactly-once; see the object doc. `task` receives the date and
    * must return that partition's rows — it is only invoked for dates
    * whose epoch is not already committed. */
  def run(spark: SparkSession, root: String, writer: String,
      start: LocalDate, end: LocalDate, retries: Int = 2)
      (task: LocalDate => DataFrame): Report = {
    require(!end.isBefore(start), s"backfill range [$start, $end) is empty")
    val dates = Iterator.iterate(start)(_.plusDays(1))
      .takeWhile(_.isBefore(end)).toSeq
    val runs = scala.collection.mutable.ArrayBuffer[TaskRun]()
    var halted = false
    dates.foreach { d =>
      val epoch = d.toEpochDay
      if (halted) {
        runs += TaskRun(d, "blocked", -1L, 0, None)
      } else VersionedTable.committedEpoch(root, writer, epoch) match {
        case Some(v) =>
          // catchup resume: the log already carries this partition
          runs += TaskRun(d, "skipped", v, 0, None)
        case None =>
          var attempt = 0
          var committed = -1L
          var lastErr: Option[String] = None
          while (committed < 0 && attempt <= retries) {
            attempt += 1
            try {
              committed = VersionedTable.appendOnce(task(d), root, writer, epoch)
              lastErr = None
            } catch {
              case scala.util.control.NonFatal(e) =>
                lastErr = Some(e.toString)
            }
          }
          if (committed >= 0) {
            runs += TaskRun(d, "committed", committed, attempt, None)
          } else {
            // depends_on_past: the chain stops at the first failure
            runs += TaskRun(d, "failed", -1L, attempt, lastErr)
            halted = true
          }
      }
    }
    Report(runs.toSeq)
  }

  /** #117 driver-gate query: a 3-day event backfill run through the
    * driver into a fresh versioned table. Day 1 is pre-committed by a
    * simulated prior partial run, so the driver must SKIP it from the
    * log (resume) and compute only days 2-3 — any double-commit would
    * double day 1's counts and fail the oracle, which recomputes the
    * same per-day aggregate straight from the source. The ScalaTest
    * suite covers what SQL can't see: halt-on-failure ordering,
    * retries, blocked dates, crash-replay idempotence. */
  def backfillRange(spark: SparkSession, dir: String): DataFrame =
    graft.sources.StagePath.scratch(spark, "backfill") { root =>
      import org.apache.spark.sql.functions._
      val writer = "daily_events"
      val start = LocalDate.of(2024, 1, 1)
      def day(d: LocalDate): DataFrame =
        graft.sources.Tables.loadEventsRange(spark, dir,
          s"$d 00:00:00", s"${d.plusDays(1)} 00:00:00")
      VersionedTable.appendOnce(day(start), root, writer, start.toEpochDay)
      val report = run(spark, root, writer, start, start.plusDays(3))(day)
      require(report.completed && report.runs.head.status == "skipped",
        s"backfill must resume past the pre-committed day: ${report.runs}")
      VersionedTable.read(spark, root)
        .groupBy(to_date(col("ts")).as("batch_date"))
        .agg(count(lit(1)).as("n_events"),
          graft.operators.Num.dsum(col("value")).as("sum_value"))
        .orderBy("batch_date")
    }
}
