package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Dimensional, Num, Sessions}

/** Boundary proofs for the round-11 two-level window rewrites
  * (SURVEY.md §2 #41 sessionize, #87 scd2): the block decomposition
  * must be invisible — results bit-identical to the naive one-window
  * forms — precisely at the seams the blocks introduce: chains and
  * value-runs spanning midnight, multi-day empty gaps, events at
  * exactly the gap threshold, and timestamp ties resolved by
  * event_id. The sf0.01 oracle gate covers organic data; this spec
  * constructs the adversarial cases directly. */
class TwoLevelWindowSpec extends SparkTestBase {
  import spark.implicits._

  private val MinGapUs = Sessions.SessionGapMinutes * 60L * 1000000L

  /** (event_id, us-offset from 2024-01-01, user, value) → a dir
    * holding events.parquet in the standard schema. */
  private def eventsDir(rows: Seq[(Long, Long, Long, Double)]): String = {
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .toEpochMilli * 1000L
    val dir = tempDir("graft_twolevel")
    rows.toDF("event_id", "off", "user_id", "value")
      .select(col("event_id"),
        timestamp_micros(col("off") + base).as("ts"),
        col("user_id"), lit("purchase").as("event_type"),
        col("value"), lit("p").as("props"))
      .repartition(3) // multiple files: exercise the shuffle paths
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** The pre-round-11 one-window sessionize, kept as the reference
    * semantics (correct, just not skew-robust). */
  private def naiveSessionize(dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    graft.sources.Tables.load(spark, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > MinGapUs, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_id")
      .agg(min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"),
        count(lit(1)).as("n_events"), Num.dsum(col("value")).as("sum_value"))
      .orderBy("user_id", "sess_id")
  }

  /** The pre-round-11 one-window scd2. */
  private def naiveScd2(dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val changes = graft.sources.Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .withColumn("prev_value", lag(col("value"), 1).over(byUser))
      .filter(col("prev_value").isNull ||
        col("value") =!= col("prev_value"))
    changes
      .withColumn("version", row_number().over(byUser).cast("long"))
      .withColumn("effective_to", lead(col("ts"), 1).over(byUser))
      .select(col("user_id").as("ticker_id"), col("version"),
        col("ts").as("effective_from"), col("effective_to"),
        col("value").as("price"),
        col("effective_to").isNull.cast("long").as("is_current"))
      .orderBy("ticker_id", "version")
  }

  private val DayUs = 86400L * 1000000L
  private val MinuteUs = 60L * 1000000L

  // The adversarial layout, per user:
  //  u1: a session straddling midnight (events 10 min apart across the
  //      day-1/day-2 boundary) — blocks MUST stitch it into one.
  //  u2: events exactly MinGapUs apart across midnight (gap is NOT
  //      "> gap" → same session) and exactly MinGapUs+1 later the next
  //      pair (→ new session).
  //  u3: events on day 1 and day 5 only (3 empty blocks between) with
  //      the SAME value — sessions split, but scd2 must emit ONE
  //      version across the gap (sentinel must hop empty days).
  //  u4: timestamp ties at the boundary instant, order decided by
  //      event_id; values alternate so scd2 versions depend on that
  //      order.
  private def corpus: Seq[(Long, Long, Long, Double)] = Seq(
    // u1: 23:55 day1, 00:05 day2, 00:15 day2
    (1L, DayUs - 5 * MinuteUs, 1L, 10.0),
    (2L, DayUs + 5 * MinuteUs, 1L, 11.0),
    (3L, DayUs + 15 * MinuteUs, 1L, 11.0),
    // u2: boundary pair exactly gap apart; then a pair gap+1us later
    (10L, DayUs - MinGapUs / 2, 2L, 20.0),
    (11L, DayUs + MinGapUs / 2, 2L, 20.0),
    (12L, DayUs + MinGapUs / 2 + MinGapUs + 1, 2L, 21.0),
    // u3: same value across a 4-day hole
    (20L, DayUs / 2, 3L, 30.0),
    (21L, 4 * DayUs + DayUs / 2, 3L, 30.0),
    (22L, 4 * DayUs + DayUs / 2 + MinuteUs, 3L, 31.0),
    // u4: two events at the exact same midnight instant (different
    // days' boundary), event_id orders them; values alternate
    (30L, 2 * DayUs, 4L, 40.0),
    (31L, 2 * DayUs, 4L, 41.0),
    (32L, 2 * DayUs + MinuteUs, 4L, 40.0))

  test("two-level sessionize equals the one-window form on boundary cases") {
    val dir = eventsDir(corpus)
    val got = Sessions.sessionize(spark, dir).collect().toSeq
    val want = naiveSessionize(dir).collect().toSeq
    assert(got === want)
    // and the specific expectations hold, not just agreement:
    val byUser = got.groupBy(_.getLong(0)).view.mapValues(_.size).toMap
    assert(byUser(1L) === 1, "midnight-straddling chain must stitch")
    assert(byUser(2L) === 2, "exact-gap joins, gap+1 splits")
    assert(byUser(3L) === 2, "a 4-day hole splits sessions")
    assert(byUser(4L) === 1)
  }

  test("two-level scd2 equals the one-window form on boundary cases") {
    val dir = eventsDir(corpus)
    // force the sentinel plan: the round-13 adaptive gate would route
    // this tiny corpus to the plain window and skip the machinery
    // under test
    val got = Dimensional.scd2DimWith(spark, dir, forceTwoLevel = true)
      .collect().toSeq
    val want = naiveScd2(dir).collect().toSeq
    assert(got === want)
    val versions = got.groupBy(_.getLong(0)).view.mapValues(_.size).toMap
    assert(versions(1L) === 2, "10→11 changes once; the midnight 11 is a no-op")
    assert(versions(2L) === 2)
    assert(versions(3L) === 2,
      "same value across the 4-day hole must NOT re-version (sentinel hops empty days)")
    assert(versions(4L) === 3, "tie order by event_id: 40→41→40")
  }

  test("two-level forms equal the one-window forms on the sf corpus") {
    // organic data at sf0.001: every seam the synthetic corpus might
    // have missed (value runs, dense ties) across all users
    val dir = "/root/testdata/sf0.001"
    assert(Sessions.sessionize(spark, dir).collect().toSeq ===
      naiveSessionize(dir).collect().toSeq)
    assert(Dimensional.scd2DimWith(spark, dir, forceTwoLevel = true)
      .collect().toSeq === naiveScd2(dir).collect().toSeq)
    // and the adaptive gate's plain-window route agrees too
    assert(Dimensional.scd2Dim(spark, dir).collect().toSeq ===
      naiveScd2(dir).collect().toSeq)
  }
}
