package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Intervals, Sessions}

/** Interval/sequence operators (SURVEY §2 #154-156): the two-level
  * decompositions proven equal to their single-window forms — on the
  * testdata AND on a 90%-one-key skewed synthetic corpus (the shape
  * the decomposition exists for) — plus closed-form checks on a
  * hand-computed interval set and the transition matrix's row
  * arithmetic. Value-level gates are the DuckDB oracles. */
class IntervalsSpec extends SparkTestBase {
  import spark.implicits._

  private def df(rows: Seq[(Long, String, Long, Long, Long)]) =
    rows.toDF("user_id", "event_type", "event_id", "t_us", "end_us")

  /** 90%-one-key corpus spanning many day blocks: 2000 intervals for
    * user 7 + 200 spread over 20 users, deterministic arithmetic
    * times (no RNG — Date.now/random are banned in harness scripts
    * and unneeded here). */
  private lazy val skewed = df(
    (0 until 2000).map { i =>
      val t = i.toLong * 3601L * 1000000L // ~1/hour, crosses days
      (7L, if (i % 2 == 0) "click" else "view", i.toLong, t,
        t + ((i % 7) + 1) * 1800L * 1000000L)
    } ++ (0 until 200).map { i =>
      val t = i.toLong * 7207L * 1000000L
      ((i % 20).toLong + 100L, "click", 10000L + i, t,
        t + ((i % 5) + 1) * 3600L * 1000000L)
    })

  test("interval merge matches a hand-computed union") {
    // user 1: [0,10] [5,8] [12,25] [20,30] -> merged [0,10],[12,30]
    //   n_raw 4, n_merged 2, covered 10 + 18 = 28
    // user 2: [0,5] [5,7] -> half-open adjacency merges ([0,7])
    val iv = df(Seq((1L, "a", 1L, 0L, 10L), (1L, "a", 2L, 5L, 8L),
      (1L, "a", 3L, 12L, 25L), (1L, "a", 4L, 20L, 30L),
      (2L, "a", 5L, 0L, 5L), (2L, "a", 6L, 5L, 7L)))
    val out = Intervals.mergeStats(iv, twoLevel = true).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) === ((4L, 2L, 28L)))
    assert(out(2L) === ((2L, 1L, 7L)))
  }

  test("two-level interval merge equals the single-window form (skewed)") {
    val a = Intervals.mergeStats(skewed, twoLevel = true).collect().toSeq
    val b = Intervals.mergeStats(skewed, twoLevel = false).collect().toSeq
    assert(a === b)
    // the hot user actually merged something (the corpus exercises it)
    val hot = a.find(_.getLong(0) == 7L).get
    assert(hot.getLong(1) === 2000L && hot.getLong(2) < 2000L)
  }

  /** The single-window form [[Intervals.peakStats]] decomposes: one
    * running sum of the ±1 sweep points per event_type. */
  private def peakStatsOneWindow(iv: DataFrame) = {
    val w = Window.partitionBy("event_type").orderBy(col("t"), col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    iv.select(col("event_type"),
        explode(array(
          struct(col("t_us").as("t"), lit(1).as("d")),
          struct(col("end_us").as("t"), lit(-1).as("d")))).as("pt"))
      .select(col("event_type"), col("pt.t").as("t"), col("pt.d").as("d"))
      .withColumn("run", sum(col("d")).over(w))
      .groupBy("event_type")
      .agg(sum((col("d") === 1).cast("long")).as("n_intervals"),
        max(struct(col("run"), (-col("t")).as("neg_t"))).as("m"))
      .select(col("event_type"), col("n_intervals"),
        col("m.run").as("peak"), (-col("m.neg_t")).as("peak_ts_us"))
      .orderBy("event_type")
  }

  test("two-level concurrency sweep equals the single-window form (skewed)") {
    val a = Intervals.peakStats(skewed).collect().toSeq
    val b = peakStatsOneWindow(skewed).collect().toSeq
    assert(a === b)
    assert(a.forall(_.getLong(2) >= 1L))
  }

  test("concurrency peak matches a hand-computed sweep") {
    // [0,10] [2,5] [4,6] -> 3 concurrent at t=4; [8,12] -> back to 2
    val iv = df(Seq((1L, "a", 1L, 0L, 10L), (2L, "a", 2L, 2L, 5L),
      (3L, "a", 3L, 4L, 6L), (4L, "a", 4L, 8L, 12L),
      // half-open: end at 20 + start at 20 never overlap
      (5L, "b", 5L, 15L, 20L), (6L, "b", 6L, 20L, 25L)))
    val out = Intervals.peakStats(iv).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out("a") === ((4L, 3L, 4L)))
    assert(out("b") === ((2L, 1L, 15L)))
  }

  test("transition matrix rows sum to their from-type total, ppm <= 1e6") {
    val out = Sessions.eventTransitions(spark, SfDir).collect()
    assert(out.nonEmpty)
    val byFrom = out.groupBy(_.getString(0))
    byFrom.foreach { case (_, rows) =>
      val tot = rows.map(_.getLong(2)).sum
      rows.foreach { r =>
        // exact integer ppm: n * 1e6 div total
        assert(r.getLong(3) === r.getLong(2) * 1000000L / tot)
      }
      // floor-division ppm never exceeds 1e6 and the row sums are
      // within |rows| of 1e6 (each floor drops < 1)
      val ppmSum = rows.map(_.getLong(3)).sum
      assert(ppmSum <= 1000000L && ppmSum > 1000000L - rows.length)
    }
  }
}
