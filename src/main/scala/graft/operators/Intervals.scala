package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Interval analytics over the event stream (SURVEY §2 #154-155):
  * per-key union-coverage of overlapping intervals and the
  * sweep-line peak-concurrency curve — the "how busy was the system"
  * pair every ops warehouse serves (machine/session utilization,
  * connection peaks, parallel-download caps).
  *
  * Intervals are derived deterministically from the stream: an event
  * occupies [ts, ts + value minutes), the duration quantized through
  * the exact 6 dp unscaled-long kernel (micros = unscaled6(value)·60)
  * so both engines see identical integer endpoints. All arithmetic is
  * integer micros end-to-end — no floats anywhere.
  *
  * Both operators are TWO-LEVEL (the sessionize/pack_sequences
  * discipline): running prefix state is computed within (key,
  * day-block) and stitched with per-block summaries, so a hot key's
  * sort spreads over as many tasks as days instead of one — the
  * ScaleBench skew kill-test shape. Both are spec-proven equal to
  * their single-window forms.
  */
object Intervals {

  private val DayUs = 86400L * 1000000L

  /** Derived interval set: one per event, [t_us, t_us + 60·⌈value⌉₆). */
  def intervals(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("t_us"),
        (unix_micros(col("ts")) +
          Num.unscaled6(col("value")) * 60).as("end_us"))

  /** #154 Interval union-coverage per user: raw interval count,
    * merged-interval count, and exact union-covered micros.
    *
    * Uses the sorted-by-start identity: with P_i = max end over all
    * earlier intervals of the key, interval i starts a new merged
    * group iff t_i > P_i, and contributes
    * max(0, end_i − max(t_i, P_i)) new covered micros (every earlier
    * interval starts ≤ t_i, so the earlier union restricted to
    * [t_i, ∞) is the contiguous [t_i, P_i] — holes only exist below
    * t_i). No merged-group ids are ever materialized: the whole
    * answer is two running-max reads and one aggregate.
    *
    * P_i is two-level: block-local running max within (user, day)
    * plus a carry — the running max of whole-block maxima over the
    * user's earlier blocks (a ≤|days|-row window) joined back on
    * (user, block). max is associative, so greatest(local, carry)
    * IS the global prefix max — spec-asserted equal to the
    * single-window form. */
  def intervalMerge(spark: SparkSession, dir: String): DataFrame =
    // forms IntervalsSpec-proven equal
    mergeStats(intervals(spark, dir),
      twoLevel = Rank.keyedTwoLevel(spark, dir))

  /** [[intervalMerge]] core, parameterized for the equivalence spec:
    * `twoLevel = false` is the textbook one-window-per-user form. */
  def mergeStats(iv: DataFrame, twoLevel: Boolean): DataFrame = {
    val withP =
      if (twoLevel) {
        val blocked = iv.withColumn("blk", floor(col("t_us") / DayUs))
        val wLoc = Window.partitionBy("user_id", "blk")
          .orderBy(col("t_us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        // whole-block maxima — partial-aggregated map-side, so the
        // carry never sorts a hot user's stream in one task
        val wBlk = Window.partitionBy("user_id").orderBy(col("blk"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val carries = blocked.groupBy("user_id", "blk")
          .agg(max(col("end_us")).as("blk_max"))
          .withColumn("carry", max(col("blk_max")).over(wBlk))
          .select("user_id", "blk", "carry")
        blocked
          .withColumn("p_loc", max(col("end_us")).over(wLoc))
          .join(carries, Seq("user_id", "blk"))
          .withColumn("p", greatest(col("p_loc"), col("carry")))
      } else {
        val w = Window.partitionBy("user_id")
          .orderBy(col("t_us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        iv.withColumn("p", max(col("end_us")).over(w))
      }
    withP
      .withColumn("is_new",
        (col("p").isNull || col("t_us") > col("p")).cast("long"))
      .withColumn("contrib", greatest(
        col("end_us") - greatest(col("t_us"), col("p")), lit(0L)))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_raw"), sum(col("is_new")).as("n_merged"),
        sum(col("contrib")).as("covered_us"))
      .orderBy("user_id")
  }

  /** #155 Peak concurrency per event_type: sweep-line over ±1 points
    * at interval starts/ends (half-open — an end and a start at the
    * same instant never overlap, enforced by the (t, delta) sort
    * putting −1 first), reporting the maximum simultaneous interval
    * count and the FIRST instant it is attained.
    *
    * The running sum is [[Rank.twoLevelPrefixSum]]: block-local
    * running sums within (type, day) plus whole-block delta totals
    * prefix-summed over a ≤|days|-row window. Peak and its first
    * instant come from ONE max-of-struct aggregate ((run, −t) — max
    * run, tie → min t), not a second join-back pass. Prefix values at tied (t, delta) rows are the
    * same multiset under any tie order, so peak and first-instant
    * are deterministic. */
  def concurrencyPeak(spark: SparkSession, dir: String): DataFrame =
    // NO adaptive single-window gate here (round 21, measured): the
    // sweep partitions by EVENT_TYPE — a handful of keys — so the
    // single-window form concentrates the whole corpus into ~5 sort
    // tasks at ANY volume (in-suite 0.56 → 0.72 s when gated). The
    // (type, day)-blocked decomposition is about parallelism, not
    // just hot keys; it stays unconditional.
    peakStats(intervals(spark, dir))

  /** [[concurrencyPeak]] core over an interval set (IntervalsSpec
    * compares it with its own single-window reference). */
  def peakStats(iv: DataFrame): DataFrame = {
    val pts = iv.select(col("event_type"),
        explode(array(
          struct(col("t_us").as("t"), lit(1).as("d")),
          struct(col("end_us").as("t"), lit(-1).as("d")))).as("pt"))
      .select(col("event_type"), col("pt.t").as("t"), col("pt.d").as("d"))
    Rank.twoLevelPrefixSum(pts, Seq("event_type"), floor(col("t") / DayUs),
        Seq(col("t"), col("d")), col("d"), "run_ex", "d_total")
      .withColumn("run", col("run_ex") + col("d"))
      .groupBy("event_type")
      .agg(sum((col("d") === 1).cast("long")).as("n_intervals"),
        max(struct(col("run"), (-col("t")).as("neg_t"))).as("m"))
      .select(col("event_type"), col("n_intervals"),
        col("m.run").as("peak"), (-col("m.neg_t")).as("peak_ts_us"))
      .orderBy("event_type")
  }
}
