package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Event-sequence operators (SURVEY.md §2 #41-43): gap-based
  * sessionization, per-key lag/moving-window derivations (the
  * dashboard's "price change" view over the reference's intraday
  * stream, /root/reference/README.md:23-24), and a bounded-interval
  * range join.
  *
  * Scale notes (§5): every window partitions by the entity key —
  * one shuffle, state bounded per key; the range join is an
  * equi-join on the key with the interval as a post-join predicate,
  * so there is no inequality-only join (which would plan as a
  * broadcast nested loop at any scale).
  */
object Sessions {

  val SessionGapMinutes = 30

  /** Per-session rows of the events stream — one core for
    * [[sessionize]] and [[sessionEntryExit]]: each user's stream split
    * on >30 min silence, as (user_id, sess_id, sess_start, sess_end,
    * n_events, sum_dec — the exact decimal value sum, fst/lst — the
    * first/last (us, event_id, event_type) of the session). Columns a
    * caller does not read are pruned from both aggregates by Catalyst.
    *
    * TWO-LEVEL form, not one per-user window. The classic
    * single-window version (lag → boundary flag → running sum over
    * `partitionBy(user_id)`) sorts each user's entire stream in ONE
    * task — the ScaleBench skew kill-test measured it 20× slower on
    * a 90%-one-key ×200 corpus (60 s vs 3 s uniform), the exact
    * failure a hot entity causes at 100 TB. Instead:
    *
    *  1. Events are windowed within (user, day-block): blocks are
    *     time-disjoint, so a hot user's sort spreads over as many
    *     tasks as days. Local sessions (maximal ≤30-min-gap chains
    *     within the block) are aggregated to ONE ROW each — min/max
    *     ts, count, the exact value sum and the first/last event
    *     structs, all mergeable.
    *  2. A second window over the per-user SESSION rows (orders of
    *     magnitude fewer — a chain that spans a block boundary can
    *     only be the block's first/last local session) merges chains
    *     whose cross-boundary gap is ≤ 30 min and renumbers sess_id
    *     by session start. A day-long block >> the 30-min gap means a
    *     session spans a boundary iff the adjacent local sessions
    *     merge — the block-local maximality is preserved globally.
    *
    * Bit-identical to the one-window form (`twoLevel = false`, taken
    * at or below the keyed-window gate, where the block assembly's
    * second window + regroup cost more than they save;
    * SessionTwoLevelSpec-proven): block boundaries respect the
    * (ts, event_id) order, decimal partial sums re-sum exactly,
    * (us, event_id, …) structs order like the events, and session
    * starts are strictly increasing per user (sessions are >gap
    * apart), so the renumbering matches the running-sum ids. */
  private def sessions(spark: SparkSession, dir: String,
      twoLevel: Boolean): DataFrame = {
    val gapUs = SessionGapMinutes * 60L * 1000000L
    val blockUs = 86400L * 1000000L // 1 day >> gap
    val ev = Tables.load(spark, dir, "events")
      .withColumn("us", unix_micros(col("ts")))
    // running count of >gap boundaries in (ts, event_id) order
    def numbered(df: DataFrame, part: Seq[String], name: String) = {
      val w = Window.partitionBy(part.map(col): _*)
        .orderBy(col("ts"), col("event_id"))
      df.withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn(name, sum(when(col("prev_us").isNull ||
            col("us") - col("prev_us") > gapUs, 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }
    val fst = min(struct(col("us"), col("event_id"), col("event_type")))
    val lst = max(struct(col("us"), col("event_id"), col("event_type")))
    if (twoLevel) {
      // same (user, block) clustering — no extra shuffle for this agg
      val local = numbered(ev.withColumn("block", floor(col("us") / blockUs)),
          Seq("user_id", "block"), "lsess")
        .groupBy("user_id", "block", "lsess")
        .agg(min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"),
          min(col("us")).as("start_us"), max(col("us")).as("end_us"),
          count(lit(1)).as("n_events"),
          // 128-bit exact partial (same kernel as salted phase-1
          // aggregates): block-local sums are unbounded by design
          Num.dsumExact(col("value")).as("sum_dec"),
          fst.as("fst"), lst.as("lst"))
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("start_us"), col("lsess"))
      local
        .withColumn("prev_end", lag(col("end_us"), 1).over(byUser))
        .withColumn("sess_id", sum(when(col("prev_end").isNull ||
            col("start_us") - col("prev_end") > gapUs, 1L).otherwise(0L))
          .over(byUser.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .groupBy("user_id", "sess_id")
        .agg(min(col("sess_start")).as("sess_start"),
          max(col("sess_end")).as("sess_end"),
          sum(col("n_events")).as("n_events"),
          sum(col("sum_dec")).as("sum_dec"),
          min(col("fst")).as("fst"), max(col("lst")).as("lst"))
    } else
      numbered(ev, Seq("user_id"), "sess_id")
        .groupBy("user_id", "sess_id")
        .agg(min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"),
          count(lit(1)).as("n_events"),
          Num.dsumExact(col("value")).as("sum_dec"),
          fst.as("fst"), lst.as("lst"))
  }

  /** #41 Sessionization: split each user's event stream on >30 min
    * silence, one output row per session (the [[sessions]] core). */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionizeImpl(spark, dir, twoLevel = Rank.keyedTwoLevel(spark, dir))

  private[graft] def sessionizeImpl(spark: SparkSession, dir: String,
      twoLevel: Boolean): DataFrame =
    sessions(spark, dir, twoLevel)
      .select(col("user_id"), col("sess_id"), col("sess_start"),
        col("sess_end"), col("n_events"),
        col("sum_dec").cast("double").as("sum_value"))
      .orderBy("user_id", "sess_id")

  /** #42 Per-key lag + moving window: previous price, absolute and
    * percent change, and a 3-row moving average per ticker over the
    * purchase stream — the "how is the stock moving" dashboard
    * columns. Rounded: both engines run the same IEEE ops in the
    * same order, rounding guards the last bit. */
  def windowLag(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .withColumn("prev_price", lag(col("value"), 1).over(byUser))
      .withColumn("ma3", avg(col("value")).over(byUser.rowsBetween(-2, 0)))
      .select(col("event_id"), col("user_id").as("ticker_id"), col("ts"),
        col("value").as("price"),
        round(col("prev_price"), 6).as("prev_price"),
        round(col("value") - col("prev_price"), 6).as("price_change"),
        round(when(col("prev_price") =!= 0d,
          (col("value") - col("prev_price")) / col("prev_price")), 6)
          .as("pct_change"),
        round(col("ma3"), 6).as("ma3"))
      .orderBy("event_id")
  }

  /** #43 Range join: each click joined to the same user's purchases
    * in the preceding hour (count + value sum; left join keeps
    * zero-purchase clicks). Planned as an equi-join on user_id with
    * the time interval filtered post-join — per-user row counts
    * bound the pair blow-up, and the shuffle key is the user, never
    * an unbounded inequality. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
          col("p_ts") <= col("ts"),
        "left")
      .groupBy("event_id", "user_id", "ts")
      // count matched ROWS via the join key (non-null iff matched) —
      // counting p_value would silently exclude null-valued purchases
      .agg(count(col("p_user")).as("n_purch"),
        Num.dsum(col("p_value")).as("sum_purch"))
      .orderBy("event_id")
  }

  /** #156 Event-transition matrix (first-order Markov view of the
    * clickstream): per-user WITHIN-DAY adjacent event-type pairs,
    * counted per (from, to) with the transition probability as exact
    * parts-per-million (integer `n·10⁶ div row-total` — never a float
    * divide, so the matrix is bit-identical on any engine).
    *
    * Day-blocked by DEFINITION (a transition is two events in the
    * same session day — overnight adjacency is noise, the gap_report
    * family's contract), which also makes every lag window partition
    * (user, day)-bounded: no hot user ever sorts its whole history in
    * one task, the sessionize/skew lesson applied at the semantic
    * level. Output is |types|² rows at any corpus size. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "blk")
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables.load(spark, dir, "events")
      .withColumn("blk", floor(unix_micros(col("ts")) / (86400L * 1000000L)))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
    val counts = pairs.groupBy(col("from_type"),
        col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("p_ppm", expr("n * 1000000L div sum(n) over " +
        "(partition by from_type)"))
      .select("from_type", "to_type", "n", "p_ppm")
      .orderBy("from_type", "to_type")
  }

  /** #161 Top session paths (sequence mining, the full-journey twin
    * of #156's pair matrix): each (user, day)'s first 8 event types
    * in (ts, event_id) order joined into a path string, counted
    * corpus-wide, top-20 with a deterministic (count desc, path asc)
    * order.
    *
    * The per-journey sequence is ONE collect_list + array_sort at
    * (user, day) grain — bounded at 1440 events by the data contract
    * (never a whole-history window), then a path-grain hash aggregate
    * and a TakeOrdered top-k. Day-blocking is semantic, as in #156:
    * a journey is a day's activity. */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val paths = Tables.load(spark, dir, "events")
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("blk", floor(col("us") / (86400L * 1000000L)))
      .groupBy("user_id", "blk")
      .agg(collect_list(
        struct(col("us"), col("event_id"), col("event_type"))).as("evs"))
      .select(concat_ws(">", transform(
        slice(array_sort(col("evs")), 1, 8),
        e => e.getField("event_type"))).as("path"))
    // partitionBy(lit(0)): runs over the 20 survivors only
    val w = Window.partitionBy(lit(0))
      .orderBy(col("n").desc, col("path").asc)
    paths.groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc).limit(20)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select("rnk", "path", "n")
      .orderBy("rnk")
  }

  /** #182 Session entry/exit matrix — "where do sessions start, where
    * do they die": per (first event type, last event type) the
    * session count, single-event bounce count, and total events.
    * The landing/exit-page report product analytics serves beside
    * the #161 path mining and the #88 funnel.
    *
    * Reads the [[sessions]] core; entry/exit ride its merge as
    * min/max of (us, event_id, event_type) structs, whose
    * lexicographic order IS the session's event order (event_id
    * breaks ts ties), so no second pass over the events. Output is
    * ≤|types|² rows at any scale. */
  def sessionEntryExit(spark: SparkSession, dir: String): DataFrame =
    sessionEntryExitImpl(spark, dir, twoLevel = Rank.keyedTwoLevel(spark, dir))

  private[graft] def sessionEntryExitImpl(spark: SparkSession, dir: String,
      twoLevel: Boolean): DataFrame =
    sessions(spark, dir, twoLevel)
      .select(col("fst.event_type").as("entry_type"),
        col("lst.event_type").as("exit_type"), col("n_events"))
      .groupBy("entry_type", "exit_type")
      .agg(count(lit(1)).as("n_sessions"),
        sum((col("n_events") === 1L).cast("long")).as("n_bounces"),
        sum(col("n_events")).as("total_events"))
      .orderBy("entry_type", "exit_type")
}
