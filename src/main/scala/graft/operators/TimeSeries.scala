package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Time-series analytics over the intraday stream (SURVEY.md §2
  * #84-86, #99-100): grid resampling with forward fill, rolling z-score
  * anomaly flags, and a pairwise return-correlation matrix — the
  * quant views a stock dashboard layers on the reference's ticker
  * stream (/root/reference/README.md:23-24) once the raw 2-minute
  * fetches are warehoused.
  *
  * Scale notes (§5): every window partitions by the ticker key (one
  * shuffle, per-key state bounded); the resample grid is
  * |tickers| × |hours| rows — linear in the calendar, not in the
  * event count; the correlation matrix is computed over a DECLARED
  * watchlist (K tickers → K² pairs, broadcast-joined), never over
  * the unbounded key domain.
  */
object TimeSeries {

  private val DayUs = 86400L * 1000000L

  private def purchases(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")

  /** #84 Resample + forward fill: per-ticker hourly price grid from
    * the ticker's first trade hour to the corpus' last, carrying the
    * last observation forward through silent hours — the
    * regular-cadence series every downstream chart/model wants.
    * Hour buckets with ≥1 trade keep the LAST trade (ts, event_id
    * tiebreak); the grid explode is `sequence()` per ticker (linear
    * in hours); the fill is one `last(ignoreNulls)` running window
    * per ticker. */
  def resampleFfill(spark: SparkSession, dir: String): DataFrame = {
    val p = purchases(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        date_trunc("hour", col("ts")).as("hour"))
    // last observation per (ticker, hour), deterministic tiebreak
    val byHour = Window.partitionBy("user_id", "hour")
      .orderBy(col("ts").desc, col("event_id").desc)
    val obs = p.withColumn("rn", row_number().over(byHour))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("hour"), col("value").as("obs_price"))
    // Forward fill WITHOUT materializing the grid through a window:
    // each observation owns the validity range [its hour, next obs
    // hour) — capped by the global last hour — and explodes straight
    // into its covered grid rows, price attached. The windows (lead)
    // run over the OBSERVATION table (rows ≈ active ticker-hours),
    // never over the |tickers| × |hours| output, which exists only as
    // the explode's result. ~3× cheaper than the join+fill-window
    // form at sf0.1, identical output.
    // ranges walk in integer epoch-hours (long sequence + one
    // timestamp_seconds at the end — cheaper per generated row than
    // timestamp+INTERVAL sequence arithmetic)
    val w = Window.partitionBy("user_id").orderBy("hour")
    val ranges = obs
      .crossJoin(broadcast(p.agg(max(col("hour")).as("mh"))
        .select(expr("unix_micros(mh) DIV 3600000000").as("h1"))))
      .withColumn("h", expr("unix_micros(hour) DIV 3600000000"))
      .withColumn("next_h", lead(col("h"), 1).over(w))
      .withColumn("end_h", coalesce(col("next_h") - 1L, col("h1")))
      .select(col("user_id").as("ticker_id"), col("h"),
        col("end_h"), col("obs_price"))
    // Sort the RANGES, not the exploded grid (round 21, guide §8:
    // order the lightweight proxy, move/produce the payload once).
    // A ticker's validity ranges are DISJOINT and h-ordered, so
    // exploding range-sorted rows emits the grid already in the
    // exact (ticker_id, hour) total order the old terminal orderBy
    // produced — same rows, same order, with the ~50×-wider grid
    // never shuffled or sorted. This also fixes a measured AQE
    // parallelism cliff (JobProfile): the pre-explode shuffle is
    // tiny (~344 KB), so AQE coalesced the window+explode stage to
    // ONE task that then generated the whole grid single-threaded;
    // the explicit range repartition of the range rows spreads the
    // explode across the session's cores (defaultParallelism —
    // scale-adaptive, not a local constant).
    ranges
      .repartitionByRange(
        ranges.sparkSession.sparkContext.defaultParallelism,
        col("ticker_id"), col("h"))
      .sortWithinPartitions("ticker_id", "h")
      .select(col("ticker_id"), col("h").as("obs_h"), col("obs_price"),
        explode(sequence(col("h"), col("end_h"))).as("gh"))
      .select(col("ticker_id"),
        timestamp_seconds(col("gh") * 3600L).as("hour"),
        round(col("obs_price"), 6).as("price"),
        (col("gh") === col("obs_h")).cast("long").as("is_observed"))
  }

  /** Rolling stats window: the 20 trades BEFORE the current one. */
  val ZWindow = 20
  /** Minimum history before a z-score is emitted. */
  val ZMinWin = 8
  val ZThreshold = 3.0

  /** #85 Rolling z-score anomaly flags: each trade scored against the
    * mean/std of its ticker's previous [[ZWindow]] trades. The
    * moments come from exact decimal frame sums (Σx, Σx²) — the
    * window evaluates sequentially per key, and the closed-form
    * variance keeps the arithmetic an exact-operand IEEE sequence
    * both engines reproduce bit-identically (vs Welford-style
    * `stddev`, whose accumulation order is engine-private). One
    * shuffle on the ticker key. */
  def anomalyZscore(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // Sliding-frame sums as PREFIX-SUM DIFFERENCES: Spark has no
    // aggregate retraction, so a ROWS [-20,-1] frame re-evaluates all
    // 20 rows per output row (O(rows×frame) inner ops). A running
    // unbounded-preceding frame keeps one accumulator (O(1)/row), and
    // the [-W,-1] frame sum is cum(@-1) − cum(@-W-1) — two O(1) lags
    // on the same sort. Exactness is unchanged: the sums run on
    // unscaled-6dp LONGS (per-key cum |Σu2| ≤ rows/key × 2.3e11 ≈
    // 3e14 at ×50 — four orders of magnitude inside Long even before
    // ANSI would throw), the lag difference of two exact longs is the
    // same integer as the direct frame sum, and exact-long → double →
    // ÷1e6 is the same correctly-rounded rational as the oracle's
    // decimal-sum → double cast. Identical copies of a row (the ×N
    // hardlink corpus ties (ts, event_id)) are exchangeable under any
    // tie-break, exactly as they were for the direct sliding frame.
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def frameSum(cum: Column): Column =
      coalesce(lag(cum, 1).over(w), lit(0L)) -
        coalesce(lag(cum, ZWindow + 1).over(w), lit(0L))
    val scored = purchases(spark, dir)
      // quantize ONCE per row, before the window: a frame-input
      // expression is re-evaluated on every accumulator add, a column
      // reference is a long read
      .withColumn("u1", Num.unscaled6(col("value")))
      .withColumn("u2", Num.unscaled6(col("value") * col("value")))
      // one pass computes all three running aggregates (shared frame)
      .withColumn("c0", count(col("value")).over(run))
      .withColumn("c1", sum(col("u1")).over(run))
      .withColumn("c2", sum(col("u2")).over(run))
      .withColumn("n_win", frameSum(col("c0")))
      .withColumn("s1", frameSum(col("c1")).cast("double") / lit(1e6))
      .withColumn("s2", frameSum(col("c2")).cast("double") / lit(1e6))
      // stats emitted only with ZMinWin+ rows of history: the gate also
      // keeps every division's denominator nonzero in BOTH engines
      // (n_win-1 division by zero is IEEE ±Inf in Spark but NULL in
      // DuckDB — never evaluate it)
      .withColumn("mean_prev",
        when(col("n_win") >= ZMinWin, col("s1") / col("n_win").cast("double")))
      .withColumn("var_prev",
        when(col("n_win") >= ZMinWin,
          (col("s2") - col("s1") * col("s1") / col("n_win").cast("double")) /
            (col("n_win").cast("double") - 1d)))
      .withColumn("std_prev",
        when(col("var_prev") > 0d, sqrt(col("var_prev"))))
      .withColumn("z",
        when(col("std_prev").isNotNull,
          (col("value") - col("mean_prev")) / col("std_prev")))
    scored.select(col("event_id"), col("user_id").as("ticker_id"),
        col("ts"), col("value").as("price"), col("n_win"),
        round(col("mean_prev"), 6).as("mean_prev"),
        round(col("std_prev"), 6).as("std_prev"),
        round(col("z"), 6).as("z"),
        coalesce((abs(col("z")) > ZThreshold).cast("long"), lit(0L))
          .as("is_anomaly"))
      .orderBy("event_id")
  }

  /** #99 Drawdown report: per-ticker running peak over the trade
    * stream, the per-trade drawdown (value-peak)/peak, aggregated to
    * the ticker's max drawdown / peak / last price — the risk metric
    * every stock dashboard carries. One running-max window (O(1)
    * state — unbounded-preceding frames keep a single accumulator,
    * unlike the sliding frames #85 pays for) + one aggregate on the
    * same ticker shuffle. */
  def drawdown(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = purchases(spark, dir)
      .withColumn("peak", max(col("value")).over(w))
      .withColumn("dd", (col("value") - col("peak")) / col("peak"))
    dd.groupBy(col("user_id").as("ticker_id"))
      .agg(round(min(col("dd")), 6).as("max_drawdown"),
        round(max(col("peak")), 6).as("peak_price"),
        max_by(col("value"), struct(col("ts"), col("event_id")))
          .as("last_price"),
        count(lit(1)).as("n_trades"))
      .orderBy("ticker_id")
  }

  /** EWMA decay and the (bounded) number of lags folded in. */
  val EwmaAlpha = 0.8
  val EwmaLags = 10

  /** #100 Exponentially-weighted moving average over the last
    * [[EwmaLags]] trades per ticker. The weights are LITERALS
    * (α^i precomputed once — both engines parse the same shortest
    * round-trip doubles), and the weighted sum folds in fixed lag
    * order, so the result is engine-portable without decimal
    * machinery: a recursive-form EWMA (state row by row) is neither
    * expressible in a window nor portable; the bounded-lag form is
    * both, and α^10 < 11% leaves the truncation below chart
    * resolution. One window shuffle, O(lags) per row. */
  def ewmaSmooth(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val weights = (0 until EwmaLags).map(i => math.pow(EwmaAlpha, i))
    val base = purchases(spark, dir)
    val lagged = weights.indices.foldLeft(base) { (df, i) =>
      // l0 is the row's own value on both sides (DuckDB's lag
      // requires a positive offset; the twin must match literally)
      if (i == 0) df.withColumn("l0", col("value"))
      else df.withColumn(s"l$i", lag(col("value"), i).over(w))
    }
    // numerator / denominator fold in fixed index order (both engines
    // evaluate the same literal-weighted left-to-right sum)
    val num = weights.indices.map(i =>
      coalesce(col(s"l$i") * lit(weights(i)), lit(0d))).reduce(_ + _)
    val den = weights.indices.map(i =>
      when(col(s"l$i").isNotNull, lit(weights(i))).otherwise(lit(0d)))
      .reduce(_ + _)
    lagged.select(col("event_id"), col("user_id").as("ticker_id"),
        col("ts"), col("value").as("price"),
        round(num / den, 6).as("ewma"))
      .orderBy("event_id")
  }

  /** The declared correlation watchlist: pairwise corr is inherently
    * K² in the series count, so K is a config, never "all keys". */
  val CorrWatchlist = 8

  /** #86 Pairwise correlation matrix: Pearson correlation of daily
    * mean prices for each watchlist ticker pair. Daily means are
    * decimal-exact; the Pearson numerator/denominator are assembled
    * from exact pair sums (n, Σx, Σy, Σxy, Σx², Σy²) in closed form,
    * so the double result is engine-portable (built-in `corr` uses
    * engine-private co-moment accumulation). The day-keyed self-join
    * of K daily series is K²·days rows — bounded by the declared
    * watchlist. */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val daily = purchases(spark, dir)
      .filter(col("user_id") < CorrWatchlist)
      .groupBy(col("user_id"), col("ts").cast("date").as("day"))
      .agg(Num.davg(col("value")).as("p"))
    val a = daily.select(col("user_id").as("ticker_a"), col("day"),
      col("p").as("pa"))
    val b = daily.select(col("user_id").as("ticker_b"), col("day"),
      col("p").as("pb"))
    val pairs = a.join(b, Seq("day")).filter(col("ticker_a") < col("ticker_b"))
    val agg = pairs.groupBy("ticker_a", "ticker_b").agg(
      count(lit(1)).as("n_days"),
      Num.dsum(col("pa")).as("sx"), Num.dsum(col("pb")).as("sy"),
      Num.dsum(col("pa") * col("pb")).as("sxy"),
      Num.dsum(col("pa") * col("pa")).as("sxx"),
      Num.dsum(col("pb") * col("pb")).as("syy"))
    val n = col("n_days").cast("double")
    // guard the RADICANDS, not the product: a cancellation-negative
    // radicand makes sqrt() NaN, and Spark orders NaN > 0 while DuckDB
    // follows IEEE (false) — so the guard must run before any sqrt
    val vx = n * col("sxx") - col("sx") * col("sx")
    val vy = n * col("syy") - col("sy") * col("sy")
    agg.select(col("ticker_a"), col("ticker_b"), col("n_days"),
        round(when(vx > 0d && vy > 0d,
          (n * col("sxy") - col("sx") * col("sy")) /
            (sqrt(vx) * sqrt(vy))), 6).as("corr"))
      .orderBy("ticker_a", "ticker_b")
  }

  /** #127 Feed-completeness gap report — the monitoring counterpart
    * of [[resampleFfill]]: instead of FILLING the minute grid, it
    * MEASURES each (ticker, day)'s hole structure, which is what an
    * ingest-operations team alerts on ("ticker 12's feed went dark
    * for 3 hours on Tuesday"). Per (ticker, day): event count,
    * distinct observed minutes, coverage against the 1440-minute
    * grid, and the longest dark run in minutes — leading (before the
    * first event), internal (between consecutive observed minutes),
    * and trailing (after the last event) gaps all count.
    *
    * Scale: one scan → per-minute pre-aggregate (map-side combined,
    * ≤1440 rows per ticker-day), then a lag window whose partitions
    * are BOUNDED at 1440 rows by construction — no hot-key exposure
    * regardless of how skewed the event stream is, the same
    * bounded-window discipline as the two-level rewrites. */
  def gapReport(spark: SparkSession, dir: String): DataFrame = {
    // day/minute as pure INTEGER div/mod on unix_micros (round 17,
    // VERDICT r16 #3-perf): the previous to_date + hour + minute trio
    // ran three calendar decompositions per event row — the scan
    // stage IS this query's cost at scale, so the per-row key
    // derivation matters. The calendar DATE is reconstructed from the
    // epoch day AFTER the minute-grain collapse (≤1440 rows per
    // ticker-day), where it is free. UTC session ⇒ identical values.
    // FLOOR-division semantics (round 18): pmod keeps the remainder
    // non-negative, so pre-1970 timestamps land on the same epoch day
    // and minute-of-day the to_date/hour/minute form produced —
    // `div`/`%` alone truncate toward zero and would shift them.
    // For ts ≥ 0 pmod ≡ %, so the committed corpora hash unchanged.
    val m = Tables.load(spark, dir, "events")
      .select(col("user_id").as("ticker_id"),
        expr(s"(unix_micros(ts) - pmod(unix_micros(ts), $DayUs))" +
          s" div $DayUs").as("d"),
        expr(s"pmod(unix_micros(ts), $DayUs) div 60000000").as("mi"))
      .groupBy("ticker_id", "d", "mi")
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ticker_id", "d").orderBy("mi")
    m.withColumn("gap", col("mi") - lag(col("mi"), 1).over(w) - 1L)
      .groupBy("ticker_id", "d")
      .agg(sum(col("n")).as("n_events"),
        count(lit(1)).as("n_minutes"),
        round(count(lit(1)) / lit(1440.0), 6).as("coverage"),
        greatest(coalesce(max(col("gap")), lit(0L)), min(col("mi")),
          lit(1439L) - max(col("mi"))).as("max_gap_min"))
      .select(col("ticker_id"),
        date_from_unix_date(col("d").cast("int")).as("day"),
        col("n_events"), col("n_minutes"), col("coverage"),
        col("max_gap_min"))
      .orderBy("ticker_id", "day")
  }

  /** #137 Classical seasonal decomposition of the daily revenue
    * series, period 7: trend = centered 7-day moving average (defined
    * only where the window is full), seasonal = the weekday mean of
    * the detrended series, residual = the rest. Arithmetic stays on
    * integers end-to-end: the day's revenue is an exact decimal sum
    * carried as micro-units (×10⁶ long), the 7-day trend sum is a
    * long, and the detrended value is carried as 7·rev_u − trend_sum_u
    * (units of 10⁻⁶/7 — exact, no division until the terminal
    * rounds). Missing calendar days enter as explicit zero-revenue
    * rows (a date spine), so the "centered 7 rows" frame IS "centered
    * 7 calendar days" and weekday alignment never drifts.
    *
    * Scale: the daily series is |calendar| rows regardless of fact
    * size — one exact day-grain aggregate reduces the fact table,
    * everything after is calendar-bound (2.4k rows here, 36.5k rows
    * for a century). The spine explode is one broadcast row. */
  def seasonalDecomp(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,6)")) * 1000000L)
        .cast("long").as("rev_u"))
      // pin: kept by the per-call A/B in CHANGES.md (seasonal_decomp)
      .localCheckpoint()
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val series = spine.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("rev_u"), lit(0L)).as("rev_u"))
    // partitionBy(lit(0)): the daily series is calendar-bounded
    val w = Window.partitionBy(lit(0)).orderBy("day").rowsBetween(-3, 3)
    val trended = series
      .withColumn("trend_sum_u",
        when(count(lit(1)).over(w) === 7, sum(col("rev_u")).over(w)))
      // detrended, exactly, in units of 1e-6/7
      .withColumn("detr_u7", col("rev_u") * 7 - col("trend_sum_u"))
      .withColumn("wd", (dayofweek(col("day")) - 1).cast("long"))
    val seasonal = trended.filter(col("detr_u7").isNotNull)
      .groupBy("wd")
      .agg(round(sum(col("detr_u7")).cast("double") /
        (count(lit(1)) * 7L * 1000000L).cast("double"), 6).as("seasonal"))
    trended.join(seasonal, Seq("wd"), "left")
      .select(col("day"), col("wd"),
        round(col("rev_u").cast("double") / 1e6, 6).as("revenue"),
        round(col("trend_sum_u").cast("double") / 7e6, 6).as("trend"),
        col("seasonal"),
        round(round(col("rev_u").cast("double") / 1e6, 6)
          - round(col("trend_sum_u").cast("double") / 7e6, 6)
          - col("seasonal"), 6).as("residual"))
      .orderBy("day")
  }

  /** #138 Robust outlier screen — median/MAD instead of mean/stddev:
    * one fat-tailed burst inflates a z-score gate until it stops
    * firing (the σ it divides by is the outliers'), while the median
    * absolute deviation barely moves. Two exact grouped medians
    * (the [[Olap.percentiles]] interpolation, already oracle-pinned),
    * with the deviation pass reading the first pass's 5-row result as
    * a broadcast — and the count gate compares against 3·1.4826·MAD,
    * both medians quantized to 6 dp BEFORE thresholding so the
    * boundary is engine-exact.
    *
    * Scale: both grouped medians route through [[Pctl.grouped]]
    * (VERDICT r13 #1) — one-agg exact below the group-size gate,
    * blocked-exact (≤ 2 straddling blocks re-read per group) above
    * it, GK only under degenerate ties; the fact scan runs twice
    * (median, then deviations) — a sketch-based single-pass variant
    * trades that second scan for rank error. */
  def robustOutliers(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("value"))
    // both grouped medians ride Pctl (VERDICT r13 #1): the plain
    // one-agg plan below the group-size gate, blocked-exact above it
    val med = Pctl.grouped(events, Seq("event_type"), col("value"),
        Seq(0.5), Seq("m"),
        Some(Pctl.Site(dir, "events", "robust_med")))
      .select(col("event_type"), round(col("m"), 6).as("med"))
    val dev = events.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = Pctl.grouped(dev, Seq("event_type"), col("dev"),
        Seq(0.5), Seq("m"),
        Some(Pctl.Site(dir, "events", "robust_mad")))
      .select(col("event_type"), round(col("m"), 6).as("mad"))
    // count, med and the outlier tally share ONE pass over dev (the
    // mad gate broadcasts in) — n/med/n_out per group in one agg
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum((col("dev") > lit(3 * 1.4826) * col("mad")).cast("long"))
          .as("n_out"))
      .select(col("event_type"), col("n"), col("med"), col("mad"),
        col("n_out"))
      .orderBy("event_type")
  }

  /** Maximum lag reported by [[autocorr]]. */
  val AcfMaxLag = 7

  /** #177 Autocorrelation function of the daily purchase-revenue
    * series at lags 1..[[AcfMaxLag]] — "does yesterday's revenue
    * predict today's?", the memory diagnostic read before fitting any
    * forecasting model on the stream.
    *
    * Exactness: the series is the per-day exact decimal revenue sum
    * floored to WHOLE currency units (xw = Σ micro-units div 10⁶ —
    * both engines floor the same exact integer, and whole-unit grain
    * keeps the centered cross-products inside decimal(38,0) at any
    * plausible scale, where micro-grain squares would overflow by
    * ~10¹² at 100 TB). Centering without division: c_t = n·xw_t − S
    * (Σc = 0 by construction), acf_l = Σ c_t·c_{t+l} / Σ c_t² — the
    * n² factors cancel, so this IS the standard sample ACF with ONE
    * terminal double division per lag.
    *
    * Scale: corpus-scale work is the day-grain map-side-combined
    * aggregate; everything after runs on ≤|days| rows (calendar-
    * bounded — thousands of rows at ANY corpus size), where the
    * single day-ordered window is a deliberate bounded collapse, not
    * a skew risk. */
  def autocorr(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val days = purchases(spark, dir)
      .groupBy(expr(s"unix_micros(ts) div $dayUs").as("day"))
      .agg(Num.dsumExact(col("value")).as("rev_dec"))
      .select(col("day"),
        expr("cast(rev_dec * 1000000 as decimal(38,0)) div 1000000")
          .as("xw"))
    val n = Window.partitionBy(lit(0))
    val centered = days
      .withColumn("n", count(lit(1)).over(n))
      .withColumn("s", sum(col("xw")).over(n))
      .withColumn("c",
        (col("n") * col("xw") - col("s")).cast("decimal(38,0)"))
    val w = Window.partitionBy(lit(0)).orderBy("day")
    val lagged = centered.select(
      (col("c") * col("c")).cast("decimal(38,0)").as("den_term") +:
        (1 to AcfMaxLag).map(l =>
          (col("c") * lag(col("c"), l).over(w)).cast("decimal(38,0)")
            .as(s"num_$l")): _*)
    val lags = (1 to AcfMaxLag).map(l =>
      s"${l}L, num_$l").mkString(s"stack($AcfMaxLag, ", ", ", ")")
    lagged
      .select(col("den_term"), expr(lags).as(Seq("lag", "num_term")))
      .groupBy("lag")
      .agg(sum(col("den_term")).as("den"),
        sum(col("num_term")).as("num"),
        count(col("num_term")).as("n_pairs"))
      .select(col("lag"), col("n_pairs"),
        round(col("num").cast("double") / col("den").cast("double"), 6)
          .as("acf"))
      .orderBy("lag")
  }

  /** #185 CUSUM changepoint alerts per stream key — the sequential
    * drift detector beside the windowed screens (#85 z-score reacts
    * to one spike, #148 PSI to a distribution move; CUSUM
    * accumulates SMALL persistent shifts until they cross a
    * threshold, the classic "slow leak" detector).
    *
    * Signal: each user's daily event count vs their own mean.
    * Everything rides the n-scaled INTEGER recurrence
    * S_t = max(0, S_{t−1} + (n·c_t − T) − T div 4), alert when
    * S_t > T (with T = Σc the user's total and n their observed-day
    * count, n·c_t − T is the mean-centered deviation scaled by n —
    * no division anywhere, so the fold is bit-exact on any engine).
    *
    * Scale: corpus-scale work is the (user, day)-grain map-side
    * count; the recurrence is inherently sequential but its domain
    * is ≤|days| rows per user (calendar-bounded by construction), so
    * it folds over one bounded sorted array per user — a Catalyst
    * `aggregate` HOF on ≤|days| elements, the same bounded-collect
    * contract as #161's paths. Never a window over raw events. */
  def cusumAlerts(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val perDay = Tables.load(spark, dir, "events")
      .groupBy(col("user_id"),
        expr(s"unix_micros(ts) div $dayUs").as("day"))
      .agg(count(lit(1)).as("cnt"))
    perDay.groupBy("user_id")
      .agg(count(lit(1)).as("n_days"), sum(col("cnt")).as("total"),
        sort_array(collect_list(struct(col("day"), col("cnt"))))
          .as("days"))
      .withColumn("acc", expr(
        """aggregate(
          |  days,
          |  struct(0L as s, 0L as mx, 0L as n_alerts,
          |         cast(null as bigint) as first_day),
          |  (a, e) -> named_struct(
          |    's', greatest(0L, a.s + (n_days * e.cnt - total)
          |                       - (total div 4)),
          |    'mx', greatest(a.mx,
          |      greatest(0L, a.s + (n_days * e.cnt - total)
          |                       - (total div 4))),
          |    'n_alerts', a.n_alerts +
          |      if(greatest(0L, a.s + (n_days * e.cnt - total)
          |                       - (total div 4)) > total, 1L, 0L),
          |    'first_day', coalesce(a.first_day,
          |      if(greatest(0L, a.s + (n_days * e.cnt - total)
          |                       - (total div 4)) > total,
          |         e.day, cast(null as bigint)))))""".stripMargin))
      .select(col("user_id"), col("n_days"), col("total"),
        col("acc.mx").as("max_cusum"),
        col("acc.n_alerts").as("n_alerts"),
        col("acc.first_day").as("first_alert_day"))
      .orderBy("user_id")
  }
}
