package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.{ShardedReader, Tables}
import graft.sinks.AppendSink

/** The reference pipeline's data surface (SURVEY.md §2 #1-10),
  * re-expressed over the driver testdata per the §3 mapping:
  * `events` ≙ the intraday ticker stream (ts≙Time, user_id≙Ticker,
  * value≙Price), `customer`/`orders`/`lineitem` ≙ the fundamentals
  * behind the financial-ratio / financial-statement tables.
  */
object StockOps {

  /** #5 Intraday snapshot projection — Time/Ticker/Price/Volume
    * (/root/reference/dags/stock_data_to_gcp.py:43-47). `volume` maps
    * to the only other per-event magnitude in the testdata
    * (props payload size); the projection+filter is the point: it
    * must reach the parquet scan (PushedFilters/ReadSchema). */
  def snapshotProjection(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(
        col("ts").as("snap_time"),
        col("user_id").as("ticker_id"),
        col("value").as("price"),
        length(col("props")).cast("long").as("volume"),
        col("event_id"))
      // event_id makes the order total (two purchases can tie on all
      // four payload columns); it is sorted on, then projected away.
      .orderBy("snap_time", "ticker_id", "price", "volume", "event_id")
      .drop("event_id")

  /** #6 Latest-value-per-key — the reference's `currentPrice`
    * semantics (stock_data_to_gcp.py:47). A max-of-struct hash
    * aggregate, NOT a row_number window: struct comparison is
    * field-lexicographic, so max(struct(ts, event_id, value)) is
    * exactly "latest ts, event_id tiebreak" — with map-side partial
    * aggregation each task collapses every key to ONE row before the
    * shuffle, so a 90%-one-key corpus moves |keys| rows instead of
    * sorting the hot key's stream in a single task (the window form's
    * failure mode), and the per-key sort disappears entirely. */
  def latestPerKey(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id").as("ticker_id"), col("m.ts").as("latest_ts"),
        col("m.value").as("latest_price"))
      .orderBy("ticker_id")

  /** #7 Financial-ratio table (financial_ratio_to_gcp.py:43-47):
    * per-key derived ratios. Decimal-exact sums; double divisions. */
  def finRatio(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val ord = Tables.load(spark, dir, "orders")
    val spend = ord.groupBy("o_custkey").agg(
      count(lit(1)).as("order_cnt"),
      Num.dsum(col("o_totalprice")).as("total_spend"))
    cust.join(spend, cust("c_custkey") === spend("o_custkey"), "inner")
      .select(
        col("c_custkey").as("ticker_id"),
        col("order_cnt"),
        col("total_spend"),
        (col("total_spend") / col("order_cnt").cast("double"))
          .as("avg_order_value"),
        when(col("c_acctbal") =!= 0d, col("total_spend") / col("c_acctbal"))
          .as("spend_to_balance"))
      .orderBy("ticker_id")
  }

  /** #8 Financial-statement wide aggregate table
    * (financial_statement_to_gcp.py:43-47): many exact sums per key
    * in one shuffle (single groupBy → map-side partials). */
  def finStatement(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    // Pre-aggregate lineitem per order (additive partials), then join
    // the 4×-smaller partial table to orders and roll up per customer
    // — order_cnt becomes an exact count of pre-collapsed rows.
    // Both aggregation levels stay on the codegen'd fixed-width
    // hash-agg path: per-order partials are built-in long sums of the
    // 6-dp unscaled values (an order has bounded lines, so the long
    // cannot overflow — and ANSI would fail loudly, not truncate),
    // and the per-customer rollup re-sums those longs with the
    // 128-bit DecimalSum128 (exact at any number of orders). Value
    // parity with the old decimal(28,6) two-level sum is exact: both
    // compute Σ round6(row value) with no intermediate rounding.
    val liAgg = Tables.load(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(
        sum(Num.unscaled6(col("l_extendedprice") * (lit(1d) - col("l_discount"))))
          .as("rev_part"),
        sum(Num.unscaled6(col("l_extendedprice") * col("l_tax")))
          .as("tax_part"),
        sum(Num.unscaled6(col("l_quantity"))).as("qty_part"),
        count(lit(1)).as("line_part"))
    liAgg.join(ord, liAgg("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("o_custkey").as("ticker_id"))
      .agg(
        Num.dsumUnscaled(col("rev_part")).as("total_revenue"),
        Num.dsumUnscaled(col("tax_part")).as("total_tax"),
        Num.dsumUnscaled(col("qty_part")).as("total_qty"),
        sum(col("line_part")).as("line_cnt"),
        count(lit(1)).as("order_cnt"))
      .orderBy("ticker_id")
  }

  /** #9 News table with locale date parsing: the reference parses
    * `"%B %d, %Y"` strings (news_data_to_gcp.py:59). We round-trip
    * event times through that exact format — format then parse with
    * `MMMM d, yyyy` — proving the locale date path. */
  def newsDateParse(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(
        col("event_id"),
        col("ts").as("collected_at"),
        to_date(date_format(col("ts"), "MMMM d, yyyy"), "MMMM d, yyyy")
          .as("news_date"),
        col("user_id").as("ticker_id"),
        col("event_type").as("title"),
        col("value").as("price"))
      .orderBy("event_id")

  /** #10 Scheduled incremental batch: the 2-minute-cadence DAG
    * (stock_data_to_gcp.py:85-91) as one idempotent batch — a fixed
    * event-time window, id-deduped, rolled up hourly. The window
    * predicate is applied to the stored `ts` via
    * [[Tables.loadEventsRange]] so it reaches the parquet scan
    * (row-group pruning — the difference between reading one day and
    * the whole table at 100 TB); dedupe is one shuffle on the id. */
  def incrementalBatch(spark: SparkSession, dir: String): DataFrame =
    Tables.loadEventsRange(spark, dir,
        "2024-01-01 00:00:00", "2024-01-02 00:00:00")
      // deterministic dedupe: keep the MINIMUM (ts, value) row per id
      // — dropDuplicates keeps an arbitrary one, so if a replayed id
      // ever carried a diverging payload the aggregate would become
      // partition-order-dependent (and disagree with the oracle)
      .groupBy("event_id")
      .agg(min(struct(col("ts"), col("value"))).as("r"))
      .groupBy(date_trunc("hour", col("r.ts")).as("batch_hour"))
      .agg(count(lit(1)).as("n_events"),
        Num.dsum(col("r.value")).as("sum_value"))
      .orderBy("batch_hour")

  /** #61 VWAP — volume-weighted average price per ticker per day
    * (volume ≙ props payload size, per the §3 mapping): the standard
    * intraday summary the reference's dashboard charts. Decimal-exact
    * numerator/denominator sums, divided in double → deterministic at
    * any partitioning. */
  def vwap(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      // project the volume once: three aggregates consume it, and an
      // explicit column guarantees one length() eval per row
      .select(col("user_id"), col("ts"), col("value"),
        length(col("props")).as("len"))
      .groupBy(col("user_id").as("ticker_id"),
        to_date(col("ts")).as("day"))
      .agg(
        Num.dsum(col("value") * col("len")).as("pv"),
        Num.dsum(col("value")).as("sum_price"),
        sum(col("len").cast("long")).as("total_volume"),
        count(lit(1)).as("n_trades"))
      // the denominator Σlen is an exact integer, so dividing by the
      // long sum (cast) is bit-identical to the decimal-sum form the
      // oracle writes — one fewer decimal aggregate buffer per group.
      // Exactness bound: Σlen per (ticker, day) < 2^53, comfortably
      // true at any realistic fill (lengths ≤ ~1e3, rows/group ≤ ~1e9)
      .select(col("ticker_id"), col("day"),
        (col("pv") / col("total_volume").cast("double")).as("vwap"),
        col("sum_price"), col("total_volume"), col("n_trades"))
      .orderBy("ticker_id", "day")

  /** #62 OHLC candlestick bars per ticker per day — open/close via
    * min_by/max_by on a zero-padded (ts, event_id) sort key (total
    * order even under timestamp ties), high/low/volume as plain
    * aggregates. One shuffle on the bar key. */
  def ohlcBars(spark: SparkSession, dir: String): DataFrame = {
    // numeric composite key: (micros, event_id) struct ordering is
    // lexicographic — identical to the padded-string ordering both
    // sides previously built, with no per-row long→string
    // conversions, padding, or 40-byte concat garbage. Domain:
    // non-negative ids and post-1970 timestamps, as everywhere in
    // this warehouse.
    val sortKey = struct(unix_micros(col("ts")).as("t"),
      col("event_id").as("i"))
    Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .withColumn("sk", sortKey)
      .groupBy(col("user_id").as("ticker_id"), to_date(col("ts")).as("day"))
      .agg(
        min_by(col("value"), col("sk")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("sk")).as("close"),
        count(lit(1)).as("n_trades"))
      .orderBy("ticker_id", "day")
  }

  /** #60 Data-quality checks: declarative rule → violation-count
    * report over an ingest batch (null keys, duplicate ids, domain
    * membership, value ranges, timestamp bounds) — the contract gate
    * a warehouse load runs before appending. One scan computes every
    * per-row rule as a conditional sum; the duplicate-id rule adds
    * one distinct aggregate. Violations counted, never silently
    * dropped (same philosophy as the ingest quarantines, #33/#57). */
  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val agg = ev.agg(
      sum(when(col("event_id").isNull, 1L).otherwise(0L)).as("null_id"),
      // count(col), not count(*): both sides must exclude nulls or
      // every null id is double-reported as a phantom duplicate
      (count(col("event_id")) - countDistinct(col("event_id"))).as("dup_id"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user"),
      sum(when(!col("event_type").isin(Olap.EventTypes: _*), 1L)
        .otherwise(0L)).as("bad_type"),
      sum(when(col("value") < 0d || col("value").isNull, 1L).otherwise(0L))
        .as("bad_value"),
      sum(when(col("ts") < lit("2024-01-01 00:00:00") ||
        col("ts") >= lit("2025-01-01 00:00:00") || col("ts").isNull, 1L)
        .otherwise(0L)).as("bad_ts"))
    agg.select(expr(
      """stack(6,
        |  'bad_ts', bad_ts, 'bad_type', bad_type, 'bad_value', bad_value,
        |  'dup_id', dup_id, 'null_id', null_id, 'null_user', null_user)
        |  AS (rule, n_violations)""".stripMargin))
      .orderBy("rule")
  }

  /** #46 Schema'd JSON payload extraction: the event `props` column
    * is a JSON document; `from_json` with an explicit schema (never
    * schema inference — a 100 TB discovery pass) projects it to typed
    * columns at the scan, then a normal aggregate runs over the
    * extracted field. The reference's news DAG does exactly this
    * shape in pandas (nested payload → typed columns,
    * news_data_to_gcp.py:45-69). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** #47 MERGE-style upsert, expressed Spark-first as latest-per-key
    * states full-outer-joined with coalesce — the classic warehouse
    * MERGE INTO (update-if-match, insert-if-new) without a table
    * format's transaction layer. Both sides collapse to one row per
    * key BEFORE the join (map-side-friendly window), so the join
    * moves one row per key, not per event. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    // same max-of-struct collapse as latestPerKey: skew-immune
    // map-side partials, no per-key sort
    def latest(df: DataFrame) = df
      .groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("m.ts").as("ts"), col("m.value").as("value"))
    // Both sides load through the range reader so the time window
    // prunes at the parquet scan — the base is a bounded history, the
    // update one day.
    val base = latest(Tables.loadEventsRange(spark, dir,
        until = "2024-01-04 00:00:00"))
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"),
        col("value").as("b_value"))
    val upd = latest(Tables.loadEventsRange(spark, dir,
        "2024-01-04 00:00:00", "2024-01-05 00:00:00"))
      .select(col("user_id").as("u_user"), col("ts").as("u_ts"),
        col("value").as("u_value"))
    base.join(upd, col("b_user") === col("u_user"), "full_outer")
      .select(
        coalesce(col("b_user"), col("u_user")).as("user_id"),
        coalesce(col("u_ts"), col("b_ts")).as("latest_ts"),
        coalesce(col("u_value"), col("b_value")).as("latest_price"),
        when(col("b_user").isNull, "inserted")
          .when(col("u_user").isNull, "unchanged")
          .otherwise("updated").as("merge_status"))
      .orderBy("user_id")
  }

  /** #1 Schema'd typed ingest: explicit file schema + warehouse-style
    * cast coercion (Volume declared FLOAT in the reference's
    * schema_fields, stock_data_to_gcp.py:128-133). */
  def ingestTyped(spark: SparkSession, dir: String): DataFrame =
    Tables.coerce(Tables.load(spark, dir, "events"),
      Map("user_id" -> org.apache.spark.sql.types.DoubleType))
      .select(col("event_id"), col("ts"), col("user_id").as("ticker_fl"),
        col("event_type"), col("value"))
      .orderBy("event_id")

  /** #2+#3 Range-shard the fact table into 5 shards and union them
    * back — row-preserving (proved by exact aggregate). */
  def shardUnion(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val shards = ShardedReader.rangeShards(li, "l_orderkey", 5)
    ShardedReader.unionShards(shards)
      .agg(count(lit(1)).as("n_rows"),
        Num.dsum(col("l_quantity")).as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
  }

  /** #4 Append + idempotent replay round-trip: write one scheduled
    * batch (a single day, like the reference's per-run slice) twice
    * via dynamic partition overwrite, read back, prove the replay did
    * not duplicate (oracle aggregates the source once). A replay
    * rewrites only the partitions present in the batch — at 100 TB a
    * re-run day swaps one partition, never the table. */
  def appendRoundtrip(spark: SparkSession, dir: String): DataFrame =
    graft.sources.StagePath.scratch(spark, "append") { out =>
      val batch = Tables.loadEventsRange(spark, dir,
          "2024-01-01 00:00:00", "2024-01-02 00:00:00")
        .withColumn("batch_date", to_date(col("ts")))
      AppendSink.idempotentAppend(batch, out, Seq("batch_date"))
      AppendSink.idempotentAppend(batch, out, Seq("batch_date")) // replay
      AppendSink.readBack(spark, out)
        .groupBy("batch_date")
        .agg(count(lit(1)).as("n_events"), Num.dsum(col("value")).as("sum_value"))
        .orderBy("batch_date")
    }

  /** #129 Realized volatility per (ticker, day) from minute-bar
    * closes — the risk metric a market-data warehouse serves next to
    * OHLC. Semantics chosen for cross-engine exactness: SIMPLE
    * returns (pure arithmetic — log returns would hinge on libm's
    * last ulp), quantized to integer MICRO-RETURNS
    * k = round(r·10⁶), so the sum of squares is EXACT integer/
    * decimal arithmetic — partition-order independent, like every
    * aggregate here — and rv = √(Σk²)/10⁶ rounds once at the end.
    *
    * Scale: minute-close pre-aggregate is a max-of-struct hash agg
    * (map-side combined, skew-immune — the latestPerKey shape); the
    * return lag window partitions are bounded at 1440 rows by
    * construction. k² rides decimal(38,0) so a 10⁴× price move
    * cannot overflow a long. */
  def realizedVol(spark: SparkSession, dir: String): DataFrame = {
    val bars = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("ticker_id"),
        to_date(col("ts")).as("day"),
        (hour(col("ts")) * 60 + minute(col("ts"))).cast("long").as("mi"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
      .select(col("ticker_id"), col("day"), col("mi"),
        col("m.value").as("c"))
    val w = Window.partitionBy("ticker_id", "day").orderBy("mi")
    // NULLIF guard: a return FROM a zero price is undefined — the bar
    // drops out of the sum (ANSI division would throw; silently
    // producing ±Inf would poison the whole day's rv)
    val prev = nullif(lag(col("c"), 1).over(w), lit(0.0))
    val k = round((col("c") - prev) / prev * lit(1000000.0), 0)
      .cast("long")
    bars.withColumn("k", k)
      .groupBy("ticker_id", "day")
      .agg(count(col("k")).as("n_rets"),
        sum(col("k").cast("decimal(19,0)") * col("k")).as("sk2"))
      .select(col("ticker_id"), col("day"), col("n_rets"),
        round(sqrt(col("sk2").cast("double")) / lit(1000000.0), 6)
          .as("rv"))
      .orderBy("ticker_id", "day")
  }

  /** #132 Market-model beta per (ticker, day) — the systematic-risk
    * slope a market warehouse serves next to realized vol. Minute
    * micro-returns k ride the exact [[realizedVol]] quantization; the
    * index return kM for a minute is the SUM of that minute's k across
    * all tickers (an unnormalized equal-dollar index — the scale
    * constant cancels nowhere, so it is part of the metric's
    * definition and both engines compute the same integer). Beta is
    * the ratio of two exact decimal sums, Σ(ki·kM) / Σ(kM²), taken
    * over exactly the minutes where THIS ticker has a return — one
    * terminal round(…, 6), no float accumulation anywhere.
    *
    * Scale: bars/returns are the realizedVol shapes (bounded 1440-row
    * day windows); the index table is |active minutes| rows,
    * shuffle-keyed on (day, mi); the join back is fact⋈fact on the
    * same (day, mi) key — at 100 TB both sides are minute-grained
    * aggregates, orders of magnitude below the event stream. */
  def rollingBeta(spark: SparkSession, dir: String): DataFrame = {
    val bars = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("ticker_id"),
        to_date(col("ts")).as("day"),
        (hour(col("ts")) * 60 + minute(col("ts"))).cast("long").as("mi"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
      .select(col("ticker_id"), col("day"), col("mi"),
        col("m.value").as("c"))
    val w = Window.partitionBy("ticker_id", "day").orderBy("mi")
    val prev = nullif(lag(col("c"), 1).over(w), lit(0.0))
    val rets = bars
      .withColumn("k",
        round((col("c") - prev) / prev * lit(1000000.0), 0).cast("long"))
      .filter(col("k").isNotNull)
      .select("ticker_id", "day", "mi", "k")
    // unnormalized index micro-return: Σ k over tickers, per minute —
    // a whole-partition window on (day, mi), NOT a groupBy+join-back:
    // the join form re-runs the bar/return chain for the index branch
    // (two scans of the event stream + a broadcast), the window is one
    // extra exchange over the already-minute-grained return rows
    val wIx = Window.partitionBy("day", "mi")
    rets.withColumn("km", sum(col("k")).over(wIx))
      .groupBy("ticker_id", "day")
      .agg(count(lit(1)).as("n_obs"),
        sum(col("k").cast("decimal(38,0)") * col("km")).as("skm"),
        sum(col("km").cast("decimal(38,0)") * col("km")).as("skk"))
      .select(col("ticker_id"), col("day"), col("n_obs"),
        round(col("skm").cast("double") /
          nullif(col("skk").cast("double"), lit(0.0)), 6).as("beta"))
      .orderBy("ticker_id", "day")
  }

  /** #147 Trending activity — each day's per-stream event count
    * against the stream's own trailing-7-observed-day baseline:
    * score = cnt · 7 / sum_prev (an exact integer ratio, one terminal
    * round — NOT cnt/avg in floats). The anomaly family's "what is
    * unusually hot today" report (vs #85's z-score and #138's MAD
    * screen, which flag unusual VALUES). Noise-gated at
    * [[TrendMinCount]] events and a full 7-row baseline. The key is
    * the stream (event_type here; ticker/source/domain in a denser
    * feed — the grain is a parameter of the shape, not the plan).
    *
    * Scale: day-grain pre-aggregate (map-side combine — the fact scan
    * collapses to |keys|·|days| rows), then bounded ≤7-row lag
    * windows per key — the gap_report shape; top-20 via TakeOrdered. */
  def trendingActivity(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-7, -1)
    daily
      .withColumn("sum_prev", sum(col("cnt")).over(w))
      .withColumn("n_prev", count(col("cnt")).over(w))
      .filter(col("n_prev") === 7 && col("cnt") >= TrendMinCount &&
        col("sum_prev") > 0)
      .select(col("event_type"), col("day"), col("cnt"),
        col("sum_prev"), round(col("cnt") * lit(7) /
          col("sum_prev").cast("double"), 6).as("trend_score"))
      .orderBy(col("trend_score").desc, col("day").asc,
        col("event_type").asc)
      .limit(20)
  }

  /** Noise gate for [[trendingActivity]]: a 1→3 jump is not a trend. */
  val TrendMinCount = 10L

  /** Gap bucket width for [[purchaseGaps]] (hours). */
  val GapBucketHours = 4L

  /** #173 Inter-purchase gap distribution: hours between a ticker's
    * consecutive trades, bucketed (4 h) into a corpus-wide histogram
    * with exact counts and the exact-integer mean gap — the trading-
    * frequency profile beside VWAP/OHLC ("how often does this
    * instrument actually print").
    *
    * TWO-LEVEL lag (the first form — one global per-user lag —
    * measured 2.85× on the 90%-one-key kill-test: the hot ticker's
    * whole purchase history sorted in one task): consecutive pairs
    * are either WITHIN a (user, day) block — the block-local lag —
    * or straddle two adjacent PRESENT blocks, reconstructed as
    * first-of-block − last-of-previous-block from min/max-of-struct
    * block summaries lag-chained over a ≤|days|-row per-user window.
    * Exactly the global pair set (spec-asserted). Gaps in exact
    * integer micros; |buckets| output rows, 128-bit bucket sums. */
  def purchaseGaps(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val p = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .withColumn("blk", floor(col("us") / dayUs))
    val wLoc = Window.partitionBy("user_id", "blk")
      .orderBy(col("us"), col("event_id"))
    val inBlock = p
      .withColumn("prev_us", lag(col("us"), 1).over(wLoc))
      .filter(col("prev_us").isNotNull)
      .select((col("us") - col("prev_us")).as("gap_us"))
    val wBlk = Window.partitionBy("user_id").orderBy("blk")
    val boundary = p.groupBy("user_id", "blk")
      .agg(min(struct(col("us"), col("event_id"))).as("f"),
        max(struct(col("us"), col("event_id"))).as("l"))
      .withColumn("prev_last", lag(col("l.us"), 1).over(wBlk))
      .filter(col("prev_last").isNotNull)
      .select((col("f.us") - col("prev_last")).as("gap_us"))
    val bucketUs = GapBucketHours * 3600L * 1000000L
    inBlock.unionByName(boundary)
      .groupBy(expr(s"gap_us div $bucketUs").as("bucket"))
      .agg(count(lit(1)).as("n"),
        (Num.dsum128Raw(col("gap_us")) * lit(1000000L)).cast("decimal(38,0)")
          .as("sum_us"))
      .select(col("bucket"),
        (col("bucket") * GapBucketHours).as("from_hours"),
        col("n"),
        round((col("sum_us").cast("double") / col("n").cast("double"))
          / 3600000000.0, 6).as("avg_gap_hours"))
      .orderBy("bucket")
  }

  /** Price-band width for [[bandMigration]] (dollars). */
  val PriceBandWidth = 100L

  /** #174 Price-band migration matrix: for every consecutive version
    * pair in the #87 SCD2 dimension, the (from-band → to-band)
    * transition count — "when this instrument reprices, how far does
    * it move" as a state-transition matrix over the dimension's OWN
    * history (the #156 Markov shape applied to slowly-changing state
    * rather than the event stream). Bands are integer price div 100
    * on the 6 dp-quantized price — engine-exact. The version lag runs
    * over CHANGE rows only (orders below the stream); ≤|bands|²
    * output rows at any scale. */
  def bandMigration(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("ticker_id").orderBy("version")
    // the pinned #87 dimension artifact (no per-query change detection)
    val dim = Dimensional.scd2Artifact(spark, dir).dim
      .select(col("ticker_id"), col("version"),
        Num.unscaled6(col("price")).as("price_u"))
      .select(col("ticker_id"), col("version"),
        expr(s"price_u div ${PriceBandWidth * 1000000L}").as("band"))
    dim
      .withColumn("from_band", lag(col("band"), 1).over(w))
      .filter(col("from_band").isNotNull)
      .groupBy(col("from_band"), col("band").as("to_band"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_band", "to_band")
  }
}
