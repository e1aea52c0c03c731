package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** OLAP aggregation surface beyond flat group-by (SURVEY.md §2
  * #37-40): rollup hierarchies, wide pivots, exact percentiles and
  * sketched distinct counts — the dashboard shapes the reference's
  * "storing and querying" purpose (/root/reference/README.md:3)
  * implies once a table is warehoused.
  *
  * Scale notes (§5): rollup/pivot/percentile all remain one shuffle
  * on the group keys with map-side partials; the pivot value list is
  * explicit (a discovery pass over 100 TB just to learn the column
  * set is a full extra scan); approx_count_distinct is the sketch
  * path whose state is O(1) per group where countDistinct's is
  * O(distinct values).
  */
object Olap {

  /** #37 Rollup aggregate: order totals at (priority, status),
    * per-priority, and grand-total levels in one pass. grp_id
    * disambiguates "NULL because rolled up" from a NULL key value —
    * the standard GROUPING() discriminator. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(grouping_id().cast("long").as("grp_id"),
        Num.dsum(col("o_totalprice")).as("sum_price"),
        count(lit(1)).as("n_orders"))
      .select("o_orderpriority", "o_orderstatus", "grp_id", "sum_price",
        "n_orders")
      .orderBy(col("grp_id"), col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)

  /** #206 2-D histogram (heat grid) — the (quantity × price-band)
    * density/revenue grid a dashboard heatmap renders: exact integer
    * bucketing on both axes (quantity div 10; unscaled-micro price
    * div 5000·10⁶), counts + exact decimal revenue per cell. One
    * scan, one bounded-cell aggregate — the 2-D member of #52's
    * histogram family. */
  def heatmap2d(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .select(expr("cast(l_quantity as bigint) div 10").as("qty_bin"),
        Num.unscaled6(col("l_extendedprice")).as("pu"))
      .select(col("qty_bin"), expr("pu div 5000000000").as("price_bin"),
        col("pu"))
      .groupBy("qty_bin", "price_bin")
      .agg(count(lit(1)).as("n"),
        round(Num.dsumUnscaled(col("pu")), 6).as("revenue"))
      .orderBy("qty_bin", "price_bin")

  /** #200 Date-dimension build — the calendar table every star
    * schema joins against: one row per day spanning the fact table's
    * date range, with epoch-day, day-of-week, Monday-aligned week
    * index, civil calendar fields and the month-end flag.
    *
    * Engine-exactness: dow and week index are INTEGER epoch-day
    * arithmetic ((epd+4) mod 7, 0 = Sunday; (epd+3) div 7) — never
    * an engine's locale-sensitive dayofweek; civil fields use
    * year/month/quarter/day on DATE values, which are exact integer
    * calendar functions on both engines. Spine = one sequence
    * explode, |days| rows at any corpus size. */
  def dateDim(spark: SparkSession, dir: String): DataFrame = {
    val bounds = Tables.load(spark, dir, "orders")
      .agg(min(to_date(col("o_orderdate"))).as("lo"),
        max(to_date(col("o_orderdate"))).as("hi"))
    bounds
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("d"))
      .select(col("d"),
        datediff(col("d"), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("long").as("epoch_day"))
      .select(col("d"), col("epoch_day"),
        expr("(epoch_day + 4) % 7").as("dow"),
        expr("(epoch_day + 3) div 7").as("week_idx"),
        year(col("d")).cast("long").as("y"),
        month(col("d")).cast("long").as("m"),
        quarter(col("d")).cast("long").as("q"),
        dayofmonth(col("d")).cast("long").as("dom"),
        (month(date_add(col("d"), 1)) =!= month(col("d")))
          .cast("long").as("is_month_end"))
      .orderBy("d")
  }

  /** #198 CUBE aggregate — the remaining member of the OLAP lattice
    * trio (#37 rollup = prefix hierarchy, #90 grouping sets =
    * explicit list, cube = the FULL 2ᵏ power set): every
    * (priority, status) margin in one Expand + ONE shuffle, the
    * grouping_id discriminator distinguishing the four levels. The
    * dashboard "slice by anything" base table. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(grouping_id().cast("long").as("grp_id"),
        Num.dsum(col("o_totalprice")).as("sum_price"),
        count(lit(1)).as("n_orders"))
      .select("o_orderpriority", "o_orderstatus", "grp_id", "sum_price",
        "n_orders")
      .orderBy(col("grp_id"), col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)

  /** #90 Grouping-sets aggregate: the general form of [[rollupAgg]] —
    * an EXPLICIT lattice of grouping levels, here both one-dimension
    * marginals plus the full cross and the grand total (a rollup
    * cannot express the (status)-only marginal). Still ONE logical
    * aggregate: Spark expands the sets via Expand + a single shuffle
    * with map-side partials, not one job per level. */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val p = col("o_orderpriority")
    val s = col("o_orderstatus")
    o.groupingSets(Seq(Seq(p, s), Seq(p), Seq(s), Seq.empty), p, s)
      .agg(grouping_id().cast("long").as("grp_id"),
        Num.dsum(col("o_totalprice")).as("sum_price"),
        count(lit(1)).as("n_orders"))
      .select("o_orderpriority", "o_orderstatus", "grp_id", "sum_price",
        "n_orders")
      .orderBy(col("grp_id"), col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)
  }

  /** The event-type domain, declared rather than discovered: an
    * explicit pivot value list keeps the pivot a single shuffle (no
    * distinct-values pre-pass over the fact table). */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup",
    "view")

  /** #38 Pivot to wide: per-user event-type value totals as columns.
    * One shuffle on user_id; each pivot cell is a map-side partial. */
  def pivotWide(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(Num.dsum(col("value")))
      .orderBy("user_id")

  /** #39 Exact percentiles per group (interpolated, the engine-
    * standard (n-1)·p definition — matches DuckDB quantile_cont).
    * Routed through [[Pctl.grouped]] (VERDICT r13 #1): the one-agg
    * `percentile` plan below the group-size gate, the blocked exact
    * decomposition above it, GK only under degenerate ties. Rounded
    * so both engines' float paths agree. */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Pctl.grouped(Tables.load(spark, dir, "events"),
        Seq("event_type"), col("value"),
        Seq(0.25, 0.5, 0.9, 0.99), Seq("p25", "p50", "p90", "p99"),
        Some(Pctl.Site(dir, "events", "percentiles")))
      .select(col("event_type"),
        round(col("p25"), 6).as("p25"), round(col("p50"), 6).as("p50"),
        round(col("p90"), 6).as("p90"), round(col("p99"), 6).as("p99"))
      .orderBy("event_type")

  /** #79 Mergeable quantile sketch: percentiles via `approx_percentile`
    * (Greenwald-Khanna). The exact form collects every group's values
    * into one sorted buffer — O(group rows) memory on one task, which
    * a hot group breaks at 100 TB. The sketch keeps O(1/accuracy)
    * state per group, merges map-side, and bounds RANK error by
    * 1/accuracy (value error follows on any non-degenerate
    * distribution; OlapSessionsSpec asserts both against the exact
    * answer at FULL corpus size).
    *
    * Shipped form (round 16, ADVICE r15 #1): the sketch runs over the
    * FULL corpus, so the query reports corpus percentiles — declared
    * rows-only (approx_percentile's compression path is
    * implementation-private, so no engine-portable oracle exists),
    * with the n/accuracy rank bound property-asserted at full corpus
    * size in CurationSpec. The sampled exact-regime form that r15
    * shipped under this key (sample statistics, not corpus statistics)
    * moved to [[approxPercentilesExact]], which keeps the full hash
    * oracle. */
  val SketchAccuracy = 10000

  def approxPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy("event_type")
      .agg(expr(s"approx_percentile(value, array(0.25D, 0.5D, 0.9D, 0.99D), " +
        s"$SketchAccuracy)").as("ps"))
      .select(col("event_type"),
        round(element_at(col("ps"), 1), 6).as("p25"),
        round(element_at(col("ps"), 2), 6).as("p50"),
        round(element_at(col("ps"), 3), 6).as("p90"),
        round(element_at(col("ps"), 4), 6).as("p99"))
      .orderBy("event_type")

  /** #79 (oracled twin) Quantile sketch in its provably EXACT regime:
    * a portable md5 1-in-97 slice keeps every group below accuracy/2
    * rows, where GK compression is lossless by construction (dropping
    * any sample would open an integer rank gap > 2·ε·n < 1) and
    * `query(p)` returns exactly the ceil(p·n)-th smallest value. That
    * closed form IS the DuckDB oracle (the heavy_hitters #91
    * exact-below-capacity precedent), so the sketch machinery stays
    * hash-verified while [[approxPercentiles]] ships corpus-fidelity
    * output. Output is SAMPLE statistics by construction.
    *
    * Dropout guard (ADVICE r15 #1): every event_type present in the
    * corpus is emitted — a group whose 1-in-97 slice is empty carries
    * NULL percentiles (an honest "no sample") instead of vanishing,
    * via a left join from the full group set (the Pctl all-null-group
    * re-emit pattern, `Pctl.scala:123`). */
  def approxPercentilesExact(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val sliced = ev
      .filter(conv(substring(md5(concat(lit("apx|"),
          col("event_id").cast("string"))), 25, 8), 16, 10)
        .cast("long") % 97 === 0)
      .groupBy("event_type")
      .agg(expr(s"approx_percentile(value, array(0.25D, 0.5D, 0.9D, 0.99D), " +
        s"$SketchAccuracy)").as("ps"))
    ev.select("event_type").distinct()
      .join(sliced, Seq("event_type"), "left")
      .select(col("event_type"),
        round(element_at(col("ps"), 1), 6).as("p25"),
        round(element_at(col("ps"), 2), 6).as("p50"),
        round(element_at(col("ps"), 3), 6).as("p90"),
        round(element_at(col("ps"), 4), 6).as("p99"))
      .orderBy("event_type")
  }

  /** #51+#63 Top-k per group: each customer's 3 most valuable orders
    * via the custom bounded-heap TopKAgg aggregate — per-group state
    * is k pairs combined map-side, so the shuffle carries
    * O(groups × k) where the window row_number form shuffles and
    * sorts every row of every group (a hot group sorts billions of
    * rows for a 3-row answer). Exploded back to the ranked-row shape
    * the DuckDB window oracle produces. */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey").as("cust_id"))
      .agg(graft.functions.AggFunctions.topK(
        col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("cust_id"), posexplode(col("top")))
      .select(col("cust_id"), (col("pos") + 1L).as("rnk"),
        col("col.id").as("order_id"), col("col.value").as("price"))
      .orderBy("cust_id", "rnk")

  /** #52 Histogram binning: fixed-width value buckets per event type
    * — the dashboard distribution view. Bin id is exact integer
    * arithmetic (floor of value/width), so both engines bucket
    * identically. */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("event_type"),
        floor(col("value") / lit(10d)).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), Num.dsum(col("value")).as("sum_value"))
      .orderBy("event_type", "bin")

  /** #96 Rank-based quantile binning: NTILE(4) quartile buckets per
    * event type with per-bin boundaries/mass — the feature-binning
    * pass of a training pipeline. The obvious `ntile(4).over(w)`
    * sorts an ENTIRE event type in one task (5 keys × 10^9 rows is a
    * scale-killer). Instead the rows never leave the scan: one
    * map-side-combined aggregate reduces the data to coarse value
    * blocks (count/min/max/exact sum per floor(value)), the tiny
    * block table gets rank geometry from a running sum, and a whole
    * block whose rank span [base+1, base+c] lands inside one bin IS
    * that bin's pre-aggregated contribution. Only blocks straddling
    * one of the 3 interior bin boundaries — ≤ 3 blocks per type at
    * ANY corpus size — have their rows re-read, through a value-range
    * predicate the parquet scan prunes row groups with, sorted per
    * block, and ranked row-level. Bit-identical to the window form
    * (ties cannot straddle blocks: equal values share a block, and
    * the decimal partials re-sum exactly); the DuckDB oracle keeps
    * the plain ntile().
    * ASSUMPTION: the value distribution spreads across many integer
    * blocks (true for the events value domain). A (near-)constant
    * column collapses into one block that straddles every boundary,
    * degenerating to a one-task sort — inherent to any
    * tie-respecting block key, since ties must share a block. Under
    * such skew, pick a finer monotonic key (e.g. floor(value · 2^k)
    * with k from a cheap min/max pre-pass) so block population stays
    * bounded wherever the data has spread at all.
    * For 100 TB features the sketch cut points (#79) remain the
    * stateless-projection alternative.
    *
    * DRIVER-COLLECT CAP (VERDICT r13 #4): the block table is bounded
    * by |types|×|distinct floor(value)| — fine for price-like
    * domains, UNBOUNDED for heavy-tailed doubles whose value range
    * grows with the corpus. A block-count probe gates the collect:
    * above [[QuantileBinsBlockCap]] rows the operator routes to the
    * fully distributed [[Rank.twoLevelRank]] form (global rank per
    * type without any task sorting a type, no driver state) — hash-
    * identical output (QuantileBinsFallbackSpec pins both routes),
    * trading the stats-driven block pruning for unbounded-domain
    * safety. */
  val QuantileBinsBlockCap = 100000L

  def quantileBins(spark: SparkSession, dir: String): DataFrame =
    quantileBinsWith(spark, dir, QuantileBinsBlockCap)

  private[graft] def quantileBinsWith(spark: SparkSession, dir: String,
      blockCap: Long): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("blk", floor(col("value")).cast("long"))
    // the probe is one count-distinct-shaped aggregate over the
    // two-column scan, a corpus artifact like every other route probe;
    // above the cap the block table never leaves the executors
    val nBlocks = graft.CorpusCache.value(spark, dir, "events",
        "quantile_bins_blocks") {
      ev.select(col("event_type"), col("blk")).distinct().count()
    }
    if (nBlocks > blockCap) {
      val ranked = Rank.twoLevelRank(ev, Seq("event_type"), col("blk"),
        blkAscending = true, Seq(col("value"), col("event_id")),
        "rn", "n")
      return ranked
        .withColumn("bin",
          expr("""CASE WHEN rn <= (n % 4) * (n DIV 4 + 1)
                  THEN (rn - 1) DIV (n DIV 4 + 1) + 1
                  ELSE (n % 4) + (rn - (n % 4) * (n DIV 4 + 1) - 1)
                    DIV (n DIV 4) + 1 END""").cast("long"))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 6).as("lo"),
          round(max(col("value")), 6).as("hi"),
          Num.dsumExact(col("value")).cast("double").as("sum_value"))
        .orderBy("event_type", "bin")
    }
    // Phase 1 — ONE map-side-combined aggregate reduces the corpus to
    // its block table: count, min/max, and the exact 128-bit value
    // sum (dsumExact — a mergeable decimal(38,6) partial, so
    // re-summing per bin later is the same exact rational as a direct
    // row sum). The block table is bounded by the VALUE DOMAIN, not
    // the row count (~|types|x|integer range| rows), so collecting it
    // is the same bounded-stats move as ZOrderLayout's bounds read —
    // the driver plans bin geometry on statistics, the way any
    // two-phase rank engine does.
    val blocks = ev.groupBy("event_type", "blk")
      .agg(count(lit(1)).as("c"),
        min(col("value")).as("blo"), max(col("value")).as("bhi"),
        Num.dsumExact(col("value")).as("bsum"))
      .collect()
    // exact NTILE(4) of rank r: the first n%4 buckets take n/4+1 rows
    def binOf(r: Long, n: Long): Long = {
      val q = n / 4; val m = n % 4
      if (r <= m * (q + 1)) (r - 1) / (q + 1) + 1
      else m + (r - m * (q + 1) - 1) / q + 1
    }
    // Phase 2 (driver, on block stats): per-type rank geometry from a
    // running sum over blk-sorted blocks. A block covers global ranks
    // [base+1, base+c] — when both ends land in the same bin the
    // whole block is one pre-aggregated bin contribution and its rows
    // are NEVER shuffled or sorted. Only blocks straddling one of the
    // 3 interior bin boundaries (<= 3 per type at ANY corpus size)
    // need row-level ranks.
    case class Blk(tpe: String, blk: Long, c: Long, blo: Double,
      bhi: Double, bsum: java.math.BigDecimal)
    case class Strad(tpe: String, blk: Long, base: Long, n: Long)
    val byType = blocks.map(r => Blk(r.getString(0), r.getLong(1),
        r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDecimal(5)))
      .groupBy(_.tpe)
    val wholeParts = scala.collection.mutable.ArrayBuffer[
      (String, Long, Long, Double, Double, java.math.BigDecimal)]()
    val strads = scala.collection.mutable.ArrayBuffer[Strad]()
    byType.foreach { case (tpe, bs) =>
      val sorted = bs.sortBy(_.blk)
      val n = sorted.map(_.c).sum
      var base = 0L
      sorted.foreach { b =>
        val binFirst = binOf(base + 1, n)
        val binLast = binOf(base + b.c, n)
        if (binFirst == binLast)
          wholeParts += ((tpe, binFirst, b.c, b.blo, b.bhi, b.bsum))
        else strads += Strad(tpe, b.blk, base, n)
        base += b.c
      }
    }
    // Explicit decimal(38,6) schema: the default tuple encoder would
    // round-trip bsum through decimal(38,18), whose 20 integer digits
    // overflow for block sums >= ~1e20 — the explicit StructType keeps
    // the full 32 integer digits end-to-end.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val wholeSchema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("bin", LongType, nullable = false),
      StructField("c", LongType, nullable = false),
      StructField("blo", DoubleType, nullable = false),
      StructField("bhi", DoubleType, nullable = false),
      StructField("bsum", DecimalType(38, 6))))
    val wholeDf = spark.createDataFrame(
      java.util.Arrays.asList(wholeParts.toSeq.map { case (t, bin, c, lo, hi, s) =>
        Row(t, bin, c, lo, hi, s.setScale(6)): Row }: _*),
      wholeSchema)
    // Phase 3 — straddle rows only, via a value-RANGE predicate the
    // parquet scan can prune row groups with (floor(value)=blk <=>
    // blk <= value < blk+1; blk is exact in double). Geometry joins
    // in as a literal when-chain: no second full scan, no broadcast.
    val rowsDf =
      if (strads.isEmpty)
        wholeDf.filter(lit(false))
      else {
        val pred = strads.map(sb =>
            col("event_type") === lit(sb.tpe) &&
            col("value") >= lit(sb.blk.toDouble) &&
            col("value") < lit((sb.blk + 1).toDouble))
          .reduce(_ || _)
        val baseCol = coalesce(strads.map(sb =>
            when(col("event_type") === lit(sb.tpe) &&
              col("blk") === lit(sb.blk), lit(sb.base))).toSeq: _*)
        val nCol = coalesce(strads.map(sb =>
            when(col("event_type") === lit(sb.tpe) &&
              col("blk") === lit(sb.blk), lit(sb.n))).toSeq: _*)
        val wIn = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type", "blk")
          .orderBy(col("value"), col("event_id"))
        ev.filter(pred)
          .withColumn("rn", baseCol + row_number().over(wIn))
          .withColumn("n", nCol)
          .withColumn("bin",
            expr("""CASE WHEN rn <= (n % 4) * (n DIV 4 + 1)
                    THEN (rn - 1) DIV (n DIV 4 + 1) + 1
                    ELSE (n % 4) + (rn - (n % 4) * (n DIV 4 + 1) - 1)
                      DIV (n DIV 4) + 1 END""").cast("long"))
          .groupBy("event_type", "bin")
          .agg(count(lit(1)).as("c"),
            min(col("value")).as("blo"), max(col("value")).as("bhi"),
            Num.dsumExact(col("value")).as("bsum"))
      }
    // combine block-level and boundary-row contributions: counts and
    // decimal partials re-sum exactly, so the result is bit-identical
    // to the oracle's plain per-row ntile aggregation
    wholeDf.unionByName(rowsDf)
      .groupBy("event_type", "bin")
      .agg(sum(col("c")).as("n"),
        round(min(col("blo")), 6).as("lo"),
        round(max(col("bhi")), 6).as("hi"),
        sum(col("bsum")).cast("double").as("sum_value"))
      .orderBy("event_type", "bin")
  }

  /** #40 Sketched distinct counts — a PORTABLE HyperLogLog computed
    * relationally (round 15; the cms_freq precedent of building the
    * sketch as a TABLE from portable hashes): registers from a 60-bit
    * md5 window (15 hex chars — top 48 bits = rank window, low
    * 12 bits = register; round 16, ADVICE r15 #2: the r15 32-bit tail
    * saturated near 2³² distinct values, biasing low exactly where a
    * 100 TB per-group cardinality lives), rho from the exact integer
    * bit length (`length(bin(w))` — both engines' bin() is
    * minimal-width), the register maxima reduced to an EXACT integer
    * Z accumulator (every 2⁻ᴹ term is a multiple of 2⁻⁴⁹, so the sum
    * is order-free and partition-independent; each register
    * contributes at most 2⁴⁹ — the rho=0/absent case — so the
    * numerator is ≤ m·2⁴⁹ = 2⁶¹ < 2⁶³, comfortably a signed
    * long), then the classic bias-corrected estimator with the
    * linear-counting small-range branch. No large-range correction is
    * needed below ~2⁶⁰ distinct (the 32-bit form needed it from
    * ~10⁸). m=4096 puts the standard error at 1.04/√4096 ≈ 1.6%,
    * tighter than the HLL++ (rsd 0.02) this replaced. Every step is
    * engine-exact → the sketch carries a full DuckDB oracle (VERDICT
    * r14 #8; a native HLL++ never can — its hash and estimator are
    * implementation-private), while keeping what matters at 100 TB:
    * O(m)=4096 mergeable state per group ((group, register) maxima
    * combine map-side), ONE scan, no distinct expansion. NOTE for
    * consumers: `approx_users` is DOUBLE (an estimate), where the
    * pre-r15 HLL++ column was LONG. Error bound vs the exact distinct
    * count stays asserted in OlapSessionsSpec. */
  val HllRegisters = 4096     // m = 2^12
  val HllWindowBits = 48      // 60-bit hash minus the 12 register bits
  /** md5 substring (1-based start, length) for the 60-bit hash window:
    * 15 hex chars < 2⁶⁰ fit both engines' signed BIGINT. */
  val HllHashStart = 18
  val HllHashLen = 15
  /** α_m · m² and the small-range gate 2.5·m, from the shared m. */
  private val HllAlpha = 0.7213 / (1.0 + 1.079 / HllRegisters)

  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val m = HllRegisters
    val wb = HllWindowBits + 1 // rho of an all-zero window
    // null user_ids hash to null → a null register; they still count
    // into n_events but never into a register (COUNT DISTINCT
    // semantics — nulls are not a value)
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"),
        conv(substring(md5(concat(lit("hll|"),
          col("user_id").cast("string"))), HllHashStart, HllHashLen),
          16, 10).cast("long").as("h"))
    val regs = ev
      .select(col("event_type"), expr(s"h % $m").as("reg"),
        expr(s"h div $m").as("w"))
      .withColumn("rho", when(col("w") > 0,
          lit(wb) - length(bin(col("w")))).otherwise(lit(wb)))
      .groupBy("event_type", "reg")
      .agg(max(col("rho")).as("mx"), count(lit(1)).as("c"))
    val g = regs.groupBy("event_type")
      .agg(sum(when(col("reg").isNotNull,
          expr(s"shiftleft(1L, $wb - mx)")).otherwise(lit(0L))).as("zi"),
        sum(when(col("reg").isNotNull, 1L).otherwise(0L)).as("nreg"),
        sum(col("c")).as("n_events"))
      .withColumn("v", lit(m.toLong) - col("nreg"))
      .withColumn("z",
        (col("zi") + col("v") * lit(1L << wb)).cast("double")
          / lit((1L << wb).toDouble))
    val raw = lit(HllAlpha) * lit((m.toLong * m).toDouble) / col("z")
    g.select(col("event_type"),
        round(when(raw <= lit(2.5 * m) && col("v") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v").cast("double")))
          .otherwise(raw), 6).as("approx_users"),
        col("n_events"))
      .orderBy("event_type")
  }

  /** Drift split date and the numeric feature's fixed bin width. */
  val DriftCutoff = "1998-01-01"
  val DriftBinWidth = 50000.0

  /** #148 Population-stability drift report (PSI) — the ML-ops
    * monitor that says "this feature's distribution moved" between a
    * reference window (orders before [[DriftCutoff]]) and the current
    * one: PSI = Σ (p−q)·ln(p/q) over bins both sides populate, per
    * feature — one numeric (total price, fixed-width bins: the #52
    * exact integer bucketing) and one categorical (order priority).
    * `n_one_sided` counts bins present on only one side — the
    * new/vanished-category signal PSI's common-bin sum cannot see.
    * Shares are exact integer ratios; ln runs on identical doubles
    * (the bm25 precedent) and PSI rounds once at 6 dp.
    *
    * Scale: ONE fact scan — each row fans to its |features| (bin,
    * side) cells via a 2-element explode, then a (feature, bin) hash
    * aggregate with conditional partial counts; feature totals are a
    * |features|-row broadcast. */
  def driftPsi(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.load(spark, dir, "orders")
      .select(
        (to_date(col("o_orderdate")) < lit(DriftCutoff)).as("is_ref"),
        explode(array(
          struct(lit("price_bucket").as("feature"),
            floor(col("o_totalprice") / DriftBinWidth).cast("string")
              .as("bin")),
          struct(lit("order_priority").as("feature"),
            col("o_orderpriority").as("bin")))).as("c"))
      .select(col("is_ref"), col("c.feature").as("feature"),
        col("c.bin").as("bin"))
    val binCounts = cells.groupBy("feature", "bin")
      .agg(sum(col("is_ref").cast("long")).as("ref_n"),
        sum((!col("is_ref")).cast("long")).as("cur_n"))
    val totals = binCounts.groupBy("feature")
      .agg(sum(col("ref_n")).as("ref_t"), sum(col("cur_n")).as("cur_t"))
    binCounts.join(broadcast(totals), "feature")
      .withColumn("p", col("ref_n").cast("double") /
        col("ref_t").cast("double"))
      .withColumn("q", col("cur_n").cast("double") /
        col("cur_t").cast("double"))
      .groupBy("feature")
      .agg(first(col("ref_t")).as("n_ref"), first(col("cur_t")).as("n_cur"),
        count(lit(1)).as("n_bins"),
        sum((col("ref_n") === 0 || col("cur_n") === 0).cast("long"))
          .as("n_one_sided"),
        // each term quantized to 9 dp BEFORE the sum: a raw double Σ
        // is partition-order dependent; the decimal sum is exact
        round(coalesce(sum(when(col("ref_n") > 0 && col("cur_n") > 0,
            round((col("p") - col("q")) * log(col("p") / col("q")), 9)
              .cast("decimal(28,9)"))), lit(0).cast("decimal(28,9)"))
          .cast("double"), 6).as("psi"))
      .orderBy("feature")
  }

  /** #160 Column-level data profile of the orders feed — per column:
    * row count, distinct count, modal value + its count, and Shannon
    * entropy of the value distribution (nats) — the "what does this
    * feed look like" card a catalog shows next to a 100 TB table
    * (dq_checks #60 validates rules; this DESCRIBES distributions,
    * the input to choosing them).
    *
    * One fact scan, a 3-cell explode (the drift_psi shape), a
    * (column, value) hash aggregate, then a column-grain aggregate
    * with the value-grain totals broadcast back. Entropy terms
    * −(c/n)·ln(c/n) are 9 dp-quantized before the exact decimal sum
    * (the psi discipline); the modal value rides one max-of-struct
    * (count, value) aggregate — ties break to the greater value,
    * deterministically. Output is Σ|column domains| rows at any
    * corpus size. */
  def columnProfile(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.load(spark, dir, "orders")
      .select(explode(array(
        struct(lit("o_orderstatus").as("column"),
          col("o_orderstatus").as("val")),
        struct(lit("o_orderpriority").as("column"),
          col("o_orderpriority").as("val")),
        struct(lit("order_month").as("column"),
          date_format(col("o_orderdate"), "yyyy-MM").as("val")))).as("c"))
      .select(col("c.column").as("column"),
        coalesce(col("c.val"), lit("<null>")).as("val"))
    val vc = cells.groupBy("column", "val")
      .agg(count(lit(1)).as("c"))
    val totals = vc.groupBy("column").agg(sum(col("c")).as("n"))
    vc.join(broadcast(totals), "column")
      .withColumn("p", col("c").cast("double") / col("n").cast("double"))
      .groupBy("column")
      .agg(first(col("n")).as("n"),
        count(lit(1)).as("n_distinct"),
        max(struct(col("c"), col("val"))).as("top"),
        round(sum(round(-col("p") * log(col("p")), 9)
          .cast("decimal(28,9)")).cast("double"), 6).as("entropy"))
      .select(col("column"), col("n"), col("n_distinct"),
        col("top.val").as("top_value"), col("top.c").as("top_n"),
        col("entropy"))
      .orderBy("column")
  }

  /** Benford expected first-digit shares in integer ppm,
    * round(log₁₀(1+1/d)·10⁶) for d = 1..9 — pinned literals shared
    * verbatim with the DuckDB twin (computed once, embedded, never
    * re-derived through each engine's libm). */
  val BenfordPpm: Array[Long] = Array(301030L, 176091L, 124939L,
    96910L, 79181L, 66947L, 57992L, 51153L, 45757L)

  /** #193 Benford first-digit screen — the classic fabricated-number
    * audit: per (group, leading digit) the observed count and share
    * vs Benford's law, plus the group's χ² distance. Fraud/quality
    * screening a finance warehouse runs over any amount column.
    *
    * Engine-exact: the leading digit comes from the DECIMAL STRING
    * of the 6 dp-unscaled integer (integer→string is
    * representation-exact on every engine — never log₁₀ of a float,
    * whose boundary cells could flip); expected shares are pinned
    * integer literals; each χ² term (n_d·10⁶ − N·e_d)²/(N·e_d·10⁶)
    * is exact-integer-derived, 9 dp-quantized before the decimal sum
    * (the #171 discipline). One scan + a 9×|groups| aggregate. */
  def benfordScreen(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val expected = BenfordPpm.zipWithIndex
      .map { case (p, i) => s"WHEN ${i + 1} THEN ${p}L" }
      .mkString("CASE digit ", " ", " END")
    val digits = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag").as("grp"),
        Num.unscaled6(col("l_extendedprice")).as("xu"))
      .filter(col("xu") > 0)
      .select(col("grp"),
        substring(col("xu").cast("string"), 1, 1).cast("long")
          .as("digit"))
      .groupBy("grp", "digit")
      .agg(count(lit(1)).as("n"))
      .withColumn("exp_ppm", expr(expected))
    val wG = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    digits
      .withColumn("n_total", sum(col("n")).over(wG))
      // (n_d·10⁶ − N·e_d)² / (N·e_d·10⁶): exact decimal(38,0)
      // operands, ONE double division, 9 dp-quantized (#171)
      .withColumn("dev", (col("n").cast(dec) * lit(1000000L)
        - col("n_total").cast(dec) * col("exp_ppm")).cast(dec))
      .withColumn("term9",
        round((col("dev") * col("dev")).cast("double")
          / (col("n_total").cast(dec) * col("exp_ppm")
            * lit(1000000L)).cast("double"), 9)
          .cast("decimal(28,9)"))
      .withColumn("chi2", round(sum(col("term9")).over(wG)
        .cast("double"), 6))
      .select(col("grp"), col("digit"), col("n"),
        expr("n * 1000000 div n_total").as("obs_ppm"),
        col("exp_ppm"), col("chi2"))
      .orderBy("grp", "digit")
  }

  /** #186 Winsorization — per-group tail clamping at the exact
    * interpolated p05/p95 (the robust-preprocessing step run before
    * any mean-based feature lands in a training set; the
    * outlier-DETECTION twins are #85/#138, this one repairs instead
    * of flags).
    *
    * Engine-exactness: the cut points are the #39 exact interpolated
    * percentiles ROUNDED to 6 dp on both engines BEFORE any
    * comparison — every clamp decision compares identical doubles
    * against identical cuts, so membership (and therefore the
    * clamped multiset) is bit-identical; means are exact decimal
    * sums of 6 dp-quantized values with one terminal division.
    *
    * Scale: the cut computation rides [[Pctl.grouped]] (VERDICT r13
    * #1: the r13 bench's only regression was this operator's
    * single-task percentile buffer at ×100; the blocked route
    * re-reads only the two rank-straddling value blocks); the clamp
    * pass is one broadcast join + a map-side-combined aggregate over
    * the same scan. */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val cuts = Pctl.grouped(ev, Seq("event_type"), col("value"),
        Seq(0.05, 0.95), Seq("plo", "phi"),
        Some(Pctl.Site(dir, "events", "winsorize")))
      .select(col("event_type"),
        round(col("plo"), 6).as("lo"), round(col("phi"), 6).as("hi"))
    ev.join(broadcast(cuts), "event_type")
      .withColumn("clamped",
        when(col("value") < col("lo"), col("lo"))
          .when(col("value") > col("hi"), col("hi"))
          .otherwise(col("value")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("lo")).as("lo"), min(col("hi")).as("hi"),
        sum((col("value") < col("lo")).cast("long")).as("n_lo"),
        sum((col("value") > col("hi")).cast("long")).as("n_hi"),
        round(Num.davg(col("value")), 6).as("mean_raw"),
        round(Num.davg(col("clamped")), 6).as("mean_winsor"))
      .orderBy("event_type")
  }
}
