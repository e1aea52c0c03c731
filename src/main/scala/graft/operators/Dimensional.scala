package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Warehouse dimension/journey operators (SURVEY.md §2 #87-88):
  * SCD Type-2 history construction and a staged conversion funnel —
  * the two classic "table you actually ship" shapes a warehouse
  * builds on top of the reference's appended event stream
  * (`WRITE_APPEND`, /root/reference/dags/stock_data_to_gcp.py:123-136).
  *
  * Scale notes (§5): both operators shuffle once on the entity key;
  * SCD change-compression windows are per-key ordered scans with
  * O(1) state, and the funnel's stage joins are user-keyed equi-joins
  * (broadcast at small SF, hash at scale — never inequality-only).
  */
object Dimensional {

  private val DayUs = 86400L * 1000000L

  // ---- corpus-keyed staged collapses (VERDICT r14 #5) ----
  // The user-grain family (#196 wilson_funnel, #201 survival_curve,
  // #176 rfm_segments), the (user, day) distinct (#190 stickiness)
  // and the (user, week) purchase collapse (#199 ltv_curve) each
  // re-derived the same events collapse per query — at ×100 every
  // one of those cells was one redundant 60M-row scan. Each collapse
  // is now pinned ONCE per corpus (the basketLines precedent, a
  // CorpusCache frame), so the family's steady state reads
  // bounded-grain artifacts. Values are
  // bit-identical: every facet below is exactly the aggregate the
  // consumer computed inline (min/max/count partials and the exact
  // decimal sum are order-free).

  /** Per-user journey card — ONE events scan, ONE map-side-combinable
    * user-grain aggregate: first-event struct (channel attribution),
    * last instant, purchase recency/frequency/exact-decimal monetary. */
  private[graft] def userCard(spark: SparkSession,
      dir: String): DataFrame =
    graft.CorpusCache.df(spark, dir, "events", "user_card") {
      Tables.load(spark, dir, "events")
        .groupBy("user_id")
        .agg(
          min(struct(unix_micros(col("ts")).as("us"), col("event_id"),
            col("event_type"))).as("f"),
          max(unix_micros(col("ts"))).as("last_us"),
          max(when(col("event_type") === "purchase",
            unix_micros(col("ts")))).as("p_last_us"),
          sum((col("event_type") === "purchase").cast("long"))
            .as("p_freq"),
          Num.dsumExact(when(col("event_type") === "purchase",
            col("value"))).as("p_mon"))
    }

  /** Distinct (user, epoch-day) activity — the DAU/retention grain. */
  private[graft] def userDays(spark: SparkSession,
      dir: String): DataFrame =
    graft.CorpusCache.df(spark, dir, "events", "user_days") {
      Tables.load(spark, dir, "events")
        .select(col("user_id"),
          expr(s"unix_micros(ts) div $DayUs").as("day"))
        .distinct()
    }

  /** (user, epoch-week) exact purchase revenue in micro-units. */
  private[graft] def userWeekRev(spark: SparkSession,
      dir: String): DataFrame =
    graft.CorpusCache.df(spark, dir, "events", "user_week_rev") {
      Tables.load(spark, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"),
          expr(s"unix_micros(ts) div ${DayUs * 7L}").as("week"))
        .agg((Num.dsumExact(col("value")) * lit(1000000L))
          .cast("decimal(38,0)").as("rev_u"))
    }

  /** The pinned #87 dimension + its chain stats — in production the
    * SCD2 dimension IS a table; its consumers (#157 scd2_lookup,
    * #174 band_migration) read it instead of re-running change
    * detection per query. The build itself (the `scd2_dim` query)
    * stays uncached — its bench cell measures the build. */
  private[graft] case class Scd2Artifact(dim: DataFrame, rows: Long,
    maxChain: Long)

  private[graft] def scd2Artifact(spark: SparkSession,
      dir: String): Scd2Artifact =
    graft.CorpusCache.pinned(spark, dir, "events", "scd2_artifact")(
        scd2Dim(spark, dir)) { dim =>
      val stats = dim.groupBy("ticker_id").agg(count(lit(1)).as("c"))
        .agg(sum(col("c")), max(col("c"))).head()
      if (stats.isNullAt(0)) Scd2Artifact(dim, 0L, 0L)
      else Scd2Artifact(dim, stats.getLong(0), stats.getLong(1))
    }

  /** #87 SCD Type-2 dimension build: compress each ticker's price
    * stream to its CHANGE points (drop no-op updates — the defining
    * SCD2 move), then version the survivors with
    * [effective_from, effective_to) validity ranges; the open row is
    * `is_current`.
    *
    * TWO-LEVEL change detection (round 11), like [[Sessions
    * .sessionize]]: a single per-user window sorts a hot ticker's
    * whole stream in one task, so the lag-compare runs within
    * (user, day-block) instead — a hot key's sort spreads over as
    * many tasks as days. Cross-boundary correctness comes from a
    * SENTINEL row: each block's last value (a max-of-struct partial
    * aggregate, skew-immune) is forwarded via a tiny per-user window
    * over block summaries into the user's NEXT PRESENT block (day
    * gaps are handled — the summary lag, not block+1 arithmetic,
    * picks the successor), where it sorts first (us = Long.MinValue)
    * and serves as the first row's lag(value). Block-first rows then
    * compare against exactly the value a global window would have
    * seen, so the surviving change set is identical. Version
    * numbering + effective_to run on the CHANGE rows only — orders of
    * magnitude fewer than events (no-op updates dominate a price
    * stream), keeping the one remaining per-user window small.
    *
    * ADAPTIVE since round 13 (the rfm/scd2_lookup pattern, VERDICT
    * r12 #4): the two-level chain exists to keep a HOT key's sort
    * off a single task, but it costs a summaries aggregate + a
    * sentinel union + an extra window — a ~2× uniform tax every
    * consumer (band_migration 7.4×, scd2_lookup residual) pays even
    * when no key is hot. A cheap max-per-key probe (one map-side
    * partial-agg pass) now gates the plan: below
    * [[Rank.SingleTaskMax]] rows on the hottest key, the plain
    * per-user lag window runs (identical change set by construction
    * — the sentinel machinery reproduces exactly this window's lag
    * semantics); above it, the two-level chain. */
  def scd2Dim(spark: SparkSession, dir: String): DataFrame =
    scd2DimWith(spark, dir, forceTwoLevel = false)

  /** [[scd2Dim]] with the two-level plan forcible for tests (the
    * boundary-case specs must exercise the sentinel machinery even
    * on corpora the adaptive gate would route to the plain window). */
  private[graft] def scd2DimWith(spark: SparkSession, dir: String,
      forceTwoLevel: Boolean): DataFrame = {
    val blockUs = 86400L * 1000000L // 1 day
    val ev = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("us", unix_micros(col("ts")))
    // the max per-key count is a corpus statistic, probed once per
    // corpus — every scd2 consumer (scd2_lookup, band_migration)
    // reuses it instead of re-scanning events per call
    def maxPerKey: Long =
      graft.CorpusCache.value(spark, dir, "events", "scd2_chain") {
        ev.groupBy("user_id").agg(count(lit(1)).as("n"))
          .agg(max(col("n"))).head().getLong(0)
      }
    val changes = if (!forceTwoLevel && maxPerKey <= Rank.SingleTaskMax) {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      ev.withColumn("prev_value", lag(col("value"), 1).over(byUser))
        .filter(col("prev_value").isNull ||
          col("value") =!= col("prev_value"))
    } else {
      val blocked = ev.withColumn("block", floor(col("us") / blockUs))
      // one row per (user, block): the block's last value — partial
      // aggregation collapses hot keys map-side
      val summaries = blocked.groupBy("user_id", "block")
        .agg(max(struct(col("us"), col("event_id"), col("value"))).as("m"))
        .select(col("user_id"), col("block"), col("m.value").as("last_value"))
      val byBlockSeq = Window.partitionBy("user_id").orderBy(col("block"))
      val sentinels = summaries
        .withColumn("prev_last", lag(col("last_value"), 1).over(byBlockSeq))
        .filter(col("prev_last").isNotNull)
        .select(col("user_id"), lit(null).cast("timestamp").as("ts"),
          lit(Long.MinValue).as("event_id"), col("prev_last").as("value"),
          lit(Long.MinValue).as("us"), col("block"),
          lit(true).as("sentinel"))
      val byBlock = Window.partitionBy("user_id", "block")
        .orderBy(col("us"), col("event_id"))
      blocked.withColumn("sentinel", lit(false))
        .unionByName(sentinels)
        .withColumn("prev_value", lag(col("value"), 1).over(byBlock))
        .filter(!col("sentinel") && (col("prev_value").isNull ||
          col("value") =!= col("prev_value")))
        .drop("block")
    }
    val byChange = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    changes
      .withColumn("version", row_number().over(byChange).cast("long"))
      .withColumn("effective_to", lead(col("ts"), 1).over(byChange))
      .select(col("user_id").as("ticker_id"), col("version"),
        col("ts").as("effective_from"), col("effective_to"),
        col("value").as("price"),
        col("effective_to").isNull.cast("long").as("is_current"))
      .orderBy("ticker_id", "version")
  }

  /** #94 Cohort retention triangle: users cohorted by first-seen
    * day; each (cohort, day-offset) cell counts distinct users active
    * that many days after joining, with the rate against the cohort
    * size — the standard retention report. Two user-keyed aggregates
    * + one broadcast of per-cohort sizes (|days| rows); the activity
    * distinct is (user, day), never raw events. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    // ONE user-keyed aggregate carries both the cohort day (min) and
    // the distinct active-day set (bounded by the calendar, not the
    // event count) — no separate distinct/cohort/size passes over the
    // events. The cohort size IS the offset-0 cell (a user is always
    // active on their first day), read back with a tiny window over
    // the |cohorts|×|offsets| cell table.
    val perUser = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .groupBy("user_id")
      .agg(min(col("day")).as("cohort_day"), collect_set(col("day")).as("days"))
    val cells = perUser
      .select(col("cohort_day"), explode(col("days")).as("day"))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
    val byCohort = Window.partitionBy("cohort_day")
    cells
      .withColumn("cohort_size",
        max(when(col("day_offset") === 0L, col("n_active"))).over(byCohort))
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") /
          col("cohort_size").cast("double"), 6).as("retention"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Per-user funnel stage times (t1 signup → t2 click → t3
    * purchase) — shared by [[funnelStages]] and [[funnelTimes]].
    *
    * ADAPTIVE (round 14, the scd2DimWith pattern): the window chain
    * sorts each user's whole event partition on one task — a 90%-
    * one-user feed makes that a single-task n·log n sort of most of
    * the corpus (the skew kill-test shape). Above the
    * [[Rank.SingleTaskMax]] per-user gate the chain re-forms as three
    * map-side-combinable grouped MINS with user-keyed join-backs
    * (t2's predicate needs t1, t3's needs t2): no sort anywhere, the
    * hot user streams linearly through min partials, and AQE's
    * skew-join split applies to the join stages. Bit-identical by
    * construction (each tᵢ is the same conditional minimum;
    * JourneyGrowthSpec pins both routes). */
  private[operators] def funnelPerUser(spark: SparkSession,
      dir: String): DataFrame = {
    def probe: Long = Tables.load(spark, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    val maxPerUser =
      graft.CorpusCache.value(spark, dir, "events", "funnel_chain")(probe)
    funnelPerUserVia(spark, dir, maxPerUser > Rank.SingleTaskMax)
  }

  /** Route-forced internals (spec support): window chain vs the
    * skew-immune grouped-min form. */
  private[graft] def funnelPerUserVia(spark: SparkSession, dir: String,
      aggForm: Boolean): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    if (!aggForm) {
      val w = Window.partitionBy("user_id")
      ev
        .withColumn("t1",
          min(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("ts") >= col("t1"),
            col("ts"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" &&
            col("ts") >= col("t2"), col("ts"))).over(w))
        .groupBy("user_id")
        .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"),
          min(col("t3")).as("t3"))
    } else {
      // one grouped agg covers EVERY user (t1 null for non-signups,
      // matching the window form's all-users output), then each
      // later stage is a filtered fact side joined to the previous
      // user-grain table — min partials combine map-side, so the hot
      // user never sorts
      val g1 = ev.groupBy("user_id")
        .agg(min(when(col("event_type") === "signup", col("ts")))
          .as("t1"))
      val g2 = ev.filter(col("event_type") === "click")
        .join(g1.filter(col("t1").isNotNull).select("user_id", "t1"),
          "user_id")
        .filter(col("ts") >= col("t1"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val g3 = ev.filter(col("event_type") === "purchase")
        .join(g2, "user_id")
        .filter(col("ts") >= col("t2"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      g1.join(g2, Seq("user_id"), "left")
        .join(g3, Seq("user_id"), "left")
        .select(col("user_id"), col("t1"), col("t2"), col("t3"))
    }
  }

  /** #88 Conversion funnel: signup → first click after signup →
    * first purchase after that click, per user; one summary row per
    * stage with reach and decimal-exact mean hours-from-signup.
    * The stage chain is three conditional-min windows over ONE user
    * partitioning (t2's predicate reads t1, t3's reads t2 — Catalyst
    * stacks them on a single sort/shuffle), reduced to per-user stage
    * times and one tiny 3-row summary — not a join+agg round per
    * stage. */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val perUser = funnelPerUser(spark, dir)
    // ONE summary aggregate carries all three stages (three lazy
    // per-stage branches would recompute the window chain each);
    // hours sums skip the stage's non-reachers via the conditional
    // inside the exact sum
    def hoursFrom(tCol: String) =
      Num.dsum(when(col(tCol).isNotNull,
        (unix_micros(col(tCol)) - unix_micros(col("t1")))
          .cast("double") / lit(3600e6)))
    val summary = perUser.agg(
      count(col("t1")).as("n1"), hoursFrom("t1").as("h1"),
      count(col("t2")).as("n2"), hoursFrom("t2").as("h2"),
      count(col("t3")).as("n3"), hoursFrom("t3").as("h3"))
    summary
      .select(explode(array(
        struct(lit("1_signup").as("stage"), col("n1").as("n_users"),
          col("h1").as("sum_h")),
        struct(lit("2_click").as("stage"), col("n2").as("n_users"),
          col("h2").as("sum_h")),
        struct(lit("3_purchase").as("stage"), col("n3").as("n_users"),
          col("h3").as("sum_h")))).as("s"))
      .select(col("s.stage").as("stage"), col("s.n_users").as("n_users"),
        round(col("s.sum_h") / col("s.n_users").cast("double"), 6)
          .as("avg_hours_from_signup"))
      .orderBy("stage")
  }

  /** Attribution lookback: touches older than this never get credit.
    * Shared with the streaming twin (EventStream.attributedPurchases). */
  val AttributionLookbackUs: Long = 24L * 3600 * 1000000

  /** #134 Last-touch revenue attribution — every purchase credits the
    * LATEST preceding click/view by the same user within a 24 h
    * lookback; older or absent touches land in `unattributed`.
    *
    * The match is an as-of join ([[AsOfJoin.asOfImpl]], the
    * union-merge shape that beats DuckDB's native ASOF 3× at ×100):
    * purchases probe, click/view touches build, keyed on user_id. A
    * touch at the purchase's own instant counts (builds sort before
    * probes at equal ts), and among same-instant touches the highest
    * event_id wins (`buildOrder`) — the oracle's ASOF tie behavior,
    * with no per-(user, ts) pre-collapse. The bound check then nulls
    * stale matches (any earlier touch is staler still).
    *
    * Above the keyed-window gate the as-of is two-level (the
    * single-window form sorts a hot user's whole history in one
    * task, measured 2.95× under the 90%-one-key kill-test): running
    * last touch within (user, day-block), plus the previous blocks'
    * winner carried in — [[AsOfJoin.asOfImpl]]'s proof.
    *
    * Scale: one shuffle+sort on user_id for the merge, then a 3-row
    * channel aggregate of exact decimal revenue sums. */
  def attribution(spark: SparkSession, dir: String): DataFrame =
    // forms AttributionTwoLevelSpec-proven equal
    attributionImpl(spark, dir, twoLevel = Rank.keyedTwoLevel(spark, dir))

  private[graft] def attributionImpl(spark: SparkSession, dir: String,
      twoLevel: Boolean): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    val touches = events
      .filter(col("event_type") === "click" || col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("t_us"), col("event_type").as("channel"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    AsOfJoin.asOfImpl(purchases, touches, "user_id", "ts",
        Seq("t_us", "channel"), buildOrder = Seq(col("event_id")), twoLevel)
      .withColumn("channel",
        when(unix_micros(col("ts")) - col("t_us") <= AttributionLookbackUs,
          col("channel")).otherwise(lit("unattributed")))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conv"),
        round(Num.dsum(col("value")), 6).as("revenue"))
      .orderBy("channel")
  }

  /** #135 Experiment scorecard — the two-arm A/B readout a product
    * warehouse serves daily: hash-assigned arms (the seeded md5-affine
    * key, engine-portable and stable under re-runs — never `rand()`),
    * per-user revenue as the unit metric (all users in the population,
    * non-purchasers at 0 — dropping them biases the denominator), and
    * Welch's z on the arm means. Means and variances come off exact
    * decimal Σx / Σx² (order-independent); z is computed FROM the
    * rounded published stats, so the scorecard is self-consistent and
    * bit-stable across engines.
    *
    * Scale: two hash aggregates (user grain, then arm grain) — the
    * 2-row arm table pays one 1-partition window for the cross-arm
    * term. No collect, no skew exposure (arm keys are a coin flip). */
  def experimentStats(spark: SparkSession, dir: String): DataFrame = {
    // User grain rides the pinned [[userCard]] artifact (round 17 —
    // the wilson_funnel/rfm/stickiness family move): p_mon is the
    // same exact decimal purchase sum, present for EVERY user (null
    // when no purchase), so the two full event scans this query used
    // to pay per call (distinct users + revenue groupBy) collapse to
    // one bounded artifact read. Values are bit-identical: both
    // routes are exact micro-unit sums pinned back to (18,6).
    val perUser = userCard(spark, dir)
      .select(col("user_id"),
        (conv(substring(md5(concat_ws(":", lit("exp1"), col("user_id"))),
          25, 8), 16, 10).cast("long") % 2).as("arm"),
        // pinned back to (18,6) so the square below is (37,12) —
        // exact in BOTH engines (28,6)² would overflow 38 digits and
        // silently lose scale on the Spark side
        coalesce(col("p_mon"), lit(0).cast("decimal(18,6)"))
          .cast("decimal(18,6)").as("rev"))
    val arms = perUser.groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        sum(col("rev")).cast("double").as("sx"),
        sum((col("rev") * col("rev")).cast("decimal(38,12)"))
          .cast("double").as("sxx"))
      .select(col("arm"), col("n_users"),
        round(col("sx") / col("n_users").cast("double"), 6).as("mean_rev"),
        round((col("sxx") - col("sx") * col("sx")
            / col("n_users").cast("double"))
          / (col("n_users") - 1).cast("double"), 6).as("var_rev"))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    arms
      .withColumn("o_mean", sum(col("mean_rev")).over(all) - col("mean_rev"))
      .withColumn("o_var", sum(col("var_rev")).over(all) - col("var_rev"))
      .withColumn("o_n", sum(col("n_users")).over(all) - col("n_users"))
      .select(col("arm"), col("n_users"), col("mean_rev"), col("var_rev"),
        round((col("mean_rev") - col("o_mean")) /
          sqrt(col("var_rev") / col("n_users").cast("double") +
            col("o_var") / col("o_n").cast("double")), 6).as("z_score"))
      .orderBy("arm")
  }

  /** #149 Funnel time-to-convert distribution — #88 reports the MEAN
    * hours per stage; the mean of a conversion delay is a vanity
    * number (one week-long straggler doubles it), so this reports the
    * exact p50/p90 of signup→click and signup→purchase hours over
    * stage completers. Hours are integer-micros differences divided
    * once (identical doubles both engines); percentiles are the
    * oracle-pinned #39 interpolation, one terminal round.
    *
    * Scale: rides [[funnelPerUser]] (user-keyed window chain, one
    * shuffle); the percentiles route through [[Pctl.grouped]]
    * (VERDICT r13 #1) — one-agg exact below the size gate, the
    * blocked exact decomposition above it. */
  def funnelTimes(spark: SparkSession, dir: String): DataFrame = {
    // pin: kept by the per-call A/B in CHANGES.md (funnel_times)
    val perUser = funnelPerUser(spark, dir).localCheckpoint()
    def stage(name: String, tCol: String): DataFrame = {
      val hours = perUser.filter(col(tCol).isNotNull)
        .select(((unix_micros(col(tCol)) - unix_micros(col("t1")))
          .cast("double") / lit(3600e6)).as("h"))
      val pc = Pctl.grouped(hours, Seq.empty, col("h"), Seq(0.5, 0.9),
        Seq("plo", "phi"),
        Some(Pctl.Site(dir, "events", s"funnel_times_$name")))
      hours.agg(count(lit(1)).as("n_users"))
        .crossJoin(broadcast(pc))
        .select(lit(name).as("stage"), col("n_users"),
          round(col("plo"), 6).as("p50_hours"),
          round(col("phi"), 6).as("p90_hours"))
    }
    stage("2_click", "t2").unionByName(stage("3_purchase", "t3"))
      .orderBy("stage")
  }

  /** #150 Linear multi-touch attribution — #134 gives the last touch
    * ALL the credit; the linear model splits each purchase's value
    * equally across every touch inside the lookback (the other
    * standard marketing ledger; the two disagree exactly when upper-
    * funnel channels feed lower-funnel closers). Per-credit amounts
    * are round(value·c/n, 6) pinned to decimals before the exact
    * channel sums (sub-micro residue per purchase is the documented
    * quantization); purchases with no in-window touch land whole in
    * `unattributed`.
    *
    * Scale: the touch⋈purchase pairing is DAY-BLOCKED — each purchase
    * probes its own and the previous day's touch block (the 24 h
    * lookback spans at most two), so candidate pairs are bounded by
    * per-(user, day) density, never the user's whole history; credit
    * counting is two key-grain aggregates. The credited-pair count
    * IS the semantic output size — a user with T touches and C
    * purchases in a day defines T·C credits. */
  def attributionLinear(spark: SparkSession, dir: String): DataFrame = {
    val LookbackUs = AttributionLookbackUs
    val BlockUs = 86400L * 1000000L
    val events = Tables.load(spark, dir, "events")
    val touches = events
      .filter(col("event_type") === "click" || col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("event_type").as("channel"))
      .withColumn("t_block", floor(col("t_us") / BlockUs))
    val convs = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        unix_micros(col("ts")).as("p_us"), col("value"))
    val probes = convs
      .withColumn("t_block", explode(array(
        floor(col("p_us") / BlockUs),
        floor(col("p_us") / BlockUs) - 1)))
    val matched = probes.join(touches, Seq("user_id", "t_block"))
      .filter(col("t_us") <= col("p_us") &&
        col("p_us") - col("t_us") <= LookbackUs)
    val perConvChan = matched.groupBy("conv_id", "channel")
      .agg(count(lit(1)).as("c"), first(col("value")).as("value"))
      // pin: kept by the per-call A/B in CHANGES.md (attribution_linear)
      .localCheckpoint()
    val perConv = perConvChan.groupBy("conv_id")
      .agg(sum(col("c")).as("n"))
    val credited = perConvChan.join(perConv, "conv_id")
      .select(col("channel"), col("conv_id"), col("c"),
        round(col("value") * col("c") / col("n").cast("double"), 6)
          .cast("decimal(18,6)").as("credit"))
    val unattributed = convs
      .join(perConvChan.select("conv_id").distinct(), Seq("conv_id"),
        "left_anti")
      .select(lit("unattributed").as("channel"), col("conv_id"),
        lit(1L).as("c"),
        round(col("value"), 6).cast("decimal(18,6)").as("credit"))
    credited.unionByName(unattributed)
      .groupBy("channel")
      .agg(countDistinct(col("conv_id")).as("n_conv"),
        sum(col("c")).as("n_touches"),
        round(sum(col("credit")).cast("double"), 6).as("revenue"))
      .orderBy("channel")
  }

  /** Dimension-size bound under which [[scd2Lookup]] takes the
    * broadcast range-join plan (rows; well under the default 10 MB
    * broadcast budget for the 4-column dim projection). */
  val PitBroadcastMaxRows = 2000000L
  /** Longest per-key version chain the broadcast PIT plan accepts:
    * above this, hot-key probe cost (clicks_k × versions_k) dwarfs
    * the merge as-of's sort and the two-level path takes over. The
    * uniform ×100 corpus runs ~10²-chain dims (broadcast wins
    * 2.91 s vs 4.29 s); the 90%-one-key kill-test corpus runs a
    * ~10⁴ chain on the hot key (broadcast measured 3.98× — the
    * regression this gate closes). */
  val PitBroadcastMaxChain = 1024L

  /** #157 Point-in-time SCD2 lookup — THE canonical use of the #87
    * dimension: each click enriched with the price version valid at
    * its instant, aggregated to click traffic per (ticker, version).
    *
    * ADAPTIVE plan (the classic PIT-join decision): the [[scd2Dim]]
    * change rows are pinned once (they are counted AND joined) —
    * when the dimension is dim-sized (the overwhelmingly common
    * case: change rows are orders below the fact stream) the lookup
    * is ONE broadcast equi-join on the ticker with the validity
    * range [from, to) as a post-join predicate — no sort, no window,
    * skew-immune by construction (validity ranges are disjoint per
    * ticker, so at most one match per click; zero-duration versions
    * have an empty range, reproducing the as-of path's
    * highest-version tie policy exactly). A dimension too large to
    * broadcast falls back to the two-level [[AsOfJoin.asOf]] merge,
    * which shares the fact shuffle. The merge form measured 7.6× the
    * DuckDB twin at ×100 (it pays scd2_dim's chain AND the as-of
    * machinery); the broadcast form removes the second half.
    * Clicks before a ticker's first version report version 0 / NULL
    * price (the "early fact" audit bucket, never silently dropped). */
  def scd2Lookup(spark: SparkSession, dir: String): DataFrame = {
    // the pinned #87 dimension artifact: no change detection and no
    // chain probe per query — the stats ride the artifact
    val art = scd2Artifact(spark, dir)
    val dim = art.dim
      .select(col("ticker_id").as("d_user"),
        col("effective_from").as("d_from"),
        col("effective_to").as("d_to"),
        col("version"), col("price"))
    val clicks = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    // The broadcast hash join probes EVERY version of the click's
    // key before the range filter — O(clicks_k × versions_k) per
    // key. Fine when version chains are short, quadratic on a hot
    // key (the ×100 skew kill-test measured 3.98× when the adaptive
    // plan looked only at total dim size), so the plan choice gates
    // on the LONGEST chain as well.
    val maxChain = art.maxChain
    val joined =
      if (art.rows <= PitBroadcastMaxRows
          && maxChain <= PitBroadcastMaxChain)
        clicks.join(broadcast(dim),
          col("user_id") === col("d_user") &&
            col("ts") >= col("d_from") &&
            (col("d_to").isNull || col("ts") < col("d_to")), "left")
      else
        AsOfJoin.asOf(clicks,
          dim.select(col("d_user").as("user_id"),
            col("d_from").as("ts"), col("version"), col("price")),
          "user_id", "ts", Seq("version", "price"),
          // at an equal-instant version pile-up the HIGHEST version
          // wins (zero-duration predecessors never match [from, to))
          buildOrder = Seq(col("version")))
    joined
      .groupBy(col("user_id").as("ticker_id"),
        coalesce(col("version"), lit(0L)).as("version"))
      .agg(count(lit(1)).as("n_clicks"),
        max(col("price")).as("price"),
        Num.dsum(col("value")).as("click_value"))
      .orderBy("ticker_id", "version")
  }

  // ---- #158 snapshot diff ----
  /** Deterministic "yesterday/today" snapshot pair derived from the
    * orders table: A drops keys ≡0 (mod 97); B drops keys ≡0 (mod
    * 89), bumps o_totalprice by 100.0 for keys ≡0 (mod 101) and
    * flips o_orderstatus to 'X' for keys ≡0 (mod 103). */
  private def snapshots(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val o = Tables.load(spark, dir, "orders")
    val a = o.filter(pmod(col("o_orderkey"), lit(97L)) =!= 0)
    val b = o.filter(pmod(col("o_orderkey"), lit(89L)) =!= 0)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(101L)) === 0,
          col("o_totalprice") + 100.0).otherwise(col("o_totalprice")))
      .withColumn("o_orderstatus",
        when(pmod(col("o_orderkey"), lit(103L)) === 0, lit("X"))
          .otherwise(col("o_orderstatus")))
    (a, b)
  }

  /** #158 Snapshot diff / reconciliation report: key-joined compare
    * of two table snapshots → added / removed / changed / unchanged
    * counts plus per-column change counts — the load-validation
    * report run after every warehouse refresh ("what did today's
    * load actually do?"), the cross-snapshot twin of the in-table
    * `dq_checks` (#60) and cross-table `ref_audit` (#144).
    *
    * One full-outer hash join on the primary key (both sides pruned
    * to the compared columns at the scan), null-safe `<=>` per-column
    * compares, ONE aggregate row that a 9-way stack explodes into
    * (metric, n) rows — no second scan, no per-metric pass. Counts
    * are integers; the report is engine-exact by construction. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = snapshots(spark, dir)
    val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    // explicit presence markers — never infer absence from data
    // columns (a legitimately all-NULL row must still count present)
    val aT = a.select(col("o_orderkey") +: lit(1).as("a_present") +:
      cols.map(c => col(c).as(s"a_$c")): _*)
    val bT = b.select(col("o_orderkey") +: lit(1).as("b_present") +:
      cols.map(c => col(c).as(s"b_$c")): _*)
    val j = aT.join(bT, Seq("o_orderkey"), "full_outer")
      .withColumn("in_a", col("a_present").isNotNull)
      .withColumn("in_b", col("b_present").isNotNull)
    val changedCols = cols.map(c =>
      (!(col(s"a_$c") <=> col(s"b_$c"))).cast("long").as(s"chg_$c"))
    val flagged = j.select(Seq(col("in_a"), col("in_b")) ++
      changedCols: _*)
    val agg = flagged.agg(
      sum(col("in_a").cast("long")).as("rows_a"),
      sum(col("in_b").cast("long")).as("rows_b"),
      sum((!col("in_a") && col("in_b")).cast("long")).as("added"),
      sum((col("in_a") && !col("in_b")).cast("long")).as("removed"),
      sum(when(col("in_a") && col("in_b"),
        (cols.map(c => col(s"chg_$c")).reduce(_ + _) > 0).cast("long"))
        .otherwise(0L)).as("changed"),
      sum(when(col("in_a") && col("in_b"),
        (cols.map(c => col(s"chg_$c")).reduce(_ + _) === 0).cast("long"))
        .otherwise(0L)).as("unchanged"),
      sum(when(col("in_a") && col("in_b"), col("chg_o_totalprice"))
        .otherwise(0L)).as("chg_totalprice"),
      sum(when(col("in_a") && col("in_b"), col("chg_o_orderstatus"))
        .otherwise(0L)).as("chg_orderstatus"))
    val metrics = Seq("rows_a", "rows_b", "added", "removed", "changed",
      "unchanged", "chg_totalprice", "chg_orderstatus")
    agg.select(explode(array(metrics.map(m =>
        struct(lit(m).as("metric"), col(m).as("n"))): _*)).as("e"))
      .select(col("e.metric").as("metric"), col("e.n").as("n"))
      .orderBy("metric")
  }

  /** #170 Growth accounting — the full DAU decomposition every
    * product warehouse serves beside #162's curve: per day, actives
    * split into NEW (first-ever day), RETAINED (also active the
    * previous day) and RESURRECTED (active before, but not
    * yesterday), plus CHURNED (active yesterday, gone today;
    * attributed to the day the user went missing, right-censored at
    * the corpus edge — the final day's actives aren't churners yet).
    * Identity n_active = new + retained + resurrected is by
    * construction (spec-asserted).
    *
    * Shape: ONE distinct (user, day) collapse (map-side partial,
    * skew-immune) read by the lag classification and the churn
    * lead; per-user windows then run over
    * ≤|days| rows regardless of raw stream skew. |days| output
    * rows. */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val ad = Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val maxDay = ad.agg(max(col("day"))).head().getDate(0)
    val w = Window.partitionBy("user_id").orderBy("day")
    val flagged = ad
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .withColumn("next_day", lead(col("day"), 1).over(w))
    val perDay = flagged.groupBy("day").agg(
      count(lit(1)).as("n_active"),
      sum(col("prev_day").isNull.cast("long")).as("n_new"),
      // when(), not a bare cast: day 1 has ALL-null prev_day rows and
      // sum over all-null yields null, not 0
      sum(when(datediff(col("day"), col("prev_day")) === 1, 1L)
        .otherwise(0L)).as("n_retained"),
      sum(when(datediff(col("day"), col("prev_day")) > 1, 1L)
        .otherwise(0L)).as("n_resurrected"))
    val churn = flagged
      .filter((col("next_day").isNull ||
        datediff(col("next_day"), col("day")) > 1) &&
        col("day") < lit(maxDay))
      .select(date_add(col("day"), 1).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_churned"))
    // FULL join, not left: churn is attributed to day+1, and a
    // calendar day with zero actives must still surface its churn
    // events as an n_active=0 row instead of silently vanishing.
    perDay.join(churn, Seq("day"), "full")
      .select(col("day"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("day")
  }

  /** #162 User-growth curve: per day — distinct active users, NEW
    * users (first-ever event that day), and the cumulative distinct
    * user count (= running sum of news, the identity that makes
    * "cumulative distinct" cheap: each user contributes exactly once,
    * on their first day).
    *
    * Two key-grain aggregates (user-grain min-ts for first-seen;
    * (day, user)-grain distinct collapse for actives — both
    * partial-aggregate map-side, the skew-immune shapes) + one
    * ≤|days|-row running-sum window. |days| output rows at any
    * corpus size. */
  def userGrowth(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val firstSeen = ev.groupBy("user_id").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new"))
    val actives = ev.distinct()
      .groupBy("day").agg(count(lit(1)).as("n_active"))
    // partitionBy(lit(0)): the day table is calendar-bounded
    val w = Window.partitionBy(lit(0)).orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    actives.join(firstSeen, Seq("day"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("cum_users", sum(col("n_new")).over(w))
      .select("day", "n_active", "n_new", "cum_users")
      .orderBy("day")
  }

  /** #201 Kaplan-Meier survival curve over user lifetimes — THE
    * churn statistic: for each lifetime day t, the share of users
    * still active at t, correctly handling right-censoring (users
    * still active at the corpus edge are censored, not churned —
    * naive churn rates conflate the two; #170 counts churn events,
    * this one estimates the survival FUNCTION).
    *
    * Lifetime = last−first active day; churn iff the user vanished
    * more than [[ChurnQuietDays]] before the corpus edge. KM product
    * S(t) = Π_{s≤t}(1 − d_s/n_s) computed as exp of a cumulative
    * 9 dp-quantized ln sum (the psi discipline — a running double
    * product would be order-sensitive; here the sum is an exact
    * decimal over a calendar-bounded window), with the d = n
    * terminal cell pinned to exactly 0. Corpus-scale work is ONE
    * user-grain collapse; everything after runs on ≤|days| rows.
    *
    * Churn rule: not active on the final [[ChurnQuietDays]]+1
    * observed days. 0 (strictest — absent from the last day) is the
    * shipped default because the synthetic corpus keeps every user
    * active to within a week of the edge; production deployments
    * widen the quiet window. */
  val ChurnQuietDays = 0L

  def survivalCurve(spark: SparkSession, dir: String): DataFrame = {
    // first/last day derive from the pinned journey card: div is
    // monotone, so min(us div d) = min(us) div d — identical values
    val users = userCard(spark, dir)
      .select(col("user_id"), expr(s"f.us div $DayUs").as("f"),
        expr(s"last_us div $DayUs").as("l"))
    val maxDay = users.agg(max(col("l"))).head().getLong(0)
    val byT = users
      .select((col("l") - col("f")).as("t"),
        (col("l") < maxDay - ChurnQuietDays).cast("long").as("churned"))
      .groupBy("t")
      .agg(sum(col("churned")).as("n_churn"),
        sum(lit(1L) - col("churned")).as("n_censored"))
    val wGe = Window.partitionBy(lit(0)).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLe = Window.partitionBy(lit(0)).orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("n_at_risk",
        sum(col("n_churn") + col("n_censored")).over(wGe))
      .withColumn("lnf",
        when(col("n_churn") === 0L, lit(BigDecimal(0).bigDecimal))
          .when(col("n_churn") === col("n_at_risk"), lit(null))
          .otherwise(round(
            log(lit(1.0) - col("n_churn").cast("double")
              / col("n_at_risk").cast("double")), 9))
          .cast("decimal(28,9)"))
      .withColumn("dead",
        max((col("n_churn") === col("n_at_risk")).cast("long"))
          .over(wLe))
      .withColumn("survival",
        when(col("dead") === 1L, lit(0.0))
          .otherwise(round(exp(sum(col("lnf")).over(wLe)
            .cast("double")), 6)))
      .select(col("t"), col("n_at_risk"), col("n_churn"),
        col("n_censored"), col("survival"))
      .orderBy("t")
  }

  /** #199 Cohort LTV curve — per (signup-cohort week, age week): the
    * cohort's per-user CUMULATIVE revenue — the lifetime-value curve
    * read beside #94's retention triangle (retention counts who came
    * back; LTV integrates what they spent). Cohort = the user's
    * first PURCHASE week; revenue exact decimal micro-units; the
    * cumulative window runs over ≤|weeks| rows per cohort
    * (calendar-bounded), never over raw events.
    *
    * Scale: one purchase scan → (user, week)-grain collapse
    * (map-side) → per-user cohort via min-aggregate → (cohort, age)
    * grain — every wide stage is a hash aggregate at a bounded
    * grain. */
  def ltvCurve(spark: SparkSession, dir: String): DataFrame = {
    // the corpus-keyed (user, week) purchase collapse — shared
    val uw = userWeekRev(spark, dir)
    val cohort = uw.groupBy("user_id")
      .agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy("cohort_week")
      .agg(count(lit(1)).as("n_users"))
    val wCum = Window.partitionBy("cohort_week").orderBy("age_week")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    uw.join(cohort, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("age_week"))
      .agg(sum(col("rev_u")).as("wk_rev"))
      .withColumn("cum_rev", sum(col("wk_rev")).over(wCum))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("age_week"), col("n_users"),
        round(col("wk_rev").cast("double") / 1e6, 6).as("week_revenue"),
        round(col("cum_rev").cast("double")
          / (col("n_users").cast("double") * 1e6), 6)
          .as("ltv_per_user"))
      .orderBy("cohort_week", "age_week")
  }

  /** #196 First-touch conversion scorecard with Wilson intervals —
    * per acquisition channel (the user's first-ever event type):
    * users, converters (≥1 purchase), exact-ppm conversion rate and
    * the 95% Wilson score interval — the uncertainty-aware funnel
    * readout (#88 counts stages, #135 tests one A/B split; this
    * scores EVERY channel with a CI so small channels aren't
    * over-read).
    *
    * Engine-exact: channel via one min-of-struct aggregate (never a
    * window over raw events), counts integers, and the Wilson bounds
    * are IEEE arithmetic on identical exact operands (√ is
    * correctly-rounded everywhere), rounded 6 dp. z = 1.96 pinned. */
  def wilsonFunnel(spark: SparkSession, dir: String): DataFrame = {
    val z = 1.96
    // channel + conversion flag from the pinned journey card
    // (converted ⇔ ≥1 purchase ⇔ p_freq > 0 — same max-flag value)
    val users = userCard(spark, dir)
      .select(col("f.event_type").as("channel"),
        (col("p_freq") > 0L).cast("long").as("converted"))
    users.groupBy("channel")
      .agg(count(lit(1)).as("n_users"),
        sum(col("converted")).as("n_conv"))
      .select(col("channel"), col("n_users"), col("n_conv"),
        expr("n_conv * 1000000 div n_users").as("rate_ppm"),
        round(
          (col("n_conv").cast("double") / col("n_users").cast("double")
            + lit(z * z) / (lit(2.0) * col("n_users").cast("double"))
            - lit(z) * sqrt(
              (col("n_conv").cast("double") / col("n_users").cast("double"))
                * (lit(1.0) - col("n_conv").cast("double")
                  / col("n_users").cast("double"))
                / col("n_users").cast("double")
              + lit(z * z) / (lit(4.0) * col("n_users").cast("double")
                * col("n_users").cast("double"))))
          / (lit(1.0) + lit(z * z) / col("n_users").cast("double")), 6)
          .as("wilson_lo"),
        round(
          (col("n_conv").cast("double") / col("n_users").cast("double")
            + lit(z * z) / (lit(2.0) * col("n_users").cast("double"))
            + lit(z) * sqrt(
              (col("n_conv").cast("double") / col("n_users").cast("double"))
                * (lit(1.0) - col("n_conv").cast("double")
                  / col("n_users").cast("double"))
                / col("n_users").cast("double")
              + lit(z * z) / (lit(4.0) * col("n_users").cast("double")
                * col("n_users").cast("double"))))
          / (lit(1.0) + lit(z * z) / col("n_users").cast("double")), 6)
          .as("wilson_hi"))
      .orderBy("channel")
  }

  /** #190 DAU/WAU stickiness curve — per observed day: distinct
    * active users (DAU), trailing-7-day distinct actives (WAU), and
    * the stickiness ratio as exact integer ppm. The product-health
    * ratio served beside #162's growth curve and #170's accounting.
    *
    * Rolling distinct without a rolling-distinct engine primitive:
    * the pinned (user, day) collapse fans each row to the ≤7 future
    * days it covers, a second distinct collapses multi-active users
    * within each window, and a day-grain count finishes — three
    * map-side-combinable aggregates, never a window over raw events;
    * fan-out is 7×|user-days|, linear. */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    // the corpus-keyed (user, day) collapse — shared, built once
    val ud = userDays(spark, dir)
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        expr("dau * 1000000 div wau").as("stickiness_ppm"))
      .orderBy("day")
  }

  /** #176 RFM customer segmentation — the classic marketing
    * base-table: every purchaser scored 1-5 on Recency (last
    * purchase instant), Frequency (purchase count) and Monetary
    * (exact decimal revenue), reported as the 5×5×5 segment grid
    * with populations and revenue totals.
    *
    * Quintiles are RANK-based (equal-population, the marketing
    * convention), and the rank is the [[Rank.twoLevelRank]]
    * decomposition — the user grain is billions of rows at 100 TB,
    * so no task may sort a whole metric axis. Each metric's block id
    * is monotone in its order (recency: the day; frequency/monetary:
    * the magnitude's log — engine-LOCAL, only rank equality matters).
    * The quintile is the NTILE identity on integers,
    * q = (rn−1)·5 div n + 1 (first buckets take the remainder —
    * exactly SQL NTILE), applied to the SAME row_number arithmetic
    * in the DuckDB oracle, so scores are engine-exact including at
    * quintile boundaries. Score = 6 − q: 5 = best.
    *
    * Ties: every rank breaks on user_id; equal metric values order
    * identically on both engines (monetary compares exact decimals,
    * never floats). */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = DayUs
    // purchaser facets from the pinned journey card: p_last_us /
    // p_freq / p_mon are exactly the purchase-filtered aggregates
    // this query computed inline (conditional partials ≡ filter+agg)
    val users = userCard(spark, dir)
      .filter(col("p_freq") > 0L)
      .select(col("user_id"), col("p_last_us").as("last_us"),
        col("p_freq").as("freq"), col("p_mon").as("mon"))
    val nUsers = users.count() // cheap on the pinned card
    val scored =
      if (nUsers <= Rank.SingleTaskMax) {
        // adaptive plan (the scd2_lookup pattern): at dim-sized user
        // counts, three chained single-partition windows — ONE
        // exchange, three in-place sorts — beat the decomposition's
        // six exchanges + three user-keyed joins (measured 2.14 s vs
        // 0.55 s at ×100). Bit-identical: rank equivalence is
        // spec-proven, the quintile identity is shared arithmetic.
        val W = org.apache.spark.sql.expressions.Window
        users.select(col("user_id"), col("mon"),
          row_number().over(W.partitionBy(lit(0)).orderBy(
            col("last_us").desc,
            col("user_id").asc)).cast("long").as("rr"),
          row_number().over(W.partitionBy(lit(0)).orderBy(
            col("freq").desc,
            col("user_id").asc)).cast("long").as("fr"),
          row_number().over(W.partitionBy(lit(0)).orderBy(
            col("mon").desc,
            col("user_id").asc)).cast("long").as("mr"))
      } else {
        val r = Rank.twoLevelRank(users, Seq.empty,
          expr(s"last_us div $dayUs"), blkAscending = false,
          Seq(col("last_us").desc, col("user_id").asc), "rr", "__n")
          .select("user_id", "rr")
        val f = Rank.twoLevelRank(users, Seq.empty,
          floor(log(2.0, col("freq"))).cast("long"), blkAscending = false,
          Seq(col("freq").desc, col("user_id").asc), "fr", "__n")
          .select("user_id", "fr")
        val m = Rank.twoLevelRank(users, Seq.empty,
          floor(log(10.0, col("mon").cast("double") + 1.0)).cast("long"),
          blkAscending = false,
          Seq(col("mon").desc, col("user_id").asc), "mr", "__n")
          .select("user_id", "mon", "mr")
        r.join(f, "user_id").join(m, "user_id")
      }
    scored
      .select(col("mon"),
        (lit(6L) - (expr(s"(rr - 1) * 5 div $nUsers") + 1L))
          .as("r_score"),
        (lit(6L) - (expr(s"(fr - 1) * 5 div $nUsers") + 1L))
          .as("f_score"),
        (lit(6L) - (expr(s"(mr - 1) * 5 div $nUsers") + 1L))
          .as("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"),
        round(sum(col("mon")).cast("double"), 6).as("total_revenue"))
      .orderBy("r_score", "f_score", "m_score")
  }
}
