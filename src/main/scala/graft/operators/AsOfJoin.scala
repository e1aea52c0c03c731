package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** As-of join (SURVEY.md §2 #18): for each probe row, the newest
  * build-side value at or before the probe's timestamp per key — the
  * reference's "currentPrice at fetch time" semantics
  * (/root/reference/dags/stock_data_to_gcp.py:47).
  *
  * Spark lacks a native as-of join; the scalable composition is the
  * union-merge trick: tag both sides, single shuffle+sort on
  * (key, ts), then a running `last_value(ignoreNulls)` carries the
  * build value forward onto each probe row. Cost = one shuffle of
  * probe+build and one sort per partition — same asymptotics as a
  * sort-merge join, no per-key driver loop, no range cross-product.
  * (Chosen over a custom SparkPlan because the composition already
  * yields the right physical shape; SURVEY.md §4 preference (a).)
  */
object AsOfJoin {

  /** Generic as-of join carrying any number of typed build columns.
    * `build` must either be unique per (key, ts), or supply
    * `buildOrder` — a deterministic within-timestamp ordering whose
    * LAST row wins at equal (key, ts) (e.g. `Seq(col("value"))` ≙
    * "max value per instant"). Folding the tie policy into the ONE
    * merge sort this operator already pays replaces the pre-aggregate
    * callers would otherwise need — at 100 TB that pre-aggregate is a
    * full extra shuffle of the build side. The carried payload is
    * packed into one struct so `last(ignoreNulls)` forwards all
    * columns atomically; output columns keep their build-side names
    * and types. */
  def asOf(probe: DataFrame, build: DataFrame, key: String, ts: String,
      valueCols: Seq[String], buildOrder: Seq[Column] = Nil): DataFrame =
    asOfImpl(probe, build, key, ts, valueCols, buildOrder,
      twoLevel = true)

  /** [[asOf]] core, parameterized for the equivalence spec.
    *
    * `twoLevel = true` (the production path, round 14): the running
    * `last(build)` is computed within (key, day-block) and stitched
    * with a per-block winning-build carry — the ScaleBench skew
    * kill-test measured the single per-key window at 2.3× on a
    * 90%-one-key corpus (a hot ticker's whole probe+build history
    * sorted in ONE task, the exact attribution-#134 failure), and
    * the block decomposition returns it to ~1×. Equivalence: blocks
    * partition a key's timeline monotonically, so the global running
    * last is the block-local last when one exists, else the last
    * winner of any EARLIER block (a ≤|days|-row per-key window over
    * block summaries; the summary max-of-struct (ts, tie-order,
    * payload) picks exactly the row the merge sort's "winner last"
    * ordering would). Probe-only blocks get their carry through the
    * distinct (key, block) spine, never dropped. */
  private[graft] def asOfImpl(probe: DataFrame, build: DataFrame,
      key: String, ts: String, valueCols: Seq[String],
      buildOrder: Seq[Column], twoLevel: Boolean): DataFrame = {
    val payload = struct(valueCols.map(col): _*)
    val b = build.select((Seq(col(key), col(ts),
      lit(1).as("_is_build"), payload.as("_bpay")) ++
      buildOrder.zipWithIndex.map { case (c, i) => c.as(s"_bord$i") })
      .toIndexedSeq: _*)
    val p = probe.withColumn("_is_build", lit(0))
      .withColumn("_bpay", lit(null).cast(b.schema("_bpay").dataType))
    val unioned = p.select((probe.columns.map(col) ++
      Seq(col("_is_build"), col("_bpay"))).toIndexedSeq: _*)
      .unionByName(b, allowMissingColumns = true)
    // Sort order within a key: ts asc; at equal ts build rows BEFORE
    // probe rows (_is_build desc — "at or before" includes equality;
    // this also makes _bordN irrelevant between builds and probes);
    // among equal-ts build rows the caller's tie order ASC puts the
    // winner last, where the running last() picks it up. nulls_first
    // keeps a null-ordered build row from beating a non-null one —
    // the same verdict an aggregate max() would reach.
    val ordCols = Seq(col(ts).asc, col("_is_build").desc) ++
      buildOrder.indices.map(i => col(s"_bord$i").asc_nulls_first)
    val carried =
      if (twoLevel) {
        val blockUs = 86400L * 1000000L
        val blocked = unioned
          .withColumn("_blk", floor(unix_micros(col(ts)) / blockUs))
        val wLoc = Window.partitionBy(col(key), col("_blk"))
          .orderBy(ordCols: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // each block's WINNING build row: max over (ts, tie-order,
        // payload) — struct comparison treats null as smallest, the
        // same verdict as asc_nulls_first's "winner sorts last"
        val summaryKey = struct((col(ts).as("_sts") +:
          buildOrder.indices.map(i => col(s"_bord$i").as(s"_so$i"))) :+
          col("_bpay").as("_sp"): _*)
        val summaries = blocked.filter(col("_is_build") === 1)
          .groupBy(col(key), col("_blk"))
          .agg(max(summaryKey).as("_m"))
          .select(col(key), col("_blk"), col("_m._sp").as("_bwin"))
        // carry spine over ALL present blocks (probe-only blocks
        // must still receive the previous block's winner)
        val wBlk = Window.partitionBy(key).orderBy(col("_blk"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val carries = blocked.select(col(key), col("_blk")).distinct()
          .join(summaries, Seq(key, "_blk"), "left")
          .withColumn("_carry",
            last(col("_bwin"), ignoreNulls = true).over(wBlk))
          .select(col(key), col("_blk"), col("_carry"))
        // left: a probe whose key or block is null has no carry row
        // but still belongs in the output, as in the single window
        blocked
          .withColumn("_lfwd",
            last(col("_bpay"), ignoreNulls = true).over(wLoc))
          .join(carries, Seq(key, "_blk"), "left")
          .withColumn("_fwd", coalesce(col("_lfwd"), col("_carry")))
          .drop("_blk", "_lfwd", "_carry")
          .filter(col("_is_build") === 0)
      } else {
        val w = Window.partitionBy(key)
          .orderBy(ordCols: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        unioned
          .withColumn("_fwd",
            last(col("_bpay"), ignoreNulls = true).over(w))
          .filter(col("_is_build") === 0)
      }
    valueCols.foldLeft(carried) { (df, c) =>
      df.withColumn(c, col(s"_fwd.$c"))
    }.drop((Seq("_is_build", "_bpay", "_fwd") ++
      buildOrder.indices.map(i => s"_bord$i")): _*)
  }

  /** Single-column convenience overload (previous API). */
  def asOf(probe: DataFrame, build: DataFrame, key: String, ts: String,
      valueCol: String, outName: String): DataFrame =
    asOf(probe, build.withColumnRenamed(valueCol, outName), key, ts,
      Seq(outName))

  /** Query #18: each click joined to the user's latest purchase value
    * at or before the click. Equal-timestamp purchases resolve to the
    * max value via the merge sort's build ordering — the previous
    * groupBy(user_id, ts).max pre-aggregate (a full build-side
    * shuffle BEFORE the join's own shuffle) is folded away. */
  def clicksAsOfPurchases(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val probe = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val build = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("asof_value"))
    // forms AsOfTwoLevelSpec-proven equal
    asOfImpl(probe, build, "user_id", "ts", Seq("asof_value"),
      buildOrder = Seq(col("asof_value")),
      twoLevel = Rank.keyedTwoLevel(spark, dir))
      .select("event_id", "user_id", "ts", "asof_value")
      .orderBy("event_id")
  }

  /** Staleness bound for [[clicksAsOfFresh]]: 30 minutes. */
  val ToleranceS = 1800L

  /** #128 Bounded-staleness as-of join: the market-data contract is
    * not "the latest price EVER" but "the latest price, and only if
    * it is recent enough to act on" — a quote that is hours old is
    * worse than no quote (the reference's `currentPrice` consumers
    * assume feed freshness implicitly; this makes the bound
    * explicit). Built as a pure COMPOSITION over [[asOf]]: the build
    * side carries its own timestamp as one more payload column, and
    * the tolerance check is a per-row projection afterwards — the
    * merge-sort machinery (and its cost shape) is reused verbatim,
    * no new operator physics. The freshest match older than the
    * bound nulls out (any older match is staler still, so null is
    * the correct verdict, not a fallback search). Age is exact
    * integer micros arithmetic, no float comparisons. */
  def clicksAsOfFresh(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val probe = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val build = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("asof_value"),
        col("ts").as("asof_ts"))
    val ageUs = unix_micros(col("ts")) - unix_micros(col("asof_ts"))
    val fresh = col("asof_ts").isNotNull &&
      ageUs <= lit(ToleranceS * 1000000L)
    asOfImpl(probe, build, "user_id", "ts",
      Seq("asof_value", "asof_ts"),
      buildOrder = Seq(col("asof_value")),
      twoLevel = Rank.keyedTwoLevel(spark, dir))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(fresh, col("asof_value")).as("asof_value"),
        when(fresh, (ageUs / lit(1000000L)).cast("long")).as("age_s"))
      .orderBy("event_id")
  }
}
