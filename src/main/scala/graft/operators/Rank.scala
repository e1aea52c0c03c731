package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Shared TWO-LEVEL global-rank decomposition (SURVEY.md §5): a
  * global `row_number` (or running sum) without any task ever sorting
  * a whole key space — the one copy of the pattern. Consumers:
  * [[twoLevelRank]] — [[Curation.qualityFilter]], [[Skew.skewReport]],
  * [[TrainExport.balanceBuckets]], [[TrainExport.assignIds]],
  * [[Dimensional.rfmSegments]], [[LmFilter.zipfFit]],
  * [[Olap.quantileBins]], [[Sampling.balanceDownsample]];
  * [[twoLevelPrefixSum]] — [[Analytics.abcAnalysis]],
  * [[Intervals.concurrencyPeak]], [[Sampling.systematicSample]].
  *
  * Decomposition: rows carry a caller-chosen BLOCK id that is
  * monotone in the global order's leading key (so blocks partition
  * the order into contiguous runs). Level 1 ranks inside each
  * (partition, block) — bounded by the block's population, many
  * tasks. Level 2 builds the |blocks|-row cumulative-offset table
  * and broadcast-joins it back: global rank = block offset + local
  * rank. Equivalence to the single-window form is RankSpec-proven
  * and oracle-checked on every consumer (the DuckDB twin ranks with
  * ONE window).
  */
object Rank {

  /** Adaptive-plan threshold (the scd2_lookup pattern): below this
    * row count the two-level decomposition's extra exchanges cost
    * more than ONE task sorting the whole key space, so consumers
    * switch to the plain single-window form (bit-identical by the
    * spec-proven rank equivalence). 5M rows sort in well under a
    * second on one core; above it the decomposition wins and is the
    * only shape that survives 100 TB. */
  val SingleTaskMax = 5000000L

  /** Adaptive single-window bound for the KEYED ordered-window family
    * (as-of merges, interval sweeps, attribution): at or below this
    * many input rows the single-window form — one exchange, one
    * in-task sort per key partition — beats the two-level
    * decomposition's extra summary/carry exchanges, and even a
    * 90%-one-key corpus sorts ≤ 500k rows in one task in ~100-200 ms.
    * Deliberately an order of magnitude below [[SingleTaskMax]]: the
    * skew kill-tests (ScaleBench mode=skew) run at mult ≥ 10
    * (≥ 1M events), so every skewed gate corpus keeps exercising the
    * two-level shape — the gate can never hide a reintroduced
    * one-task sort from SKEW_full.json. Equivalence of the two forms
    * is spec-proven per operator (AsOfTwoLevelSpec, IntervalsSpec,
    * AttributionTwoLevelSpec, SessionTwoLevelSpec). */
  val SingleWindowMax = 500000L

  /** The keyed ordered-window family's route (as-of joins, interval
    * merge, attribution, sessions): two-level iff `dir`'s `events`
    * table has more than [[SingleWindowMax]] rows. */
  def keyedTwoLevel(spark: SparkSession, dir: String): Boolean =
    Tables.rowCount(spark, dir, "events") > SingleWindowMax

  /** Adds `rankName` (1-based global row_number within `part` over
    * `order`) and `nName` (the partition's row count) to `df`.
    *
    * @param blk   block id column — MUST be monotone non-increasing
    *              ordering-wise with `order`'s leading key when
    *              `blkAscending` matches the order direction; rows
    *              with equal `order` prefixes may share blocks freely
    * @param order total order WITHIN a partition (include a unique
    *              tiebreak — ranks must be deterministic)
    */
  def twoLevelRank(df: DataFrame, part: Seq[String], blk: Column,
      blkAscending: Boolean, order: Seq[Column],
      rankName: String, nName: String): DataFrame = {
    val withBlk = df.withColumn("__blk", blk)
    val partCols = part.map(col)
    val wLocal = Window.partitionBy((partCols :+ col("__blk")): _*)
      .orderBy(order: _*)
    val local = withBlk
      .withColumn("__lrnk", row_number().over(wLocal).cast("long"))
    // partitionBy(lit(0)) when `part` is empty: the offsets table is
    // |blocks|-row bounded, so one partition is the intended shape —
    // the literal key DOCUMENTS that intent (ADVICE r21: it does NOT
    // silence WindowExec's "No Partition Defined" warning — Catalyst
    // constant-folds the key away; the bench harnesses quiet that
    // logger instead, see Bench.scala) without changing the
    // computation
    val wOff = (if (part.isEmpty) Window.partitionBy(lit(0))
                else Window.partitionBy(partCols: _*))
      .orderBy(if (blkAscending) col("__blk").asc else col("__blk").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wN =
      if (part.isEmpty) Window.partitionBy(lit(0))
      else Window.partitionBy(partCols: _*)
    val offsets = withBlk
      .groupBy((partCols :+ col("__blk")): _*)
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(sum(col("__c")).over(wOff), lit(0L)))
      .withColumn(nName, sum(col("__c")).over(wN))
      .select((partCols ++ Seq(col("__blk"), col("__off"), col(nName))): _*)
    local.join(broadcast(offsets), part :+ "__blk")
      .withColumn(rankName, col("__off") + col("__lrnk"))
      .drop("__blk", "__lrnk", "__off", "__c")
  }

  /** Adds `name` (EXCLUSIVE prefix sum of `value` in the global
    * `order` within `part`) and `totalName` (the partition's total) —
    * the same decomposition as [[twoLevelRank]] with sums instead of
    * counts (and the #89 pack_sequences shape, factored): block-local
    * running sums + broadcast cumulative block offsets. `blk` must be
    * monotone ASCENDING with `order`'s leading key. */
  def twoLevelPrefixSum(df: DataFrame, part: Seq[String], blk: Column,
      order: Seq[Column], value: Column,
      name: String, totalName: String): DataFrame = {
    val withBlk = df.withColumn("__blk", blk).withColumn("__v", value)
    val partCols = part.map(col)
    val wLocal = Window.partitionBy((partCols :+ col("__blk")): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = withBlk
      .withColumn("__lsum", coalesce(sum(col("__v")).over(wLocal), lit(0L)))
    // same bounded-offsets single-partition naming as twoLevelRank
    val wOff = (if (part.isEmpty) Window.partitionBy(lit(0))
                else Window.partitionBy(partCols: _*))
      .orderBy(col("__blk").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wN =
      if (part.isEmpty) Window.partitionBy(lit(0))
      else Window.partitionBy(partCols: _*)
    val offsets = withBlk
      .groupBy((partCols :+ col("__blk")): _*)
      .agg(sum(col("__v")).as("__bs"))
      .withColumn("__off", coalesce(sum(col("__bs")).over(wOff), lit(0L)))
      .withColumn(totalName, sum(col("__bs")).over(wN))
      .select((partCols ++ Seq(col("__blk"), col("__off"),
        col(totalName))): _*)
    local.join(broadcast(offsets), part :+ "__blk")
      .withColumn(name, col("__off") + col("__lsum"))
      .drop("__blk", "__v", "__lsum", "__off", "__bs")
  }
}
