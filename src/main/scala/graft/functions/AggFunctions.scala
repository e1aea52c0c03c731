package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import graft.functions.expressions.{BloomAgg, BloomMightContain, FreqSketchAgg, TopKAgg, VecMomentsAgg}

/** Column API over the custom Catalyst aggregates. */
object AggFunctions {

  /** Bounded-heap top-k aggregate: the k largest (value, id) pairs
    * per group as array<struct<value, id>> in (value desc, id asc)
    * order. O(k) state per group per task, merged map-side — the
    * scale-safe alternative to the window row_number form, whose
    * per-group full sort melts on hot keys (see TopKAgg scaladoc). */
  def topK(value: Column, id: Column, k: Int): Column =
    GraftSqlBridge.column(TopKAgg(GraftSqlBridge.expression(value),
      GraftSqlBridge.expression(id), k).toAggregateExpression())

  /** Distributed Bloom-filter build over a bigint hash column:
    * partial bitsets OR-merge map-side (no driver-side construction);
    * result is the self-describing binary the probe reads. */
  def bloomAgg(hash: Column, numBits: Int, numHashes: Int): Column =
    GraftSqlBridge.column(BloomAgg(GraftSqlBridge.expression(hash),
      numBits, numHashes).toAggregateExpression())

  /** Misra-Gries heavy-hitters sketch over a bigint key: ≤ capacity
    * tracked candidates per group per task, merged map-side; counts
    * exact (max_err=0) while the key domain fits the capacity, and
    * never over-estimated past it. Result:
    * struct<items array<struct<item, est>>, max_err>. */
  def freqSketch(key: Column, capacity: Int): Column =
    GraftSqlBridge.column(FreqSketchAgg(GraftSqlBridge.expression(key),
      capacity).toAggregateExpression())

  /** Per-dimension embedding moments in one pass, no row explode:
    * O(dims) mergeable state (count, exact integer micro-unit Σvu /
    * Σvu², min/max, zero count per dim) — the scan-shaped form of the
    * feature card. Result: array<struct<dim, n, su, suu, min_v,
    * max_v, n_zero>>, dim-ascending. */
  def vecMoments(vec: Column): Column =
    GraftSqlBridge.column(VecMomentsAgg(GraftSqlBridge.expression(vec))
      .toAggregateExpression())

  /** Membership probe against a built filter (no false negatives). */
  def bloomMightContain(filter: Column, hash: Column): Column =
    GraftSqlBridge.column(BloomMightContain(
      GraftSqlBridge.expression(filter), GraftSqlBridge.expression(hash)))
}
