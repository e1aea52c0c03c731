package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-agnostic numeric aggregation helpers.
  *
  * Double sums are order-dependent, and Spark's partitioned partial
  * aggregation sums in nondeterministic order — so a plain
  * `sum(double)` can differ run-to-run AND from the DuckDB oracle in
  * the last ulp. Casting to decimal first makes the sum exact and
  * therefore independent of partitioning (any cluster size gives the
  * bit-identical answer). `decimal(28,6)` cannot hit a rounding tie:
  * no double is exactly k+0.5 × 10⁻⁶ (the denominator has a factor
  * 5⁶, which is not dyadic), so Spark's HALF_UP and DuckDB's
  * round-to-nearest agree on every representable input.
  */
object Num {
  val Dec = "decimal(28,6)"

  /** Exact, order-independent sum of a double column → double.
    *
    * The row values are cast to decimal(18,6) — long-backed, so the
    * cast is the only per-row BigDecimal touch — and their unscaled
    * longs are summed by [[graft.functions.expressions.DecimalSum128]]
    * on the codegen'd fixed-width hash-agg path (~2× the built-in
    * decimal Sum's throughput; see that kernel's doc). The exact
    * 128-bit total → decimal(38,6) → double is bit-identical to the
    * previous `cast(sum(cast(x as decimal(28,6))) as double)` form
    * and to the DuckDB oracle, which both compute the same exact
    * rational. ANSI bound: inputs must be |x| < 10^12 (monetary /
    * quantity scale) or the 18,6 cast fails loudly. */
  def dsum(c: Column): Column = dsumUnscaled(unscaled6(c))

  /** The unscaled long of `c` rounded to 6 dp (= 10^6 × round6(c),
    * exactly). Double columns — every hot caller — go through the
    * alloc-free [[graft.functions.expressions.Unscaled6]] kernel
    * (bit-identical to the decimal cast, BigDecimal only on
    * undecidable ties; see its scaladoc — removing the per-row
    * BigDecimal was round 10's q1 partial-agg fix). Anything else
    * keeps the long-backed decimal(18,6) cast. ANSI: |c| ≥ 10^12
    * fails loudly on both paths. */
  def unscaled6(c: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    // type-routed at analysis time: double children take the
    // alloc-free kernel (values the fast path cannot decide —
    // including every |x| ≥ 4.5e9 — fall to its exact BigDecimal
    // branch, so the 6-dp result is the decimal cast's,
    // bit-identical); any other numeric keeps the long-backed
    // decimal(18,6) cast, which never loses integer digits to a
    // double round-trip
    GraftSqlBridge.column(graft.functions.expressions.Unscaled6Any(
      GraftSqlBridge.expression(c)))
  }

  /** Raw 128-bit exact sum of a LONG column as decimal(38,6) — the
    * unscaled value of the result IS the exact integer Σc (the kernel
    * interprets inputs as micro-units). Callers needing the plain
    * integer sum rescale with `* 1000000` at group grain (exact). */
  def dsum128Raw(c: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(
      graft.functions.expressions.DecimalSum128(
        GraftSqlBridge.expression(c))
        .toAggregateExpression())
  }

  /** 128-bit exact sum of [[unscaled6]] longs → double. Bounded
    * intermediate sums of unscaled6 values (e.g. per-order partials
    * summed by the built-in long sum) can be re-summed with this at
    * any scale — the accumulator is 128-bit. */
  def dsumUnscaled(c: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(
      graft.functions.expressions.DecimalSum128(
        GraftSqlBridge.expression(c))
        .toAggregateExpression())
      .cast("double")
  }

  /** Exact mean: decimal sum / count, divided in double (deterministic
    * given identical operands). */
  def davg(c: Column): Column = dsum(c) / count(c).cast("double")

  /** [[dsum]] kept as exact decimal(38,6) — for partials that will be
    * re-summed (e.g. salted phase-1 aggregates, whose group sizes are
    * unbounded by design). */
  def dsumExact(c: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(
      graft.functions.expressions.DecimalSum128(
        GraftSqlBridge.expression(unscaled6(c)))
        .toAggregateExpression())
  }
}
