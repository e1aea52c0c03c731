package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Pctl
import graft.sources.Tables

/** Route-equivalence contract of the adaptive exact-percentile helper
  * (VERDICT r13 #1): the blocked decomposition must be BIT-identical
  * to Spark's own `percentile` aggregate — same interpolation
  * formula, same rank geometry — on every corpus shape that can
  * straddle differently (fractional doubles, integer ties, negative
  * values, single-row groups, the global no-key form). */
class PctlSpec extends SparkTestBase {
  import spark.implicits._

  private val Ps = Seq(0.05, 0.25, 0.5, 0.9, 0.95, 0.99)
  private val Names = Seq("q05", "q25", "q50", "q90", "q95", "q99")

  private def viaPlain(v: DataFrame, keys: Seq[String]): DataFrame =
    Pctl.groupedVia(v, keys, Ps, Names, Pctl.Plain)
  private def viaBlocked(v: DataFrame, keys: Seq[String]): DataFrame =
    Pctl.groupedVia(v, keys, Ps, Names, Pctl.Blocked)

  /** Exact double equality per (group, percentile) across routes. */
  private def assertRoutesAgree(v: DataFrame, keys: Seq[String]): Unit = {
    val p = viaPlain(v, keys).collect()
      .map(r => keys.map(r.getAs[Any]).mkString("|") ->
        Names.indices.map(i => r.getDouble(keys.length + i)))
      .toMap
    val b = viaBlocked(v, keys).collect()
      .map(r => keys.map(r.getAs[Any]).mkString("|") ->
        Names.indices.map(i => r.getDouble(keys.length + i)))
      .toMap
    assert(p.keySet === b.keySet, "route group sets must match")
    p.foreach { case (k, exact) =>
      assert(exact === b(k), s"group $k: blocked route must be " +
        s"bit-identical to percentile() (plain=$exact blocked=${b(k)})")
    }
  }

  private def ev(dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_type"), col("value").cast("double").as("__pv"))
      .filter(col("__pv").isNotNull)

  test("blocked == plain, grouped doubles (events sf0.001)") {
    assertRoutesAgree(ev(SfDir), Seq("event_type"))
  }

  test("blocked == plain, global (no keys)") {
    assertRoutesAgree(ev(SfDir).select(col("__pv")), Seq.empty)
  }

  test("blocked == plain, integer values (every block one tie class)") {
    val v = ev(SfDir).select(col("event_type"),
      floor(col("__pv")).cast("double").as("__pv"))
    assertRoutesAgree(v, Seq("event_type"))
  }

  test("blocked == plain, negatives / single-row / two-row groups") {
    val v = Seq(
      ("a", -3.75), ("a", -3.25), ("a", -0.5), ("a", 0.0), ("a", 2.5),
      ("b", 41.0),
      ("c", 1.25), ("c", 1.75),
      ("d", -2.0), ("d", -2.0), ("d", -2.0))
      .toDF("k", "__pv")
    assertRoutesAgree(v, Seq("k"))
  }

  test("grouped() public surface equals percentile() on sf0.001") {
    val got = Pctl.grouped(Tables.load(spark, SfDir, "events"),
      Seq("event_type"), col("value"), Seq(0.25, 0.5), Seq("a", "b"))
      .orderBy("event_type").collect()
    val want = Tables.load(spark, SfDir, "events")
      .groupBy("event_type")
      .agg(expr("percentile(value, array(0.25D, 0.5D))").as("ps"))
      .select(col("event_type"), element_at(col("ps"), 1).as("a"),
        element_at(col("ps"), 2).as("b"))
      .orderBy("event_type").collect()
    assert(got.toSeq === want.toSeq)
  }

  test("all-null groups emit a row with null percentiles (ADVICE r14)") {
    // matches a direct percentile(...) aggregate: the group row
    // survives with null percentile columns instead of vanishing
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(3.0)), ("a", None),
      ("z", None), ("z", None))
      .toDF("k", "v")
    val got = Pctl.grouped(df, Seq("k"), col("v"), Seq(0.5), Seq("q50"))
      .orderBy("k").collect()
    assert(got.length === 2)
    assert(got(0).getString(0) === "a" && got(0).getDouble(1) === 2.0)
    assert(got(1).getString(0) === "z" && got(1).isNullAt(1))
  }

  test("cache key folds ps and keys (ADVICE r14): same site, " +
    "different ps must not share geometry") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0))
      .toDF("k", "v")
    val ck = Some(Pctl.Site(SfDir, "events", "pctlspec_site_reuse"))
    val p50 = Pctl.grouped(df, Seq("k"), col("v"), Seq(0.5), Seq("p"),
      ck).orderBy("k").collect()
    val p25 = Pctl.grouped(df, Seq("k"), col("v"), Seq(0.25), Seq("p"),
      ck).orderBy("k").collect()
    assert(p50(0).getDouble(1) === 2.0)
    assert(p25(0).getDouble(1) === 1.5)
  }

  test("sketch route lands inside the group's value range") {
    val v = ev(SfDir)
    val sk = Pctl.groupedVia(v, Seq("event_type"), Seq(0.5), Seq("q50"),
      Pctl.Sketch).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val bounds = v.groupBy("event_type")
      .agg(min(col("__pv")).as("lo"), max(col("__pv")).as("hi")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    bounds.foreach { case (k, (lo, hi)) =>
      assert(sk(k) >= lo && sk(k) <= hi)
    }
  }
}
