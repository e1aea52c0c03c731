package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** Exact grouped interpolated percentiles that survive hot groups
  * (VERDICT r13 #1 — the last named scale-killer).
  *
  * Spark's `percentile(...)` aggregate buffers a group's ENTIRE value
  * multiset in one task's heap — a 10⁹-row group at 100 TB is one
  * executor's OOM. This helper keeps the answer bit-identical to
  * `percentile` (PctlSpec pins route equality) while bounding every
  * task, by routing on a cached corpus analysis:
  *
  *  - **plain** (every group ≤ [[Rank.SingleTaskMax]] rows): the
  *    one-aggregate `percentile(...)` form — cheapest at small scale
  *    and the route every driver-gate corpus takes, so oracle hashes
  *    ride the exact plan they always did.
  *  - **blocked** (bigger groups, values spread over integer blocks):
  *    the #96 quantile-bins decomposition generalized to arbitrary
  *    ranks. ONE map-side-combinable (group, floor(value)) block
  *    aggregate reduces the corpus to block counts; rank geometry
  *    (cumulative offsets, per-group n, the ≤ 2·|ps| needed ranks)
  *    lives on that tiny table; ONLY blocks containing a needed rank
  *    — ≤ 2·|ps| per group at ANY corpus size — are re-read through
  *    a value-range predicate the parquet scan prunes with, sorted
  *    block-locally (ties share a block, so the value at a rank is
  *    deterministic), and interpolated with `percentile`'s own
  *    (ceil(pos)−pos)·v_lo + (pos−floor(pos))·v_hi formula at
  *    pos = p·(n−1). Trades one extra (pruned) pass for O(block)
  *    task memory.
  *  - **sketch** (a single VALUE block above the bound — ties so
  *    concentrated no tie-respecting block key can spread them): the
  *    mergeable Greenwald-Khanna `approx_percentile` at
  *    [[Olap.SketchAccuracy]] — rank error ≤ n/accuracy, the
  *    documented #79 trade and the only shape left when a billion
  *    rows share one value's block but percentiles must not OOM.
  *
  * The analysis (route + the blocked route's rank geometry — both
  * BOUNDED corpus statistics: the geometry is ≤ 3·|ps|·|groups|
  * driver rows, never data-sized) is a [[graft.CorpusCache]] value
  * per (corpus, call site): build once, query many. Steady state for
  * a blocked-route consumer is then ONE pruned fetch pass, exactly
  * like a warehouse engine planning from table statistics. Callers
  * must feed non-null, non-NaN values (all call sites filter or
  * construct them so).
  */
object Pctl {

  sealed trait Route
  case object Plain extends Route
  case object Blocked extends Route
  case object Sketch extends Route

  /** Blocked-route rank geometry — bounded driver state:
    * `needed` rows are (key..., pi, pos, rl, rh) — one per (group,
    * percentile); `fetch` rows are (key..., blk, base) — the ≤ 2·|ps|
    * straddling blocks per group with their cumulative rank bases. */
  private case class Geo(keySchema: Seq[StructField],
      needed: Array[Row], fetch: Array[Row])

  private sealed trait Entry
  private case object PlainE extends Entry
  private case object SketchE extends Entry
  /** `anyAllNull`: the corpus has ≥1 group whose values are ALL null
    * (absent from the block table) — only then does the blocked route
    * pay a group-set join to emit those groups' null rows. A BOUNDED
    * flag, not a group list (group counts are data-sized at 100 TB). */
  private case class BlockedE(geo: Geo, anyAllNull: Boolean) extends Entry

  /** Where [[grouped]] caches its corpus analysis: the corpus table
    * and the call site (see [[graft.CorpusCache]]). */
  case class Site(dir: String, table: String, name: String)

  /** One row per `keys` combination, with `names(i)` = the exact
    * interpolated `ps(i)` percentile of `value` (raw double — callers
    * apply their own terminal rounding). A group whose values are ALL
    * null still emits its row with null percentiles — SQL aggregate
    * semantics, same as a direct `percentile(...)` (ADVICE r14).
    * `keys` empty = one global row (non-empty input assumed). */
  def grouped(df: DataFrame, keys: Seq[String], value: Column,
      ps: Seq[Double], names: Seq[String],
      site: Option[Site] = None): DataFrame = {
    require(ps.nonEmpty && ps.length == names.length)
    // full projection (nulls kept): percentile/approx_percentile skip
    // nulls natively, so the plain/sketch routes emit all-null groups
    // as null-percentile rows at no extra pass; the blocked route
    // restores them with a group-set left join below
    val vAll =
      df.select((keys.map(col) :+ value.cast("double").as("__pv")): _*)
    val v = vAll.filter(col("__pv").isNotNull)
    // geometry depends on ps AND the grouping keys — folded into the
    // site so a site name reused with other ps/keys can't serve
    // mismatched geometry (ADVICE r14)
    val entry = site match {
      case Some(Site(dir, table, name)) =>
        graft.CorpusCache.value(df.sparkSession, dir, table,
          s"$name|ps=${ps.mkString(",")}|keys=${keys.mkString(",")}")(
          analyze(vAll, v, keys, ps))
      case None => analyze(vAll, v, keys, ps)
    }
    entry match {
      case PlainE => plain(vAll, keys, ps, names, exact = true)
      case SketchE => plain(vAll, keys, ps, names, exact = false)
      case BlockedE(geo, anyAllNull) =>
        val res = blockedFetch(v, keys, ps, names, geo)
        // all-null groups (rare; flag cached with the analysis) are
        // restored with ONE map-side-combinable group distinct +
        // left join; otherwise steady state stays one pruned pass
        if (!anyAllNull || keys.isEmpty) res
        else vAll.select(keys.map(col): _*).distinct()
          .join(res, keys, "left")
    }
  }

  /** One pass over the (pinned, tiny) block table: route stats AND —
    * when the blocked route applies — its full rank geometry plus the
    * all-null-group flag (one extra vAll group count, paid only at
    * analysis time and only on the blocked route). */
  private def analyze(vAll: DataFrame, v: DataFrame, keys: Seq[String],
      ps: Seq[Double]): Entry = {
    val keyCols = keys.map(col)
    val blocks = v.withColumn("__blk", floor(col("__pv")))
      .groupBy(keyCols :+ col("__blk"): _*)
      .agg(count(lit(1)).as("__c"))
      // pin: analysis only, cached per site; stats + geometry read it
      .localCheckpoint()
    val stats = blocks.groupBy(keyCols: _*)
      .agg(sum(col("__c")).as("__n"), max(col("__c")).as("__mb"))
      .agg(max(col("__n")), max(col("__mb"))).head()
    val (maxN, maxBlk) =
      if (stats.isNullAt(0)) (0L, 0L)
      else (stats.getLong(0), stats.getLong(1))
    if (maxN <= Rank.SingleTaskMax) PlainE
    else if (maxBlk > Rank.SingleTaskMax) SketchE
    else {
      val anyAllNull = keys.nonEmpty && {
        val gAll = vAll.select(keyCols: _*).distinct().count()
        val gData = blocks.select(keyCols: _*).distinct().count()
        gAll > gData
      }
      BlockedE(buildGeo(blocks, v.schema, keys, ps), anyAllNull)
    }
  }

  /** Rank geometry from a pinned block table (shared by [[analyze]]
    * and the spec's gate-bypassing forced route). */
  private def buildGeo(blocks: DataFrame, vSchema: StructType,
      keys: Seq[String], ps: Seq[Double]): Geo = {
    val keyCols = keys.map(col)
    val wCum = (if (keys.isEmpty) Window.partitionBy(lit(0))
      else Window.partitionBy(keyCols: _*))
      .orderBy(col("__blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val geo = blocks
      .withColumn("__base", coalesce(sum(col("__c")).over(wCum), lit(0L)))
    val groups = blocks.groupBy(keyCols: _*).agg(sum(col("__c")).as("__n"))
    val needed = groups.select(keyCols ++ Seq(
      posexplode(array(ps.map { p =>
        val pos = lit(p) * (col("__n") - 1L).cast("double")
        struct(pos.as("pos"),
          (floor(pos) + 1L).as("rl"), (ceil(pos) + 1L).as("rh"))
      }: _*))): _*)
      .select(keyCols ++ Seq(col("pos").as("__pi"),
        col("col.pos").as("__pos"),
        col("col.rl").as("__rl"), col("col.rh").as("__rh")): _*)
    val neededRows = needed.collect()
    def renamed(df: DataFrame, prefix: String, extra: Seq[Column]) =
      df.select(keys.zipWithIndex.map { case (k, i) =>
        col(k).as(s"$prefix$i") } ++ extra: _*)
    def keyEq(prefix: String): Column = keys.indices
      .map(i => col(keys(i)) === col(s"$prefix$i"))
      .foldLeft(lit(true))(_ && _)
    val ranks = renamed(
      needed.select(keyCols :+
        explode(array(col("__rl"), col("__rh"))).as("__r"): _*),
      "__rk", Seq(col("__r"))).distinct()
    val fetchRows = geo
      .join(ranks, keyEq("__rk") && col("__base") < col("__r") &&
        col("__r") <= col("__base") + col("__c"))
      .select(keyCols ++ Seq(col("__blk"), col("__base")): _*)
      .distinct()
      .collect()
    Geo(keys.map(k => vSchema(k)), neededRows, fetchRows)
  }

  private def plain(v: DataFrame, keys: Seq[String], ps: Seq[Double],
      names: Seq[String], exact: Boolean): DataFrame = {
    val keyCols = keys.map(col)
    val arr = ps.map(p => s"cast($p as double)")
      .mkString("array(", ", ", ")")
    val agg =
      if (exact) expr(s"percentile(__pv, $arr)")
      else expr(s"approx_percentile(__pv, $arr, ${Olap.SketchAccuracy})")
    v.groupBy(keyCols: _*)
      .agg(agg.as("__ps"))
      .select(keyCols ++ names.zipWithIndex.map { case (n, i) =>
        element_at(col("__ps"), i + 1).cast("double").as(n) }: _*)
  }

  /** The blocked route's steady-state work: ONE pass over the rows of
    * the ≤ 2·|ps|-per-group straddling blocks (a literal value-range
    * predicate the scan pushes down), block-local sort, interpolate. */
  private def blockedFetch(v: DataFrame, keys: Seq[String],
      ps: Seq[Double], names: Seq[String], geo: Geo): DataFrame = {
    val spark = v.sparkSession
    val keyCols = keys.map(col)
    val nk = keys.length
    if (geo.fetch.isEmpty)
      return v.groupBy(keyCols: _*)
        .agg(count(lit(1)).as("__z"))
        .select(keyCols ++ names.map(n =>
          lit(null).cast("double").as(n)): _*)
        .filter(lit(false))
    val neededSchema = StructType(geo.keySchema ++ Seq(
      StructField("__pi", IntegerType, nullable = false),
      StructField("__pos", DoubleType, nullable = false),
      StructField("__rl", LongType, nullable = false),
      StructField("__rh", LongType, nullable = false)))
    val needed = spark.createDataFrame(
      java.util.Arrays.asList(geo.needed: _*), neededSchema)
    def keyPred(r: Row): Column = keys.zipWithIndex
      .map { case (k, i) => col(k) === lit(r.get(i)) }
      .foldLeft(lit(true))(_ && _)
    val pred = geo.fetch.map { r =>
      keyPred(r) && col("__pv") >= lit(r.getLong(nk).toDouble) &&
        col("__pv") < lit(r.getLong(nk) + 1.0)
    }.reduce(_ || _)
    val baseCol = coalesce(geo.fetch.map { r =>
      when(keyPred(r) && col("__blk") === lit(r.getLong(nk)),
        lit(r.getLong(nk + 1)))
    }.toSeq: _*)
    // block-local sort by value only: equal values share a block, so
    // the VALUE at each global rank is deterministic without any
    // row-identity tiebreak
    val wIn = Window.partitionBy(keyCols :+ col("__blk"): _*)
      .orderBy(col("__pv"))
    def renamed(df: DataFrame, prefix: String, extra: Seq[Column]) =
      df.select(keys.zipWithIndex.map { case (k, i) =>
        col(k).as(s"$prefix$i") } ++ extra: _*)
    def keyEq(prefix: String): Column = keys.indices
      .map(i => col(keys(i)) === col(s"$prefix$i"))
      .foldLeft(lit(true))(_ && _)
    val ranks = renamed(
      needed.select(keyCols :+
        explode(array(col("__rl"), col("__rh"))).as("__r"): _*),
      "__rk", Seq(col("__r"))).distinct()
    val ranked = v.filter(pred)
      .withColumn("__blk", floor(col("__pv")))
      .withColumn("__rn", baseCol + row_number().over(wIn).cast("long"))
    val vals = ranked.join(broadcast(ranks),
        keyEq("__rk") && col("__rn") === col("__r"))
      .select(keyCols :+ col("__rn").as("__vr") :+
        col("__pv").as("__val"): _*)
    val lo = renamed(vals, "__lk",
      Seq(col("__vr").as("__rlo"), col("__val").as("__vlo")))
    val hi = renamed(vals, "__hk",
      Seq(col("__vr").as("__rhi"), col("__val").as("__vhi")))
    val joined = needed
      .join(broadcast(lo), keyEq("__lk") && col("__rl") === col("__rlo"))
      .join(broadcast(hi), keyEq("__hk") && col("__rh") === col("__rhi"))
      .select(keyCols ++ Seq(col("__pi"), col("__pos"),
        col("__rl"), col("__rh"), col("__vlo"), col("__vhi")): _*)
    // percentile's exact formula: pos integral → v_lo; else
    // (ceil(pos)−pos)·v_lo + (pos−floor(pos))·v_hi  (floor/ceil(pos)
    // = __rl−1 / __rh−1 by construction)
    val interp = when(col("__rl") === col("__rh"), col("__vlo"))
      .otherwise(
        ((col("__rh") - 1L).cast("double") - col("__pos")) * col("__vlo") +
          (col("__pos") - (col("__rl") - 1L).cast("double")) * col("__vhi"))
    joined.withColumn("__out", interp)
      .groupBy(keyCols: _*)
      .agg(names.zipWithIndex.map { case (n, i) =>
        max(when(col("__pi") === i, col("__out"))).as(n) }.head,
        names.zipWithIndex.tail.map { case (n, i) =>
          max(when(col("__pi") === i, col("__out"))).as(n) }: _*)
  }

  /** Route-forced internals for PctlSpec (fresh analysis, no cache):
    * `v` must already be the (keys, __pv) projection, nulls dropped. */
  private[graft] def groupedVia(v: DataFrame, keys: Seq[String],
      ps: Seq[Double], names: Seq[String], route: Route): DataFrame =
    route match {
      case Plain => plain(v, keys, ps, names, exact = true)
      case Sketch => plain(v, keys, ps, names, exact = false)
      case Blocked =>
        // always build geometry (gate bypassed) so specs exercise the
        // blocked machinery on sub-gate corpora
        val blocks = v.withColumn("__blk", floor(col("__pv")))
          .groupBy(keys.map(col) :+ col("__blk"): _*)
          .agg(count(lit(1)).as("__c"))
          // pin: spec-only route hook, as analyze pins its blocks
          .localCheckpoint()
        blockedFetch(v, keys, ps, names,
          buildGeo(blocks, v.schema, keys, ps))
    }
}
