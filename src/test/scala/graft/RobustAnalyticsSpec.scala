package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Dimensional, StockOps, TimeSeries, TextOps}
import graft.sources.Tables

/** §2.M round-13 operators: market-model beta (#132), segment dedup
  * (#133), last-touch attribution (#134), experiment scorecard
  * (#135), blocked fuzzy linkage (#136), seasonal decomposition
  * (#137), median/MAD outlier screen (#138). */
class RobustAnalyticsSpec extends SparkTestBase {

  test("rolling_beta: a day's betas average to ~1 under the sum-index " +
    "definition, and a single-ticker minute has beta exactly 1") {
    val beta = StockOps.rollingBeta(spark, SfDir).cache()
    assert(beta.count() > 0)
    // where a ticker is alone on every minute it trades, kM == k so
    // beta == 1 exactly; verify on rows the data exhibits
    val rv = StockOps.realizedVol(spark, SfDir)
      .select(col("ticker_id"), col("day"), col("n_rets"))
    val j = beta.join(rv, Seq("ticker_id", "day"))
    assert(j.filter(col("n_obs") =!= col("n_rets")).count() === 0)
    // beta is null only when the index variance is zero (kM = 0 on
    // every observed minute); all other rows are finite
    assert(beta.filter(col("beta").isNotNull && isnan(col("beta")))
      .count() === 0)
  }

  test("paragraph_dedup: audit sums are conserved and the keeper set " +
    "has exactly one occurrence per distinct segment") {
    val d = TextOps.paragraphDedup(spark, SfDir).cache()
    val docs = Tables.load(spark, SfDir, "documents").count()
    assert(d.count() === docs)
    // kept + nothing-missing: n_kept <= n_paras, chars partition
    assert(d.filter(col("n_kept") > col("n_paras")).count() === 0)
    // a doc whose every segment already appeared earlier keeps zero —
    // the fully-boilerplate page; the corpus-wide first copy survives
    assert(d.filter(col("n_kept") === 0).count() < d.count())
    // total kept segments == distinct segment hashes in the corpus
    val totalKept = d.agg(sum("n_kept")).head().getLong(0)
    val toks = Tables.load(spark, SfDir, "documents")
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), floor((size(col("toks")) - 1) / 10).cast("int")),
        i => array_join(slice(col("toks"), i * 10 + 1, lit(10)), " ")))
        .as(Seq("pos", "para")))
      .filter(length(col("para")) > 0)
      .select("para").distinct().count()
    assert(totalKept === toks)
  }

  test("attribution: channel totals conserve the purchase ledger") {
    val a = Dimensional.attribution(spark, SfDir).cache()
    val purchases = Tables.load(spark, SfDir, "events")
      .filter(col("event_type") === "purchase")
    assert(a.agg(sum("n_conv")).head().getLong(0) === purchases.count())
    // channels are only the touch types + unattributed
    val chans = a.select("channel").collect().map(_.getString(0)).toSet
    assert(chans.subsetOf(Set("click", "view", "unattributed")))
    // revenue conserves to the exact ledger total
    val total = a.agg(round(sum("revenue"), 4)).head().getDouble(0)
    val ledger = purchases
      .agg(round(graft.operators.Num.dsum(col("value")), 4))
      .head().getDouble(0)
    assert(math.abs(total - ledger) < 1e-3)
  }

  test("experiment_stats: two arms partition the population; z is " +
    "antisymmetric") {
    val s = Dimensional.experimentStats(spark, SfDir).cache()
    val rows = s.collect()
    assert(rows.length === 2)
    val users = Tables.load(spark, SfDir, "events")
      .select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum === users)
    val zs = rows.map(_.getAs[Double]("z_score"))
    assert(math.abs(zs(0) + zs(1)) < 2e-6) // rounded at 6 dp each
    assert(rows.forall(_.getAs[Double]("var_rev") >= 0.0))
  }

  test("fuzzy_join: entity pairs stay inside brand blocks, satisfy " +
    "the distance bound, and the prefilter loses nothing") {
    val f = Dedup.fuzzyLinkage(spark, SfDir).cache()
    assert(f.count() > 0)
    // distinct entities ⇒ distance ≥ 1; threshold caps at 2
    assert(f.filter(col("dist") < 1 || col("dist") > 2).count() === 0)
    assert(f.filter(col("a_name") >= col("b_name")).count() === 0)
    // completeness vs the unfiltered brute force: the length
    // prefilter and banded DP must drop NO qualifying pair
    val e = Tables.load(spark, SfDir, "part")
      .select(col("p_brand"), col("p_name")).distinct()
    val brute = e.as("a")
      .join(e.as("b"), col("a.p_brand") === col("b.p_brand") &&
        col("a.p_name") < col("b.p_name"))
      .filter(levenshtein(col("a.p_name"), col("b.p_name")) <= 2)
      .count()
    assert(f.count() === brute)
  }

  test("seasonal_decomp: spine is the dense calendar, decomposition " +
    "reconstructs revenue where trend is defined") {
    val d = TimeSeries.seasonalDecomp(spark, SfDir).cache()
    val n = d.count()
    val span = d.agg(datediff(max("day"), min("day"))).head().getInt(0)
    assert(n === span + 1) // dense daily spine
    // trend null exactly on the 3-row edges
    assert(d.filter(col("trend").isNull).count() === 6)
    // rev == trend + seasonal + residual (all rounded to 6 dp)
    val bad = d.filter(col("trend").isNotNull &&
      abs(col("revenue") - col("trend") - col("seasonal")
        - col("residual")) > lit(2e-6)).count()
    assert(bad === 0)
  }

  test("skew_report: two-level rank reproduces the single-window " +
    "Gini exactly; shares bounded") {
    val r = graft.operators.Skew.skewReport(spark, SfDir).cache()
    assert(r.count() === 5)
    assert(r.filter(col("gini") < 0 || col("gini") >= 1).count() === 0)
    assert(r.filter(col("top1_share") > col("top10_share")).count() === 0)
    // brute single-window twin (the oracle's form) must agree on the
    // exact Gini — proving the block-rank decomposition
    val keyed = Tables.load(spark, SfDir, "events")
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("cnt").asc, col("user_id").asc)
    val brute = keyed
      .withColumn("rnk", row_number().over(w).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("nk"), sum("cnt").as("nr"),
        sum((lit(2L) * col("rnk") - 1L).cast("decimal(38,0)") * col("cnt"))
          .as("gnum"))
      .select(col("event_type"),
        round((col("gnum") - col("nk").cast("decimal(38,0)") * col("nr"))
            .cast("double")
          / (col("nk").cast("decimal(38,0)") * col("nr")).cast("double"),
          6).as("gini_brute"))
    val j = r.join(brute, "event_type")
    assert(j.filter(col("gini") =!= col("gini_brute")).count() === 0)
  }

  test("cms_freq: the sketch never underestimates, and the probe set " +
    "is the exact top-20") {
    val r = graft.operators.Frequency.cmsFreq(spark, SfDir).cache()
    val nUsers = Tables.load(spark, SfDir, "events")
      .select("user_id").distinct().count()
    assert(r.count() === math.min(20L, nUsers))
    assert(r.filter(col("overcount") < 0).count() === 0,
      "CMS underestimated — hash or merge broken")
    assert(r.filter(col("est") =!= col("exact_cnt") + col("overcount"))
      .count() === 0)
    // probe set = exact top-20 by (cnt desc, key asc)
    val top = Tables.load(spark, SfDir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("user_id").asc).limit(20)
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(r.select("user_id").collect().map(_.getLong(0)).toSet === top)
  }

  test("embed_stats: one row per dimension, coherent moment bounds") {
    val r = graft.operators.Similarity.embedStats(spark, SfDir).cache()
    val nvec = Tables.load(spark, SfDir, "embeddings").count()
    assert(r.count() > 0)
    assert(r.filter(col("n") =!= nvec).count() === 0,
      "every dimension must see every vector")
    assert(r.filter(col("mean") < col("min_v") - lit(1e-6) ||
      col("mean") > col("max_v") + lit(1e-6)).count() === 0)
    assert(r.filter(col("std") < 0 || isnan(col("std"))).count() === 0)
  }

  test("VecMomentsAgg raw moments ≡ the explode + groupBy(dim) form " +
    "it replaced (exact-equality contract, round 17)") {
    import org.apache.spark.sql.functions._
    val e = graft.operators.Similarity.emb(spark, SfDir)
    val agg = e
      .agg(graft.functions.AggFunctions.vecMoments(col("vec")).as("ms"))
      .select(explode(col("ms")).as("m")).select("m.*")
    val inline = e
      .select(posexplode(col("vec")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"), col("v"),
        round(col("v") * lit(1000000.0), 0).cast("long").as("vu"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum(col("vu")).as("su"),
        sum(col("vu") * col("vu")).as("suu"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"),
        sum(when(col("v") === 0.0, 1L).otherwise(0L)).as("n_zero"))
    val a = agg.collect().map(_.toString).toSet
    val b = inline.collect().map(_.toString).toSet
    assert(a === b)
  }

  test("VecMomentsAgg on the raw array<float> column ≡ on the " +
    "asDouble cast (float→double widening exactness)") {
    import org.apache.spark.sql.functions._
    def run(c: org.apache.spark.sql.Column) =
      Tables.load(spark, SfDir, "embeddings")
        .agg(graft.functions.AggFunctions.vecMoments(c).as("ms"))
        .select(explode(col("ms")).as("m")).select("m.*")
        .collect().map(_.toString).toSet
    assert(run(col("embedding")) ===
      run(graft.functions.VectorFunctions.asDouble(col("embedding"))))
  }

  test("VecMomentsAgg.roundHalfUp ≡ shortest-decimal HALF_UP on " +
    "adversarial doubles (binade ties, odd ints ≥ 2^52 — ADVICE r17 #1)") {
    import graft.functions.expressions.VecMomentsAgg.roundHalfUp
    def ref(x: Double): Long =
      java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    // the documented old-kernel failures: pred(0.5) (fl(x+0.5) ties
    // up to 1.0; shortest-repr HALF_UP says 0) and odd integers in
    // [2^52, 2^53) (fl(x+0.5) ties up to x+1)
    val pred05 = java.lang.Math.nextDown(0.5)
    assert(roundHalfUp(pred05) === 0L && ref(pred05) === 0L)
    assert(roundHalfUp(-pred05) === 0L)
    val oddBig = (1L << 52) + 1L
    assert(roundHalfUp(oddBig.toDouble) === oddBig)
    assert(roundHalfUp(-oddBig.toDouble) === -oddBig)
    // exact ties round away from zero on both paths
    Seq(0.5, 1.5, 2.5, -0.5, -1.5, -2.5, 1048576.5, -1048576.5)
      .foreach { x => assert(roundHalfUp(x) === ref(x), s"tie $x") }
    // ulp-neighborhood sweep around many .5 boundaries + randoms:
    // kernel must equal the BigDecimal reference everywhere
    val rnd = new scala.util.Random(18)
    def ulps(v: Double, k: Int): Double = {
      val b = java.lang.Double.doubleToLongBits(v)
      java.lang.Double.longBitsToDouble(b + k)
    }
    for (_ <- 1 to 20000) {
      val k = rnd.nextLong(1L << 50)
      val x0 = ulps(k + 0.5, rnd.nextInt(9) - 4)
      val x = if (rnd.nextBoolean()) x0 else -x0
      assert(roundHalfUp(x) === ref(x), s"boundary sweep $x")
      val y = rnd.nextDouble() * math.pow(10, rnd.nextInt(16)) *
        (if (rnd.nextBoolean()) 1 else -1)
      assert(roundHalfUp(y) === ref(y), s"random $y")
    }
    // loud failure posture preserved
    intercept[ArithmeticException](roundHalfUp(Double.NaN))
    intercept[ArithmeticException](roundHalfUp(Double.PositiveInfinity))
    intercept[ArithmeticException](roundHalfUp(1e19))
  }

  test("RpCoords degenerate inputs match the replaced join form: " +
    "empty → no groups, all-null non-empty → 8 NULL coords (ADVICE r17 #3)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq[Option[Double]](Some(0.25), None, Some(-1.0)))),
      (2L, Some(Seq[Option[Double]]())), // empty vector
      (3L, Some(Seq[Option[Double]](None, None))) // all-null elements
    ).toDF("vec_id", "v")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.rpCoords(
          col("v").cast("array<double>")).as("cs"))
    val byId = df.collect().map(r => r.getLong(0) ->
      r.getSeq[Any](1)).toMap
    assert(byId(1L).length === 8 && byId(1L).forall(_ != null))
    assert(byId(2L).isEmpty, "empty vector must emit an empty array")
    assert(byId(3L).length === 8 && byId(3L).forall(_ == null),
      "all-null vector must emit 8 NULL coords like the join form")
    // and the SQL join form agrees on the all-null case: posexplode
    // keeps (d, null) rows, the sign join matches on d, sum(null)=null
    val joinForm = Seq((3L, Seq[Option[Double]](None, None)))
      .toDF("vec_id", "v")
      .select(col("vec_id"),
        posexplode(col("v").cast("array<double>")).as(Seq("d", "x")))
      .crossJoin(spark.range(8).select(col("id").as("j")))
      .groupBy("vec_id", "j").agg(sum(col("x")).as("coord"))
    assert(joinForm.count() === 8)
    assert(joinForm.filter(col("coord").isNotNull).count() === 0)
  }

  test("rp_moments: an all-null-vector corpus yields n_pos = 0 " +
    "(the oracle's CASE … ELSE 0), never NULL (ADVICE r18 #3)") {
    import spark.implicits._
    // every vector all-null ⇒ every (proj_dim) group's coords are all
    // NULL — the one input where sum((coord>0)::long) and the SQL
    // CASE/ELSE-0 diverge (NULL vs 0); reachable since the RpCoords
    // all-null path (ADVICE r17 #3) emits 8 NULL coords
    val dir = new java.io.File(tempDir("graft_rpnull"))
    try {
      Seq(
        (1L, Seq[Option[Float]](None, None, None), 0),
        (2L, Seq[Option[Float]](None, None), 1))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite")
        .parquet(new java.io.File(dir, "embeddings.parquet").getPath)
      val r = graft.operators.Similarity
        .rpMoments(spark, dir.getPath).collect()
      assert(r.length === 8)
      r.foreach { row =>
        assert(!row.isNullAt(row.fieldIndex("n_pos")),
          "n_pos must be 0 on an all-NULL group, not NULL")
        assert(row.getAs[Long]("n_pos") === 0L)
        assert(row.getAs[Long]("n_vecs") === 2L)
        assert(row.isNullAt(row.fieldIndex("su")),
          "sum over all-NULL coords stays NULL on both engines")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("co_occurrence: supports bounded by part frequencies, " +
    "basket-pair symmetry respected") {
    val r = graft.operators.Analytics.coOccurrence(spark, SfDir).cache()
    assert(r.count() > 0 && r.count() <= 20)
    assert(r.filter(col("pa") >= col("pb")).count() === 0)
    // support can never exceed either part's order count
    assert(r.filter(col("support") > col("ca") ||
      col("support") > col("cb")).count() === 0)
    assert(r.filter(col("lift") <= 0).count() === 0)
  }

  test("ref_audit: the synthetic warehouse is referentially clean " +
    "and totals match the tables") {
    val r = graft.operators.Analytics.refAudit(spark, SfDir).cache()
    assert(r.count() === 6)
    // driver testdata is FK-clean by construction: every check green
    assert(r.filter(col("n_bad") =!= 0L).count() === 0)
    val li = Tables.load(spark, SfDir, "lineitem").count()
    assert(r.filter(col("check_name") === "lineitem_orphan_order")
      .head().getAs[Long]("n_total") === li)
  }

  test("join_cardinality: the exact estimate matches the realized " +
    "join, worst key dominates nothing it shouldn't") {
    val r = graft.operators.Analytics.joinCardinality(spark, SfDir)
      .cache()
    assert(r.count() === 3)
    // est_rows for lineitem⋈orders == the actual join's cardinality
    val est = r.filter(col("join_edge") === "lineitem_orders")
      .head().getAs[Long]("est_rows")
    val real = Tables.load(spark, SfDir, "lineitem")
      .join(Tables.load(spark, SfDir, "orders"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(est === real)
    assert(r.filter(col("top_contrib") > col("est_rows")).count() === 0)
    assert(r.filter(col("n_match_keys") > col("d_left") ||
      col("n_match_keys") > col("d_right")).count() === 0)
  }

  test("pagerank: rank mass is conserved within floor loss, top-20 " +
    "well-formed") {
    val r = graft.operators.Components.pageRank(spark, SfDir).cache()
    assert(r.count() > 0 && r.count() <= 20)
    assert(r.filter(col("rank_u") < graft.operators.Components.PrBase)
      .count() === 0, "a node can never fall below the base rank")
    // ranks strictly ordered by (rank_u desc, part_id asc)
    val rows = r.collect()
    rows.sliding(2).foreach { case Array(a, b) =>
      val ra = a.getAs[Long]("rank_u"); val rb = b.getAs[Long]("rank_u")
      assert(ra > rb || (ra == rb &&
        a.getAs[Long]("part_id") < b.getAs[Long]("part_id")))
    case _ => ()
    }
  }

  test("trending: scores are the exact integer ratio and the gates " +
    "hold on every emitted row") {
    val r = graft.operators.StockOps.trendingActivity(spark, SfDir)
      .cache()
    assert(r.count() > 0 && r.count() <= 20)
    assert(r.filter(col("cnt") < graft.operators.StockOps.TrendMinCount)
      .count() === 0)
    assert(r.filter(col("sum_prev") <= 0).count() === 0)
    assert(r.filter(abs(col("trend_score") -
      round(col("cnt") * lit(7) / col("sum_prev").cast("double"), 6))
      > lit(0.0)).count() === 0)
  }

  test("drift_psi: both features report, PSI nonnegative, one-sided " +
    "bins counted") {
    val r = graft.operators.Olap.driftPsi(spark, SfDir).cache()
    assert(r.count() === 2)
    // PSI is a sum of (p-q)ln(p/q) terms, each >= 0
    assert(r.filter(col("psi") < 0).count() === 0)
    assert(r.filter(col("n_one_sided") > col("n_bins")).count() === 0)
    val ord = Tables.load(spark, SfDir, "orders").count()
    assert(r.filter(col("n_ref") + col("n_cur") =!= ord).count() === 0)
  }

  test("funnel_times: percentile summary coheres with funnel_stages") {
    val t = Dimensional.funnelTimes(spark, SfDir).cache()
    assert(t.count() === 2)
    assert(t.filter(col("p50_hours") > col("p90_hours")).count() === 0)
    assert(t.filter(col("p50_hours") < 0).count() === 0)
    // stage populations equal the mean-based report's
    val s = Dimensional.funnelStages(spark, SfDir)
      .filter(col("stage") =!= "1_signup")
      .select(col("stage"), col("n_users").as("n_s"))
    assert(t.join(s, "stage").filter(col("n_users") =!= col("n_s"))
      .count() === 0)
  }

  test("attribution_linear: credit conserves the ledger within the " +
    "6dp quantization, channels partition the purchases") {
    val lin = Dimensional.attributionLinear(spark, SfDir).cache()
    val purchases = Tables.load(spark, SfDir, "events")
      .filter(col("event_type") === "purchase")
    // every purchase is credited somewhere (multi-touch ones in >1
    // channel, so n_conv sums to >= the purchase count)
    assert(lin.agg(sum("n_conv")).head().getLong(0) >= purchases.count())
    val total = lin.agg(sum("revenue")).head().getDouble(0)
    val ledger = purchases
      .agg(graft.operators.Num.dsum(col("value"))).head().getDouble(0)
    // each credit rounds to 6dp: residue < 5e-7 per credit
    assert(math.abs(total - ledger) < 0.01)
    // last-touch and linear agree on the unattributed set (same
    // lookback, same touch definition)
    val lastU = Dimensional.attribution(spark, SfDir)
      .filter(col("channel") === "unattributed")
      .select("n_conv").collect().headOption.map(_.getLong(0))
      .getOrElse(0L)
    val linU = lin.filter(col("channel") === "unattributed")
      .select("n_conv").collect().headOption.map(_.getLong(0))
      .getOrElse(0L)
    assert(lastU === linU)
  }

  test("robust_outliers: MAD gate fires on a minority; med/mad " +
    "nonnegative where values are") {
    val r = TimeSeries.robustOutliers(spark, SfDir).cache()
    assert(r.count() === 5) // the five event types
    assert(r.filter(col("n_out") > col("n") / 2).count() === 0)
    assert(r.filter(col("mad") < 0).count() === 0)
    // the z-score screen (#85 uses mean/σ) and this MAD screen agree
    // that SOME rows are ordinary: n_out < n for every group
    assert(r.filter(col("n_out") >= col("n")).count() === 0)
  }
}
