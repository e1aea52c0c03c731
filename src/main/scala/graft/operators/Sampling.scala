package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Deterministic sampling / dataset-split operators (SURVEY.md §2
  * #45) — the reproducibility backbone of a training-data pipeline:
  * the same row lands in the same split on every run, every engine,
  * every cluster size, because membership is a pure function of the
  * row's id (Knuth multiplicative hashing), not of an RNG stream or
  * partition layout (`df.sample` depends on both).
  *
  * Scale: split assignment is a per-row projection (no shuffle, no
  * state); downstream consumers filter on the split column, and the
  * filter pushes to the scan when the column is materialized at
  * write time.
  */
object Sampling {

  val SplitBuckets = 1000
  /** train/val/test = 80/10/10 by bucket range. */
  val ValFrom = 800
  val TestFrom = 900

  /** Knuth multiplicative-hash bucket in [0, SplitBuckets). The id is
    * first reduced mod a large prime so the multiply never overflows
    * a long for ANY id (ANSI mode throws on wrap-around); the same
    * arithmetic runs verbatim in any SQL engine. */
  def hashBucket(id: Column): Column =
    pmod(pmod(id, lit(1000000007L)) * lit(2654435761L),
      lit(SplitBuckets.toLong))

  /** Full-width (mod 1e9+7) variant of the split hash — the selection
    * ORDER for caps. 1000 buckets are fine for split MEMBERSHIP but
    * degenerate as an ordering key: a group with ≫1000·cap members
    * would pick all its winners from bucket 0 by lowest id (a
    * systematic old-document bias on crawl-ordered ids). ~2^30
    * distinct values make ties vanishingly rare; < 2^53, so exact as
    * a double. */
  def hashKey(id: Column): Column =
    pmod(pmod(id, lit(1000000007L)) * lit(2654435761L),
      lit(1000000007L))

  /** Sampling bucket DECORRELATED from the split hash (different
    * Knuth multiplier): stratified downsampling must compose
    * independently with train/val/test assignment — with the same
    * hash, every kept row of a downsampled class would land in the
    * train range and the val/test splits would lose the class
    * entirely. */
  def sampleBucket(id: Column): Column =
    pmod(pmod(id, lit(1000000007L)) * lit(2246822519L),
      lit(SplitBuckets.toLong))

  /** Split label as a pure function of the id. */
  def splitLabel(id: Column): Column = {
    val b = hashBucket(id)
    when(b < ValFrom, "train").when(b < TestFrom, "val").otherwise("test")
  }

  /** Per-stratum sampling rates (per mille) — e.g. keep all rare
    * signups/errors, downsample the view firehose. */
  val StratumPerMille: Map[String, Int] = Map(
    "view" -> 50, "click" -> 100, "purchase" -> 1000, "signup" -> 1000,
    "error" -> 1000)

  /** #53 Stratified deterministic sampling: per-class keep rates
    * applied via the same id-hash bucket — reproducible class
    * rebalancing (the train-set curation move), no RNG, no
    * partition-layout dependence. One scan; the survivor set is a
    * pure function of (id, class). */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = StratumPerMille.foldLeft(lit(0)) { case (acc, (k, v)) =>
      when(col("event_type") === k, lit(v)).otherwise(acc)
    }
    Tables.load(spark, dir, "events")
      .filter(sampleBucket(col("event_id")) < rate)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"), Num.dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  val GroupCapN = 20

  /** #65 Per-group capping: keep at most N documents per source —
    * the domain-balancing move of a training-data pipeline ("no
    * domain may dominate the mix"). Selection order is
    * (full-width hash, id): uniform-random in aggregate yet a pure
    * function of the id, so every run, engine, and cluster size
    * keeps the same documents. Runs on the bounded-heap TopKAgg
    * (O(cap) state per group, map-side merge) rather than a window
    * sort — a 100 TB web domain with 10^9 pages must not be sorted
    * end-to-end to keep 20 of them. */
  def groupCap(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(graft.functions.AggFunctions.topK(
        -hashKey(col("doc_id")).cast("double"), col("doc_id"), GroupCapN)
        .as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1L).as("rnk"),
        col("col.id").as("doc_id"))
      .orderBy("source", "rnk")

  /** Expected sample size for [[ppsSample]]. */
  val PpsK = 500L

  /** #95 PPS (probability-proportional-to-size) Poisson sampling +
    * Horvitz-Thompson totals: each order is kept with probability
    * p_i = min(1, k·w_i/Σw) from the SAME deterministic hash-uniform
    * as the splits — big orders are (near-)certain, small ones rare,
    * expected sample size k — and the HT estimator Σ w_i/p_i over the
    * kept rows sits next to the exact stratum total it estimates.
    * This is the importance-sampling shape a pipeline uses to audit
    * a 100 TB fact table from a bounded sample. One scan + one
    * broadcast scalar (Σw); membership is again engine/cluster-pure
    * (only *,/ arithmetic — no libm calls in the keep decision). */
  def ppsSample(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val totals = o.agg(Num.dsum(col("o_totalprice")).as("sum_w"))
    val exact = o.groupBy("o_orderpriority")
      .agg(Num.dsum(col("o_totalprice")).as("exact_total"))
    o.crossJoin(broadcast(totals))
      .withColumn("u", hashKey(col("o_orderkey")).cast("double") / 1000000007d)
      .withColumn("p",
        least(lit(1d), lit(PpsK).cast("double") * col("o_totalprice")
          / col("sum_w")))
      .filter(col("u") < col("p"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_kept"),
        Num.dsum(col("o_totalprice")).as("sum_kept"),
        Num.dsum(col("o_totalprice") / col("p")).as("ht_total"))
      .join(broadcast(exact), "o_orderpriority")
      .select(col("o_orderpriority"), col("n_kept"), col("sum_kept"),
        col("ht_total"), col("exact_total"))
      .orderBy("o_orderpriority")
  }

  /** #45 `sample_hash`: per (event_type, split) row counts and value
    * totals — proves the assignment is total, disjoint, and
    * proportioned. One scan, one aggregate shuffle. */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .withColumn("split", splitLabel(col("event_id")))
      .groupBy("event_type", "split")
      .agg(count(lit(1)).as("n_events"), Num.dsum(col("value")).as("sum_value"))
      .orderBy("event_type", "split")

  /** Seed for the [[balanceDownsample]] keep order. */
  val BalanceSeed = 53L

  /** Cached per-corpus balance statistics: per class its row count
    * and the (skey, doc_id) pair at rank = min class count — the
    * selection THRESHOLD. Bounded driver state (|langs| rows), the
    * Pctl-geometry shape: selection geometry is a corpus statistic,
    * probed once, after which the steady state is ONE scan with a
    * literal lexicographic keep predicate — no rank, no window, no
    * second pass (VERDICT r14 #6; the ×100 A/B measured the window
    * route at 1.7 s vs 0.65 s for the thresholded scan). */
  private case class BalanceStats(counts: Seq[(String, Long)],
    thresholds: Map[String, (Long, Long)])

  /** Row bound for [[balanceDownsample]]'s per-class window route
    * inside the threshold PROBE (above it the two-level rank
    * decomposition runs — the 100 TB path: the majority class is the
    * hot key and must not sort on one task). */
  val BalanceWindowMax = 1000000L

  /** #205 Balanced class downsampling — equalize class populations
    * by keeping exactly min-class-count rows per class, chosen in
    * deterministic md5 order (the hard-equalization rebalance next
    * to #123's temperature mixing and #53's per-class rates; this
    * one guarantees EQUAL counts, which loss-weighting-free
    * training recipes want). Selection geometry — class counts and
    * each class's rank-minCount (skey, doc_id) threshold — is a
    * bounded corpus statistic probed once (per-class
    * [[Rank.twoLevelRank]] above the window gate, so the majority
    * class never sorts on one task); steady state is ONE scan with a
    * literal lexicographic keep predicate, reported as the per-class
    * audit with an id checksum over the kept set (the kept rows
    * themselves are a filter consumers chain on). */
  def balanceDownsample(spark: SparkSession, dir: String): DataFrame = {
    // Round 13 (VERDICT r12 #5): no checkpoint. The old plan pinned
    // (doc_id, lang, skey) to feed three actions; but the class-count
    // probe needs NO md5 — a bare (lang → count) aggregate over the
    // pruned two-column scan is strictly cheaper than writing+reading
    // the checkpoint, and its |langs|-row collect also answers the
    // adaptive gate's total. The md5 sort key is then computed
    // exactly once, inside the single ranked pass.
    // SNAPSHOT ASSUMPTION (ADVICE r13): the count probe and the
    // ranked pass below are two independent scans of the same path —
    // correct because testdata corpora are immutable within a run; a
    // corpus rewritten in place between the two actions would need
    // both derived from one pinned scan (the VersionedTable snapshot
    // protocol is the repo's answer to mutable tables).
    // Corpus-keyed probe cache (round 15, VERDICT r14 #6): class
    // counts AND the per-class selection threshold — the (skey,
    // doc_id) pair at rank minCount — are bounded corpus statistics
    // (the Pctl-geometry pattern). The probe pays the ranked pass
    // once per corpus; every later call is ONE scan with a literal
    // lexicographic keep predicate.
    def skeyed(df: DataFrame): DataFrame = df
      .select(col("doc_id"), col("lang"),
        conv(substring(md5(concat_ws(":", lit(BalanceSeed),
          col("doc_id"))), 25, 8), 16, 10).cast("long").as("skey"))
    def probe: BalanceStats = {
      val counts = Tables.load(spark, dir, "documents")
        .groupBy("lang").agg(count(lit(1)).as("c"))
        .collect().toSeq.map(r => r.getString(0) -> r.getLong(1))
      if (counts.isEmpty) return BalanceStats(counts, Map.empty)
      val minCount = counts.map(_._2).min
      val total = counts.map(_._2).sum
      val docs = skeyed(Tables.load(spark, dir, "documents"))
      val ranked =
        if (total <= BalanceWindowMax) {
          // small corpora: per-class window, one exchange; above the
          // gate the two-level decomposition keeps the hot majority
          // class off a single sort task (the 100 TB path)
          val W = org.apache.spark.sql.expressions.Window
          docs.withColumn("rnk", row_number().over(W.partitionBy("lang")
            .orderBy(col("skey").asc, col("doc_id").asc)).cast("long"))
        } else
          Rank.twoLevelRank(docs, Seq("lang"),
            expr("skey div 16777216"), blkAscending = true,
            Seq(col("skey").asc, col("doc_id").asc), "rnk", "nn")
      val thr = ranked.filter(col("rnk") === minCount)
        .select(col("lang"), col("skey"), col("doc_id"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2))).toMap
      BalanceStats(counts, thr)
    }
    val stats = graft.CorpusCache.value(spark, dir, "documents",
      "balance_counts")(probe)
    // empty corpus: every class audit row vanishes downstream anyway;
    // min on an empty collection would throw (ADVICE r13)
    val docs = skeyed(Tables.load(spark, dir, "documents"))
    // kept ⇔ (skey, doc_id) ≤ₗₑₓ the class threshold — exactly the
    // rows rnk ≤ minCount selected (rank order IS (skey, doc_id));
    // a class absent from the threshold map keeps nothing (defensive:
    // cannot happen — every class has ≥ minCount rows). Null-safe
    // match (ADVICE r15 #3): a NULL lang class is a real partition in
    // the probe (groupBy keeps it, it can even set minCount), so its
    // branch must fire — `===` against null is null and the class
    // would silently keep 0 rows.
    val kept = stats.thresholds.foldLeft(lit(false)) {
      case (acc, (lang, (ts, td))) =>
        when(col("lang") <=> lit(lang),
          col("skey") < ts ||
            (col("skey") === ts && col("doc_id") <= td)).otherwise(acc)
    }
    docs
      .groupBy("lang")
      .agg(count(lit(1)).as("n_before"),
        sum(kept.cast("long")).as("n_kept"),
        sum(when(kept, pmod(col("doc_id"), lit(1000003L)))
          .otherwise(0L)).as("kept_checksum"))
      .orderBy("lang")
  }

  /** Sample size for [[systematicSample]]. */
  val SysK = 50L
  /** Seed for the systematic order key (changing it reorders the
    * circle — a different but equally valid systematic draw). */
  val SysSeed = 77L

  /** #183 Systematic PPS sampling without replacement — the exact,
    * division-free alternative to the Poisson draw (#95 pps_sample):
    * lay the corpus on a weight line in a seeded md5-permuted order,
    * drop k midpoint-spaced grid points (2i+1)·W/2k, and select every
    * document whose weight interval contains a point. Exactly k hits
    * total (multi-hits when w > W/k), inclusion probability ∝ weight
    * — the classic fixed-size PPS design, and every membership
    * decision is INTEGER: with A = 2k·cum and B = 2k·(cum+w), the
    * document's grid-index window is [⌈A/W⌉, ⌈B/W⌉) over odd j, so
    * n_hits = ⌊(⌈B/W⌉+1)/2⌋ − ⌊(⌈A/W⌉+1)/2⌋ with every operand
    * non-negative (floor ≡ truncate ≡ both engines' integer
    * division — no signed-division semantics in sight).
    *
    * Scale: the exclusive prefix sum is [[Rank.twoLevelPrefixSum]]
    * (block-local running sums + broadcast block offsets over the
    * 2²⁴-wide key blocks) — no task ever scans the corpus in order;
    * everything else is a per-row projection. */
  def systematicSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars").as("w"),
        conv(substring(md5(concat_ws(":", lit(SysSeed), col("doc_id"))),
          25, 8), 16, 10).cast("long").as("skey"))
    val k2 = 2L * SysK
    val summed =
      if (Tables.rowCount(spark, dir, "documents") <= Rank.SingleTaskMax) {
        // adaptive plan (the scd2_lookup pattern): one partition, two
        // frame sums — the decomposition's extra exchanges dominate
        // at dim-sized corpora
        val W = org.apache.spark.sql.expressions.Window
        val ord = W.partitionBy(lit(0))
          .orderBy(col("skey"), col("doc_id"))
        docs
          .withColumn("cum", coalesce(sum(col("w")).over(
            ord.rowsBetween(org.apache.spark.sql.expressions
              .Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("wtot", sum(col("w")).over(W.partitionBy(lit(0))))
      } else
        Rank.twoLevelPrefixSum(docs, Seq.empty,
          expr("skey div 16777216"), Seq(col("skey"), col("doc_id")),
          col("w"), "cum", "wtot")
    summed
      .select(col("doc_id"), col("w").as("n_chars"), col("cum"),
        expr(s"((($k2 * (cum + w) + wtot - 1) div wtot + 1) div 2)" +
          s" - ((($k2 * cum + wtot - 1) div wtot + 1) div 2)")
          .as("n_hits"))
      .filter(col("n_hits") > 0)
      .orderBy("doc_id")
  }
}
