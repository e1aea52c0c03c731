package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Skew-aware two-phase aggregation (SURVEY.md §5): when group keys
  * are heavily skewed (a handful of event types over billions of
  * rows), a single shuffle sends each hot key to one reducer. Salting
  * splits every key into `salt` deterministic sub-keys, aggregates
  * partials per (key, salt-bucket), then re-aggregates per key — the
  * hot key's work spreads over `salt` reducers, and because the
  * partials (decimal sums, counts) are additive the result is
  * bit-identical to the direct aggregate.
  *
  * The salt is `pmod(hash(idCol), salt)` — deterministic per row, so
  * re-runs and retries produce identical partials (no rand()).
  */
object Skew {

  /** Two-phase salted sum/count aggregate over one value column. */
  def saltedAgg(df: DataFrame, keys: Seq[String], idCol: String,
      valueCol: String, salt: Int): DataFrame = {
    val keyCols: Seq[Column] = keys.map(col)
    val phase1 = df
      .withColumn("_salt", pmod(hash(col(idCol)), lit(salt)))
      .groupBy((keyCols :+ col("_salt")): _*)
      .agg(count(lit(1)).as("_n"),
        // 128-bit exact phase-1 partial: salted groups are unbounded
        // by design, so the fast-path kernel keeps decimal(38,6)
        // exactness at any group size (phase 2 re-sums few rows)
        Num.dsumExact(col(valueCol)).as("_s"))
    phase1.groupBy(keyCols: _*)
      .agg(sum(col("_n")).as("n_events"),
        sum(col("_s")).cast("double").as("sum_value"))
  }

  /** #58 Salted skew JOIN: when the probe side's join key is heavily
    * skewed (one hot ticker = billions of fact rows), a plain shuffle
    * join lands the hot key on one reducer. Salt the fact side into
    * `salt` deterministic sub-keys and replicate each build row
    * `salt` times (explode — build side is the small one), so the hot
    * key's probe rows spread over `salt` reducers. Row-identical to
    * the plain join (verified in SkewSpec); AQE's skew-join split is
    * the runtime alternative, this is the explicit form for when the
    * skew is known ahead of time. */
  def saltedJoin(fact: DataFrame, build: DataFrame, key: String,
      idCol: String, salt: Int): DataFrame = {
    val factS = fact.withColumn("_salt", pmod(hash(col(idCol)), lit(salt)))
    val buildS = build
      .withColumn("_salt", explode(sequence(lit(0), lit(salt - 1))))
    factS.join(buildS, Seq(key, "_salt")).drop("_salt")
  }

  /** §2 #32 `skew_agg`: per-event-type totals over the events stream —
    * event_type has ~5 distinct values, the canonical hot-key shape.
    * Oracle is the plain GROUP BY: salting must be invisible in the
    * result. */
  def skewAgg(spark: SparkSession, dir: String): DataFrame =
    saltedAgg(Tables.load(spark, dir, "events"), Seq("event_type"),
      "event_id", "value", salt = 16)
      .orderBy("event_type")

  /** #139 Key-skew report — the diagnostic to run BEFORE a 100 TB
    * job, not after it stalls: per event_type, the user_id key
    * distribution's size, concentration (top-1 / top-10 share) and
    * Gini coefficient. A key space with gini ≈ 0 shuffles evenly;
    * top1_share ≥ a few percent at a million keys means the salted
    * paths (#32/#58) or a two-level window rewrite are mandatory.
    *
    * Gini needs every key ranked by count — a global per-type sort
    * the naive window does on ONE task. The rank is
    * [[Rank.twoLevelRank]]: log₂(count) blocks bound each local
    * window (monotone in count, ~40 blocks), broadcast cumulative
    * offsets restore the global (count, user_id) rank exactly.
    * Numerator and denominator of the Gini are exact decimal integers
    * at any corpus size; the one double division is terminal.
    *
    * Scale: one fact-table hash aggregate to key grain, then all
    * windows are (type, log-block)-bounded; offsets are types ×
    * blocks rows, broadcast. */
  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    // pinned: the key-grain collapse feeds both the local-rank and
    // the offsets branches — lazy, each re-scans the fact table
    val keyed = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // G = (Σ(2r−1)x − n·Σx) / (n·Σx), r = 1..n ascending by (cnt,
    // key); numerator/denominator stay exact decimal until ONE
    // terminal double division
    val Dec = "decimal(38,0)"
    Rank.twoLevelRank(keyed, Seq("event_type"),
        floor(log(2.0, col("cnt"))).cast("long"), blkAscending = true,
        Seq(col("cnt").asc, col("user_id").asc), "rnk", "n")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"),
        sum(when(col("rnk") > col("n") - 10, col("cnt")).otherwise(0L))
          .as("top10_rows"),
        sum((lit(2L) * col("rnk") - lit(1L)).cast(Dec) * col("cnt"))
          .as("gnum"))
      .select(col("event_type"), col("n_keys"), col("n_rows"),
        round(col("max_cnt").cast("double")
          / col("n_rows").cast("double"), 6).as("top1_share"),
        round(col("top10_rows").cast("double")
          / col("n_rows").cast("double"), 6).as("top10_share"),
        round((col("gnum") - col("n_keys").cast(Dec) * col("n_rows"))
            .cast("double")
          / (col("n_keys").cast(Dec) * col("n_rows")).cast("double"),
          6).as("gini"))
      .orderBy("event_type")
  }
}
