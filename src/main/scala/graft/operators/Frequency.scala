package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.AggFunctions

/** Heavy-hitters reporting (SURVEY.md §2 #91): the most frequent
  * keys of a stream via the mergeable Misra-Gries sketch — the
  * hot-key report (top tickers by activity, dominant crawl domains)
  * that a plain groupBy-count answers only by shuffling the FULL key
  * domain. The sketch aggregation is a single reduce of
  * O(capacity) state: at 100 TB the shuffle carries one bounded
  * sketch per task, not one row per distinct key.
  *
  * With [[Capacity]] above the observed key domain the counts are
  * exact and `max_err` = 0 — that regime is DuckDB-oracled; past
  * capacity the MG bounds hold (est ≤ true ≤ est+max_err, no heavy
  * key missing), property-tested in FrequencySpec.
  */
object Frequency {

  /** Tracked-candidate budget: ~128 KB of sketch state per task —
    * far above the testdata's key domain (exact regime) and still
    * O(1) in the row count at any scale. */
  val Capacity = 8192

  /** Report keys with est+err ≥ rows/HitFraction — the MG superset
    * rule, which can never drop a qualifying key. */
  val HitFraction = 200L

  /** #91 Heavy hitters over the event stream's ticker key. One
    * sketch aggregate + one bounded explode; the threshold derives
    * from the same single-row aggregate (no second scan). */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .agg(AggFunctions.freqSketch(col("user_id"), Capacity).as("sk"),
        count(lit(1)).as("n_total"))
      .select(col("n_total"), col("sk.max_err").as("max_err"),
        explode(col("sk.items")).as("it"))
      .filter(col("it.est") + col("max_err") >=
        expr(s"n_total DIV $HitFraction"))
      .select(col("it.item").as("item"), col("it.est").as("est_count"),
        col("max_err"))
      .orderBy("item")

  /** Count-Min depth (independent hash rows) and width (buckets per
    * row): 4×1024 ints ≈ 16 KB of sketch state — the classic
    * ε = e/w, δ = e⁻ᵈ point-query bound. */
  val CmsDepth = 4
  val CmsWidth = 1024L

  /** #141 Count-Min sketch, relationally: the counters TABLE is the
    * sketch. Rows pre-aggregate to key grain (the map-side combine a
    * 10⁹-copy hot key needs), each key then fans out to its
    * [[CmsDepth]] (row, bucket) cells via the portable md5-affine
    * hash, and one hash aggregate sums the d×w counter matrix —
    * shuffling counters IS the sketch merge, so the build
    * distributes like any groupBy and the sketch state is bounded at
    * d×w rows regardless of corpus size. Point queries (here: every
    * key the exact top-20 report serves) read est = min over d of
    * counter[row, h_row(key)] — a broadcast join against the counter
    * table. Deterministic hashes ⇒ the DuckDB oracle rebuilds the
    * identical sketch and the driver hash-checks est and the
    * CMS overestimate invariant (est ≥ exact, never under).
    *
    * vs #91 Misra-Gries: MG tracks WHICH keys are heavy (bounded
    * candidate list, no point queries); CMS answers "how often is
    * key k" for ANY k (no key list, overestimate-bounded). A real
    * pipeline wants both. */
  def cmsFreq(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.load(spark, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    // portable bucket hash: md5("cms:<row>:<key>") tail-8-hex, the
    // established cross-engine key (TrainExport.shuffleKey); one
    // explode fans each key to its d cells
    def bucket(d: Column) =
      conv(substring(md5(concat_ws(":", lit("cms"), d,
        col("user_id"))), 25, 8), 16, 10).cast("long") % CmsWidth
    val depths = array((0 until CmsDepth).map(lit): _*)
    val counters = keyed
      .withColumn("d", explode(depths))
      .withColumn("b", bucket(col("d")))
      .groupBy("d", "b").agg(sum(col("cnt")).as("c"))
    // probe set: the exact top-20 keys (count desc, key asc) — the
    // report a dashboard actually serves
    val probes = keyed
      .orderBy(col("cnt").desc, col("user_id").asc).limit(20)
    val est = probes
      .withColumn("d", explode(depths))
      .withColumn("b", bucket(col("d")))
      .join(broadcast(counters), Seq("d", "b"))
      .groupBy("user_id")
      .agg(first(col("cnt")).as("exact_cnt"), min(col("c")).as("est"))
    est.select(col("user_id"), col("exact_cnt"), col("est"),
        (col("est") - col("exact_cnt")).as("overcount"))
      .orderBy(col("exact_cnt").desc, col("user_id").asc)
  }
}
