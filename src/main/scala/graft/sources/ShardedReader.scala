package graft.sources

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

/** Range-sharding + shard union (SURVEY.md §2 #2-3), re-expressing the
  * reference's 5-way work-list fan-out and pandas concat
  * (/root/reference/dags/stock_data_to_gcp.py:42 slices
  * `company_lst[100i:100(i+1)]`; `:57-71` concatenates the shard
  * files).
  *
  * Spark-first: sharding a keyspace is a predicate per shard — each
  * shard is an independent, pushdown-able scan (parallelism comes
  * from partitions, not processes). Unioned back, the shards
  * [[rangeShards]] builds are ONE scan of their source filtered by the
  * covered range (disjoint ranges make that exact union-all), not N
  * scans of it, and none of them runs a job to find its bounds.
  */
object ShardedReader {

  /** Contiguous key ranges [lo, hi) covering [min, max] in n shards.
    * The single-row min/max aggregate is a driver scalar (like AQE
    * stats), not a data collect. */
  def rangeBounds(df: DataFrame, key: String, n: Int): Seq[(Long, Long)] = {
    val row = df.agg(min(col(key)).cast("long"), max(col(key)).cast("long")).head()
    // empty input (or an all-null key): min/max are null — one
    // trivial shard instead of an NPE; the shard filters then simply
    // select nothing. Rows with a null key never match any range
    // predicate, so the key contract is non-null (as with every
    // warehouse id here).
    if (row.isNullAt(0) || row.isNullAt(1)) return Seq((0L, 1L))
    val (lo, hi) = (row.getLong(0), row.getLong(1))
    val width = math.max(1L, (hi - lo) / n + 1)
    (0 until n).map(i => (lo + i * width, lo + (i + 1) * width))
  }

  /** One DataFrame per contiguous range shard of `key`: the ranges of
    * [[rangeBounds]], their bounds one scalar subquery over the min and
    * max of the key, so building the shards runs no job (a shard run
    * alone pays that subquery once, reused for both its bounds). */
  def rangeShards(df: DataFrame, key: String, n: Int): Seq[DataFrame] = {
    val k = col(key).cast("long")
    val b = df.agg(struct(min(k).as("lo"),
      (call_function("div", max(k) - min(k), lit(n.toLong)) + 1).as("w"))).scalar()
    val shards = (0 until n).map(i =>
      df.filter(col(key) >= b("lo") + b("w") * i && col(key) < b("lo") + b("w") * (i + 1)))
    val call = (new Object, n, df, key)
    shards.foreach(issued.put(_, call))
    shards
  }

  /** The call each shard [[rangeShards]] returned belongs to: (id, n,
    * source, key). Weak keys: an entry goes with its shard. */
  private val issued = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, (Object, Int, DataFrame, String)])

  /** Union-all of shards: the n shards of one [[rangeShards]] call are
    * the source's non-null keys (their ranges cover [min, max] and a
    * null key matches none), with no job; other disjoint literal-range
    * shards over one plan are one scan of it filtered by the covered
    * ranges; anything else is a `unionByName` (fails fast on schema
    * drift instead of silently misaligning positions). */
  def unionShards(shards: Seq[DataFrame]): DataFrame =
    shards.map(issued.get).distinct match {
      case Seq((_, n, src: DataFrame, key: String))
          if n == shards.size && n == shards.distinct.size =>
        src.filter(col(key).isNotNull)
      case _ => GraftSqlBridge.rangeShardUnion(shards)
        .getOrElse(shards.reduce(_.unionByName(_)))
    }
}
