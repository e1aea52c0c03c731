package graft.sources

import org.apache.spark.sql.DataFrame
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
  * scans of it.
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

  /** One DataFrame per contiguous range shard of `key`. */
  def rangeShards(df: DataFrame, key: String, n: Int): Seq[DataFrame] =
    rangeBounds(df, key, n).map { case (lo, hi) =>
      df.filter(col(key) >= lo && col(key) < hi)
    }

  /** Union-all of shards: one scan of the source, in its own
    * partitions, for [[rangeShards]]' disjoint ranges; else a
    * `unionByName` (fails fast on schema drift instead of silently
    * misaligning positions). */
  def unionShards(shards: Seq[DataFrame]): DataFrame =
    org.apache.spark.sql.GraftSqlBridge.rangeShardUnion(shards)
      .getOrElse(shards.reduce(_.unionByName(_)))
}
