package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions._
import graft.sources.ShardedReader

/** The shard union: disjoint range shards over one plan read their
  * source once; every other input keeps `unionByName`. */
class ShardedReaderSpec extends SparkTestBase {

  /** 0..199 with every 17th key NULL, in three parquet files. */
  private lazy val src: DataFrame = {
    val dir = tempDir("shards")
    spark.range(0, 200).repartition(3)
      .select(when(col("id") % 17 =!= 0, col("id")).as("k"),
        (col("id") * 3).as("v"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  // the physical plan as planned: AQE wraps a plan with subqueries
  // (the shard bounds) into one adaptive leaf
  private def leaves(df: DataFrame) =
    df.queryExecution.sparkPlan.collectLeaves()

  private def isUnion(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[Union]

  test("range shards union back to one scan of their source") {
    val shards = ShardedReader.rangeShards(src, "k", 5)
    val one = ShardedReader.unionShards(shards)
    val all = shards.reduce(_.unionByName(_))
    assert(leaves(all).size === 5, "the reference form scans once per shard")
    assert(leaves(one).size === 1, s"one scan leaf:\n${planOf(one)}")
    assert(one.rdd.getNumPartitions === src.rdd.getNumPartitions)
    assert(rows(one) === rows(all), "same rows as a multiset")
    // null keys fall outside every shard in both forms
    assert(one.filter(col("k").isNull).count() === 0L)
    assert(one.count() === src.filter(col("k").isNotNull).count())
  }

  test("range shards plan no job; their union runs none either") {
    val cached = src.cache()
    cached.count()
    try {
      var one: DataFrame = null
      val jobs = jobDescriptions {
        one = ShardedReader.unionShards(ShardedReader.rangeShards(cached, "k", 5))
        one.queryExecution.executedPlan
      }
      assert(jobs.isEmpty, s"no bounds job, got $jobs")
      assert(!planOf(one).contains("Subquery"), planOf(one))
      assert(rows(one) === rows(cached.filter(col("k").isNotNull)))
      // a shard run alone pays its bounds subquery: one job for both
      val shards = ShardedReader.rangeShards(cached, "k", 5)
      assert(shards.map(_.count()).sum === one.count())
      assert(jobDescriptions(shards(2).collect()).size >= 1)
      // a strict subset of the shards is no whole union
      val three = ShardedReader.unionShards(shards.take(3))
      assert(isUnion(three))
      assert(rows(three) === rows(shards.take(3).reduce(_.unionByName(_))))
    } finally cached.unpersist()
  }

  test("range shards of an empty frame select nothing") {
    val empty = src.filter(lit(false))
    val shards = ShardedReader.rangeShards(empty, "k", 3)
    assert(shards.map(_.count()).sum === 0L)
    assert(ShardedReader.unionShards(shards).count() === 0L)
  }

  test("disjoint hand-made shards: gaps, edges and order are exact") {
    val shard = (lo: Long, hi: Long) =>
      src.filter(col("k") >= lo && col("k") < hi)
    // out of order, one gap [100, 150), one empty range, edges at 50
    val shards = Seq(shard(150, 200), shard(0, 50), shard(70, 70),
      shard(50, 100))
    val one = ShardedReader.unionShards(shards)
    assert(!isUnion(one) && leaves(one).size === 1)
    assert(rows(one) === rows(shards.reduce(_.unionByName(_))))
    val keys = one.select("k").collect().map(_.getLong(0)).toSet
    assert(keys.contains(0L) === false, "0 is a NULL key")
    assert(Seq(49L, 50L, 99L, 150L, 199L).forall(keys.contains))
    assert(!keys.contains(100L) && !keys.contains(149L), "the gap stays out")
  }

  test("other inputs keep unionByName") {
    val shard = (df: DataFrame, lo: Long, hi: Long) =>
      df.filter(col("k") >= lo && col("k") < hi)
    // overlapping ranges keep their duplicates
    val overlap = ShardedReader.unionShards(
      Seq(shard(src, 0, 100), shard(src, 50, 150)))
    assert(isUnion(overlap))
    assert(overlap.filter(col("k") === 60).count() === 2L)
    // shards over two different frames
    val other = src.select((col("k") + 1000).as("k"), col("v"))
    val twoFrames = ShardedReader.unionShards(
      Seq(shard(src, 0, 100), shard(other, 1000, 1100)))
    assert(isUnion(twoFrames))
    assert(twoFrames.count() ===
      shard(src, 0, 100).count() + shard(other, 1000, 1100).count())
    // a filter that is not a range
    val parity = ShardedReader.unionShards(Seq(
      src.filter(col("k") % 2 === 0), src.filter(col("k") % 2 === 1)))
    assert(isUnion(parity))
    assert(parity.count() === src.filter(col("k").isNotNull).count())
  }
}
