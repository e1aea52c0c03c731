package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sinks.ZOrderLayout
import graft.sources.Tables

/** Z-order layout spec (SURVEY.md §2 #68): the interleaved sort key
  * must produce files that are tight rectangles in the
  * (ticker × time) plane — so min/max footer stats prune a
  * ticker-band scan that a plain time sort can never prune — and the
  * two-predicate query must push both predicates to the scan. */
class ZOrderSpec extends SparkTestBase {

  private def fileSpans(dir: String): Seq[(Long, Long)] =
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).toSeq.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min("user_id"), max("user_id")).collect()(0)
        (r.getLong(0), r.getLong(1))
      }

  test("z-order files prune a ticker band a time-sorted layout cannot") {
    val zdir = ZOrderLayout.build(spark, SfDir, 8)
    // comparison layout: same data, same file count, single-column
    // time sort (what a naive streaming warehouse produces)
    val tdir = tempDir("graft_tsort")
    Tables.load(spark, SfDir, "events")
      .repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(tdir)
    val (lo, hi) = (10L, 19L)
    def hits(spans: Seq[(Long, Long)]): Int =
      spans.count(s => s._1 <= hi && s._2 >= lo)
    val zSpans = fileSpans(zdir)
    val tSpans = fileSpans(tdir)
    assert(zSpans.size === 8 && tSpans.size === 8)
    // every time-sorted file spans (almost) all tickers → no pruning
    assert(hits(tSpans) === 8,
      s"time-sorted layout unexpectedly pruned: $tSpans")
    // z-ordered files split the ticker axis → the band misses the
    // files covering the other ticker half (8 files = 3 z-bits =
    // ticker halves × time quarters, modulo range-boundary slop)
    assert(hits(zSpans) <= 5,
      s"z-layout did not prune the ticker band: $zSpans")
  }

  test("zorder_scan pushes both predicates to the parquet scan") {
    val plan = planOf(ZOrderLayout.zorderScan(spark, SfDir))
    assert(plan.contains("PushedFilters"), plan.take(600))
    Seq("GreaterThanOrEqual(user_id,10)", "LessThanOrEqual(user_id,19)",
      "GreaterThanOrEqual(ts,", "LessThan(ts,").foreach { p =>
      assert(plan.contains(p), s"missing pushed filter $p\n" + plan.take(3000))
    }
  }

  test("zorder_scan equals the same aggregate over the original table") {
    val got = ZOrderLayout.zorderScan(spark, SfDir).collect()
    val want = Tables.load(spark, SfDir, "events")
      .filter(col("user_id").between(10, 19) &&
        col("ts") >= lit("2024-01-02").cast("timestamp") &&
        col("ts") < lit("2024-01-04").cast("timestamp"))
      .groupBy(col("user_id").as("ticker_id"))
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Num.dsum(col("value")).as("sum_value"),
        max(col("ts")).as("max_ts"))
      .orderBy("ticker_id").collect()
    assert(got.toSeq === want.toSeq)
    assert(got.nonEmpty, "predicate window selected no rows")
  }
}
