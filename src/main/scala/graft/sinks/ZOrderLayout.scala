package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Num
import graft.sources.Tables

/** Z-order (Morton) multi-column layout for the events warehouse
  * (SURVEY.md §2 #68): interleave the bits of (ticker, time) into one
  * sort key at write, so EVERY file — and every parquet row group
  * inside it — covers a small rectangle of the (ticker × time) plane
  * instead of a thin full-width time slice. Parquet min/max footer
  * stats on BOTH columns then prune scans for ticker-only,
  * time-only, and two-predicate dashboard queries alike; a
  * single-column time sort can only ever prune the time dimension
  * (the reference's BigQuery tables get this from clustering keys,
  * /root/reference/dags/stock_data_to_gcp.py WRITE_APPEND tables).
  *
  * The key is built from builtin bit expressions (shiftleft / AND /
  * OR — whole-stage codegen, no UDF, no custom kernel); the layout
  * write is one range-repartition + in-partition sort, the same
  * shuffle shape any sorted write pays. At 100 TB the write is
  * per-partition (z-order within each day), keys unchanged.
  */
object ZOrderLayout {

  /** Morton bit-spread: the low 32 bits of `x` move to the even bit
    * positions of a long (standard mask-shift cascade). */
  private def spread(x: Column): Column = {
    val m16 = lit(0x0000FFFF0000FFFFL)
    val m8 = lit(0x00FF00FF00FF00FFL)
    val m4 = lit(0x0F0F0F0F0F0F0F0FL)
    val m2 = lit(0x3333333333333333L)
    val m1 = lit(0x5555555555555555L)
    val a = (x.bitwiseOR(shiftleft(x, 16))).bitwiseAND(m16)
    val b = (a.bitwiseOR(shiftleft(a, 8))).bitwiseAND(m8)
    val c = (b.bitwiseOR(shiftleft(b, 4))).bitwiseAND(m4)
    val d = (c.bitwiseOR(shiftleft(c, 2))).bitwiseAND(m2)
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(m1)
  }

  /** Z-key of two non-negative 32-bit coordinates (a in even bits,
    * b in odd). Pure bit arithmetic — ANSI-safe, codegen'd. */
  def zkey(a: Column, b: Column): Column =
    spread(a).bitwiseOR(shiftleft(spread(b), 1))

  /** Rank-normalize a coordinate to 16 bits over its [lo, hi] domain.
    * Interleaving RAW coordinates degenerates when bit widths differ
    * (epoch minutes ~25 bits vs ticker ids ~7: every ticker bit lands
    * below every minute bit and the "z" order collapses to a plain
    * time sort) — equal-width normalized ranks are what make the
    * interleave an actual space-filling curve. Domains come from the
    * ingest's own min/max (a pipeline knows its key ranges); Delta's
    * OPTIMIZE ZORDER normalizes with range-partition ranks the same
    * way. */
  def norm16(x: Column, lo: Long, hi: Long): Column =
    floor(((x.cast("long") - lit(lo)) * lit(65535L)) /
      lit(math.max(hi - lo, 1L))).cast("long")

  /** Events z-key: (ticker, epoch-minute), each rank-normalized to
    * 16 bits over the observed domain. */
  def eventsZkey(userId: Column, tsMinutes: Column,
      uidRange: (Long, Long), minRange: (Long, Long)): Column =
    zkey(norm16(userId, uidRange._1, uidRange._2),
      norm16(tsMinutes, minRange._1, minRange._2))

  /** Write `events` z-ordered into `nFiles` files: range-partition by
    * z-key (files = contiguous z-ranges = tight min/max rectangles),
    * sort inside each so row groups within a file are rectangles too.
    * A [[graft.sources.StagePath.derived]] copy per (dir, nFiles) — the
    * layout shuffle is paid once at ingest, not per query. The
    * min/max domain collect is 4 scalars from one aggregate — bounded,
    * not a data collect. */
  def build(spark: SparkSession, dir: String, nFiles: Int = 8): String =
    graft.sources.StagePath.derived(dir, Seq("events"), s"zorder_$nFiles") {
      out =>
        val ev = Tables.load(spark, dir, "events")
          .withColumn("ts_min", floor(col("ts").cast("long") / 60).cast("long"))
        val r = ev.agg(min("user_id"), max("user_id"), min("ts_min"),
          max("ts_min")).collect()(0)
        ev.withColumn("zk", eventsZkey(col("user_id"), col("ts_min"),
            (r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
          .repartitionByRange(nFiles, col("zk"))
          .sortWithinPartitions("zk")
          .drop("zk", "ts_min")
          .write.mode("overwrite").parquet(out)
    }

  /** §2 #68 `zorder_scan`: two-predicate dashboard slice (a ticker
    * band over a two-day window) against the z-ordered layout. Both
    * predicates reach the parquet scan as pushed filters and both
    * prune row groups via the z-layout's footer stats; the result is
    * byte-identical to the same query over the original table, which
    * is what the DuckDB oracle checks. */
  def zorderScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(build(spark, dir))
      .filter(col("user_id").between(10, 19) &&
        col("ts") >= lit("2024-01-02").cast("timestamp") &&
        col("ts") < lit("2024-01-04").cast("timestamp"))
      .groupBy(col("user_id").as("ticker_id"))
      .agg(count(lit(1)).as("n_events"),
        Num.dsum(col("value")).as("sum_value"),
        max(col("ts")).as("max_ts"))
      .orderBy("ticker_id")
}
