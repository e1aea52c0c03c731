package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe of graft's harness mains (Bench,
  * BenchOne, AbBench, ScaleBench, Verify, Plans) and of the specs'
  * shared session, so a conf changes in one place for all of them.
  * A spec keeps any other `SparkSession.builder` out of `src/main`. */
object Session {

  /** Worker threads of a harness run: `SPARK_GRAFT_CPUS`, else every
    * core of this host. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session confs at `local[cpus]`, as `graft.Bench` has always
    * set them. */
  def confs(cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // INT64 micros, not the deprecated INT96: the modern parquet
    // timestamp layout every table format defaults to, 25-40% cheaper
    // to scan (no 12-byte julian decode + rebase check), and what
    // DuckDB reads back value for value
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.adaptive.enabled" -> "true",
    // AQE partition coalescing ON: at the sf0.1 floor most shuffles
    // are tiny and merging them saves per-task overhead
    // (dedup_components' iterative rounds run 3x faster coalesced),
    // and the x100 A/B over the INT64-micros staged layout shows it
    // winning most scale shapes too (vwap 0.79 vs 0.97, dedup_exact
    // 0.75 vs 1.05); only scd2's window sort prefers OFF (1.23 vs 1.55)
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.ui.enabled" -> "false")

  /** A builder carrying [[confs]] at `local[cpus]`; nothing read from
    * the environment. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder().master(s"local[$cpus]").config(confs(cpus))

  /** The harness session: [[builder]] plus the `SPARK_GRAFT_CONF`
    * pairs (`k=v;k=v`, applied last so they override any default —
    * e.g. `spark.sql.adaptive.coalescePartitions.enabled=false`), WARN
    * logging, and the WindowExec logger at ERROR. */
  def harness(cpus: Int): SparkSession = {
    val b = builder(cpus)
    parseConf(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
      .foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The repo's deliberate single-partition windows (top-k reranks,
    // |blocks|-row offset tables, calendar series) are all
    // partitionBy(lit(0)) — documented bounded at every site — but
    // Catalyst folds the literal key away, so WindowExec still logs
    // its generic "No Partition Defined" warning PER EXECUTION:
    // 1200+ lines per suite run that bury the tail a harness run
    // captures (and any real warning in it). Quiet exactly that one
    // logger; ERROR-level signals still pass.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** `k=v;k=v` as ordered pairs; empty entries are skipped, and an
    * entry without `=` or with an empty key fails naming that entry. */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2).map(_.trim) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF: '$kv' is not a key=value pair")
      }
    }
}
