package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Num

/** Schema'd CSV ingest with an explicit bad-row policy (SURVEY.md §2
  * #33) — the reference moves every fetched batch as CSV before the
  * warehouse load (/root/reference/dags/stock_data_to_gcp.py:62
  * `to_csv` → GCS → typed BigQuery load). Spark-first: explicit
  * StructType (never inferSchema — at 100 TB inference is a full
  * pre-scan), PERMISSIVE parse with a corrupt-record column so bad
  * rows are quarantined, not silently dropped, and the clean rows
  * cast to warehouse types.
  */
object CsvIngest {

  /** Events-batch file schema, shared by the CSV and JSON readers:
    * everything arrives as text plus the corrupt-record catch-all. */
  val eventsCsv: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", StringType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("_corrupt", StringType)))

  /** One parsed ingest batch: the clean/quarantined split plus the
    * cache-release handle. The caller owns the lifetime — call
    * `release()` once both sides are materialized (written out or
    * counted), or the cached batch stays pinned in executor memory. */
  case class IngestBatch(clean: DataFrame, quarantined: DataFrame,
      release: () => Unit)

  /** Read a CSV directory with the declared schema, split on the
    * corrupt-record column. */
  def readEvents(spark: SparkSession, path: String): IngestBatch =
    split(spark.read.schema(eventsCsv).option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path))

  /** The bad-row policy of both readers over a PERMISSIVE parse of
    * [[eventsCsv]]. */
  private[sources] def split(parsed: DataFrame): IngestBatch = {
    // Spark requires the parsed batch to be materialized before the
    // corrupt-record column can be queried on its own (see
    // UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN); a real
    // deployment writes clean/bad out immediately, so the cache holds
    // one ingest batch, not the table.
    val raw = parsed.cache()
    // The timestamp arrives as text (so a bad ts does NOT set
    // _corrupt); parse with try_to_timestamp and quarantine parse
    // failures too — a plain to_timestamp would THROW under ANSI mode
    // and fail the whole batch instead of quarantining the row.
    val tsParsed =
      try_to_timestamp(col("ts"), lit("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    val badRow = col("_corrupt").isNotNull ||
      (col("ts").isNotNull && tsParsed.isNull)
    val clean = raw.filter(!badRow)
      .drop("_corrupt")
      .withColumn("ts", tsParsed)
    // keep the whole row (Spark disallows plans that reference only
    // the corrupt-record column; callers also want the parse context)
    val bad = raw.filter(badRow)
    IngestBatch(clean, bad, () => { raw.unpersist(); () })
  }

  /** §2 #33 `csv_ingest`: round-trip one day of events through CSV
    * ([[roundTrip]]). */
  def csvIngestQuery(spark: SparkSession, dir: String): DataFrame =
    roundTrip(spark, dir, "csv", "2024-01-01 00:00:00",
      "2024-01-02 00:00:00", readEvents)

  /** The ingest queries' body: format one day `[from, to)` of events
    * with text timestamps, write it as `format`, re-read it with
    * `read`, stage the typed clean rows and aggregate. The oracle
    * aggregates the same slice of the source directly: the
    * round-trip must be lossless (doubles print as shortest-exact,
    * timestamps carry micros). */
  private[sources] def roundTrip(spark: SparkSession, dir: String,
      format: String, from: String, to: String,
      read: (SparkSession, String) => IngestBatch): DataFrame =
    StagePath.scratch(spark, format) { root =>
      val out = s"$root/$format"
      // range load → the one-day window prunes at the scan
      Tables.loadEventsRange(spark, dir, from, to)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .coalesce(1)
        // header: read by the CSV reader, ignored by JSON
        .write.format(format).option("header", "true").save(out)
      val batch = read(spark, out)
      // Warehouse-load step: stage the typed clean rows to parquet (this
      // materializes the parsed batch), then drop the parse cache — the
      // aggregate reads the staged table, so nothing stays pinned in
      // executor memory across invocations.
      val staged = s"$root/typed"
      batch.clean.write.parquet(staged)
      batch.release()
      spark.read.parquet(staged).groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          Num.dsum(col("value")).as("sum_value"),
          max(col("ts")).as("max_ts"))
        .orderBy("event_type")
    }
}
