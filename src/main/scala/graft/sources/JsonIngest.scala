package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Schema'd JSON-lines ingest with corrupt-row quarantine
  * (SURVEY.md §2 #57) — the same bad-row contract as `CsvIngest`
  * (#33) for the other interchange format every fetch-and-load
  * pipeline emits. Explicit StructType (inference is a full pre-scan
  * at 100 TB), PERMISSIVE parse, corrupt records quarantined with
  * their raw line for replay, clean rows typed for the warehouse.
  */
object JsonIngest {

  /** Read a JSON-lines directory with the declared schema, split on
    * the corrupt-record column. Same schema, bad-row policy and
    * caller-owned cache lifetime as CsvIngest.readEvents. */
  def readEvents(spark: SparkSession, path: String): CsvIngest.IngestBatch =
    CsvIngest.split(spark.read.schema(CsvIngest.eventsCsv)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path))

  /** §2 #57 `json_ingest`: round-trip one day of events through
    * JSON-lines (CsvIngest.roundTrip). */
  def jsonIngestQuery(spark: SparkSession, dir: String): DataFrame =
    CsvIngest.roundTrip(spark, dir, "json", "2024-01-02 00:00:00",
      "2024-01-03 00:00:00", readEvents)
}
