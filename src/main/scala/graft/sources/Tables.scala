package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Schema'd typed ingest (SURVEY.md §2 #1) — the Spark-native
  * re-expression of the reference's explicit-schema warehouse loads
  * (/root/reference/dags/stock_data_to_gcp.py:128-133: every table is
  * declared with `schema_fields`, never inferred).
  *
  * Explicit `StructType`s matter at 100 TB: no footer-sampling pass
  * over millions of files, no silent schema drift between ingest
  * batches, and Catalyst can prune/push down against a fixed schema.
  */
object Tables {

  val region: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))

  val nation: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customer: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplier: StructType = StructType(Seq(
    StructField("s_suppkey", LongType), StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType)))

  val part: StructType = StructType(Seq(
    StructField("p_partkey", LongType), StructField("p_name", StringType),
    StructField("p_brand", StringType), StructField("p_type", StringType),
    StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)))

  val orders: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  val lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** Events schema (ts in Spark's native micros timestamp, the
    * layout every corpus generator writes) — what every operator and
    * the streaming source sees. */
  val events: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddings: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  val schemas: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
    "embeddings" -> embeddings)

  /** Load one testdata table with its explicit schema (no inference). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  /** Load `events` with a time-range predicate on `ts`, which Catalyst
    * pushes into the parquet scan (`PushedFilters:
    * [GreaterThanOrEqual(ts,…), LessThan(ts,…)]` → footer min/max
    * row-group pruning), so the scheduled incremental batch (the
    * reference's 2-minute loop, stock_data_to_gcp.py:85-91) reads one
    * day's slice, not the table.
    *
    * Bounds are UTC `yyyy-MM-dd HH:mm:ss[.SSSSSS]` strings; null =
    * unbounded; half-open `[from, until)`. `lit(Instant)` is a
    * TimestampType literal independent of the session time zone. */
  def loadEventsRange(spark: SparkSession, dir: String,
      from: String = null, until: String = null): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    def instant(s: String): java.time.Instant =
      java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC)
    var df = load(spark, dir, "events")
    if (from != null) df = df.filter(col("ts") >= lit(instant(from)))
    if (until != null) df = df.filter(col("ts") < lit(instant(until)))
    df
  }

  /** Row count of `dir/name.parquet` — the adaptive-plan gate probe
    * (round 21, the scd2_lookup/Rank.SingleTaskMax pattern applied to
    * the ordered-window family): one count job per (corpus, table), a
    * [[graft.CorpusCache]] value. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    graft.CorpusCache.value(spark, dir, name, "row_count")(
      load(spark, dir, name).count())

  /** Generic typed ingest: read with a declared schema and enforce
    * target column types via casts — the `schema_fields` +
    * FLOAT-coercion behavior of the reference's warehouse load. */
  def ingestTyped(spark: SparkSession, path: String, fileSchema: StructType,
      targetTypes: Map[String, DataType]): DataFrame =
    coerce(spark.read.schema(fileSchema).parquet(path), targetTypes)

  /** Cast-coercion step of typed ingest, usable on any loaded frame. */
  def coerce(raw: DataFrame, targetTypes: Map[String, DataType]): DataFrame =
    raw.select(raw.schema.fieldNames.map { f =>
      targetTypes.get(f) match {
        case Some(t) => raw.col(f).cast(t).as(f)
        case None => raw.col(f)
      }
    }.toIndexedSeq: _*)
}
