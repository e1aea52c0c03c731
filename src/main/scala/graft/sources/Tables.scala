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

  /** Logical events schema (ts in Spark's native micros timestamp) —
    * what every operator and the streaming source sees. */
  val events: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Physical file schema of a TIMESTAMP(NANOS) events.parquet (the
    * pre-Aug-13 testdata generation): Spark's TimestampType (micros)
    * cannot read NANOS directly — it is read as a long (nanosAsLong)
    * and floor-truncated to micros in [[loadEventsRange]]. The current
    * testdata generation writes TIMESTAMP(MICROS), which reads
    * directly as [[events]]; [[eventsTsIsNanosLong]] detects which
    * layout a directory carries from one parquet footer. */
  val eventsRaw: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
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

  /** Load one testdata table with its explicit schema (no inference).
    * `events` routes through [[loadEventsRange]], which adapts to the
    * on-disk timestamp layout (legacy NANOS long → floor-truncated to
    * micros; native MICROS → read directly), so every engine (Spark
    * here, DuckDB in the oracle) sees identical values. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // Single source of the layout adaptation: the unbounded case of
      // loadEventsRange, so the logic cannot drift between the two
      // entry points.
      loadEventsRange(spark, dir)
    } else {
      spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")
    }

  /** Detect, from ONE parquet footer, whether `dir/events.parquet`
    * stores `ts` as TIMESTAMP(NANOS) (read back as a plain long under
    * nanosAsLong) or as Spark-native TIMESTAMP(MICROS). Cached per
    * directory — at 100 TB this is one footer read per table path,
    * not a schema-sampling pass over millions of files. */
  def eventsTsIsNanosLong(spark: SparkSession, dir: String): Boolean =
    tsLayout.computeIfAbsent(dir, _ => {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$dir/events.parquet")
        .schema("ts").dataType == LongType
    })

  private val tsLayout =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** The schema that reads `dir/events.parquet` bit-identically
    * (raw nanos long, or native micros timestamp) — for staging
    * copies that must preserve values exactly. */
  def eventsPhysicalSchema(spark: SparkSession, dir: String): StructType =
    if (eventsTsIsNanosLong(spark, dir)) eventsRaw else events

  /** Load `events` with a time-range predicate applied directly to the
    * PHYSICAL `ts` column, so Catalyst pushes it into the parquet scan
    * (`PushedFilters: [GreaterThanOrEqual(ts,…), LessThan(ts,…)]` →
    * footer min/max row-group pruning). On the legacy NANOS layout the
    * filter compares raw nanosecond longs BEFORE the micros
    * conversion — a filter placed on the derived micros `ts` would sit
    * above a projection Catalyst cannot invert, and at 100 TB the
    * scheduled incremental batch (the reference's 2-minute loop,
    * stock_data_to_gcp.py:85-91) would full-scan the table for one
    * day's slice.
    *
    * Bounds are UTC `yyyy-MM-dd HH:mm:ss[.SSSSSS]` strings; null =
    * unbounded; half-open `[from, until)`. Callers comparing against
    * session-timezone timestamp literals must run with
    * `spark.sql.session.timeZone=UTC` (the repo-wide convention, set
    * by every entry point and SparkTestBase). On the NANOS layout the
    * bounds are exact w.r.t. the floor truncation: for integer-micros
    * bounds, `floor(ns/1000) >= F_us ⟺ ns >= F_us*1000` and
    * `floor(ns/1000) < U_us ⟺ ns < U_us*1000`.
    */
  def loadEventsRange(spark: SparkSession, dir: String,
      from: String = null, until: String = null): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros, expr}
    def instant(s: String): java.time.Instant =
      java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC)
    if (eventsTsIsNanosLong(spark, dir)) {
      def nanos(s: String): Long = {
        val i = instant(s)
        Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000000L),
          i.getNano.toLong)
      }
      var df = spark.read.schema(eventsRaw).parquet(s"$dir/events.parquet")
      if (from != null) df = df.filter(col("ts") >= lit(nanos(from)))
      if (until != null) df = df.filter(col("ts") < lit(nanos(until)))
      // true FLOOR division (pmod keeps the remainder non-negative):
      // `ts div 1000` truncates toward zero, which would round
      // pre-1970 (negative-nanos) timestamps one microsecond UP and
      // break the documented floor contract and its range-bound proof
      df.withColumn("ts",
        timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
    } else {
      // Native micros layout: `lit(Instant)` is a TimestampType
      // literal independent of the session time zone, and timestamp
      // predicates push straight into the parquet scan.
      var df = spark.read.schema(events).parquet(s"$dir/events.parquet")
      if (from != null) df = df.filter(col("ts") >= lit(instant(from)))
      if (until != null) df = df.filter(col("ts") < lit(instant(until)))
      df
    }
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
