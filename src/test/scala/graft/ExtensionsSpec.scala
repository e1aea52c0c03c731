package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew
import graft.sources.{CsvIngest, Tables}

/** SQL function registration, salted aggregation, and CSV ingest
  * (SURVEY.md §2 #32-33 + the SQL surface). */
class ExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  test("registered SQL functions evaluate like the Column API") {
    GraftFunctions.register(spark)
    Seq((Seq(1.0, 2.0), Seq(2.0, 4.0), "hello world"))
      .toDF("a", "b", "s").createOrReplaceTempView("ext_t")
    val r = spark.sql(
      """SELECT cosine_sim(a, b) AS c, dot_product(a, b) AS d,
        |  fnv64(s) AS f, portable_simhash32(s) AS sh,
        |  size(portable_minhash_sig(s, 8)) AS mk,
        |  size(char_ngrams(s, 3)) AS ng
        |FROM ext_t""".stripMargin).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) === 10.0)
    val viaColumnApi = Seq("hello world").toDF("s")
      .select(graft.functions.VectorFunctions.fnv64(col("s")))
      .as[Long].collect()(0)
    assert(r.getLong(2) === viaColumnApi)
    assert(r.getInt(4) === 8)
    assert(r.getInt(5) === 9) // "hello world" has 9 distinct trigrams
  }

  test("round-3 SQL kernels: sig_agree and portable_sign_band_keys") {
    GraftFunctions.register(spark)
    Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 7L),
        Seq.fill(64)(0.5)))
      .toDF("sa", "sb", "v").createOrReplaceTempView("ext_t3")
    val r = spark.sql(
      """SELECT sig_agree(sa, sb) AS ag,
        |  portable_sign_band_keys(v, 8, 5, 64) AS keys
        |FROM ext_t3""".stripMargin).collect()(0)
    assert(r.getInt(0) === 2)
    val keys = r.getSeq[Long](1)
    assert(keys.length === 8)
    // same keys as the Column API
    val viaCol = Seq(Tuple1(Seq.fill(64)(0.5))).toDF("v")
      .select(graft.functions.VectorFunctions
        .portableSignBandKeys(col("v"), 8, 5).as("k"))
      .collect()(0).getSeq[Long](0)
    assert(keys === viaCol)
  }

  test("round-6 SQL kernels: sentiment_counts and shingle_hashes") {
    GraftFunctions.register(spark)
    Seq("good day bad loss up and away we go")
      .toDF("s").createOrReplaceTempView("ext_t6")
    val r = spark.sql(
      """SELECT sentiment_counts(s) AS sc,
        |  size(shingle_hashes(s, 8)) AS nsh,
        |  size(shingle_hashes(s, 99)) AS nsh_short
        |FROM ext_t6""".stripMargin).collect()(0)
    val sc = r.getStruct(0)
    assert((sc.getInt(0), sc.getInt(1), sc.getInt(2)) === ((2, 2, 9)))
    assert(r.getInt(1) === 2) // 9 tokens → two 8-shingles
    assert(r.getInt(2) === 0) // shorter than the window → none
    // same hashes as the Column API
    val viaCol = Seq("good day bad loss up and away we go").toDF("s")
      .select(graft.functions.TextFunctions.shingleHashes(col("s"), 8).as("h"))
      .collect()(0).getSeq[Long](0)
    val viaSql = spark.sql("SELECT shingle_hashes(s, 8) AS h FROM ext_t6")
      .collect()(0).getSeq[Long](0)
    assert(viaSql === viaCol)
  }

  test("round-7 SQL kernels: pii/quality/trigram/token structs and the dsum aggregate") {
    GraftFunctions.register(spark)
    Seq(("mail me a@b.co or 555-123-4567", 1.25),
      ("the cat the cat the cat", 2.5),
      ("x", -0.125)).toDF("s", "v").createOrReplaceTempView("ext_t7")
    val r = spark.sql(
      """SELECT pii_scrub(s).n_emails AS ne, quality_stats(s).n_tok AS qt,
        |  trigram_stats(s).n_dup AS dup, token_counts(s).ws AS ws
        |FROM ext_t7 WHERE s LIKE 'the cat%'""".stripMargin).collect()(0)
    assert(r.getLong(0) === 0L) // PiiScrub counts are LongType
    assert(r.getInt(1) === 6)
    assert(r.getInt(2) === 2) // 4 trigrams, 2 distinct
    assert(r.getInt(3) === 6)
    val masked = spark.sql(
      "SELECT pii_scrub(s).n_emails FROM ext_t7 WHERE s LIKE 'mail%'")
      .collect()(0).getLong(0)
    assert(masked === 1L)
    // dsum = exact 6-dp sum, identical to the Column API kernel path
    val viaSql = spark.sql("SELECT dsum(v) FROM ext_t7").collect()(0).getDouble(0)
    val viaCol = spark.table("ext_t7")
      .agg(graft.operators.Num.dsum(col("v"))).collect()(0).getDouble(0)
    assert(viaSql === viaCol && viaSql === 3.625)
  }

  test("round-9 SQL kernels: freq_sketch aggregate and pq_adc") {
    GraftFunctions.register(spark)
    Tables.load(spark, SfDir, "events").createOrReplaceTempView("ext_ev9")
    // exact regime: sketch items = plain groupBy counts
    val viaSql = spark.sql(
      """SELECT it.item, it.est FROM (
        |  SELECT explode(freq_sketch(user_id, 4096).items) AS it
        |  FROM ext_ev9)""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = spark.table("ext_ev9").groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql === exact)
    // pq_adc reads the right table cells; a bad code nulls the score
    val adc = spark.sql(
      """SELECT pq_adc(array(1, 0), array(10D, 20D, 30D, 40D), 2) AS s,
        |  pq_adc(array(5, 0), array(10D, 20D, 30D, 40D), 2) AS bad"""
        .stripMargin).collect()(0)
    assert(adc.getDouble(0) === 50.0) // lut[0*2+1] + lut[1*2+0]
    assert(adc.isNullAt(1))
  }

  test("top_k SQL aggregate matches the Column API form") {
    GraftFunctions.register(spark)
    Tables.load(spark, SfDir, "orders").createOrReplaceTempView("ext_orders")
    val viaSql = spark.sql(
      """SELECT o_custkey, top_k(o_totalprice, o_orderkey, 3) AS top
        |FROM ext_orders GROUP BY o_custkey""".stripMargin)
    val viaCol = Tables.load(spark, SfDir, "orders")
      .groupBy("o_custkey")
      .agg(graft.functions.AggFunctions.topK(
        col("o_totalprice"), col("o_orderkey"), 3).as("top"))
    assert(viaSql.exceptAll(viaCol).count() === 0)
    assert(viaCol.exceptAll(viaSql).count() === 0)
  }

  test("json ingest quarantines corrupt lines instead of dropping silently") {
    val dir = tempDir("graft_json_bad")
    val lines = Seq(
      """{"event_id": 1, "ts": "2024-01-01 00:00:00.000001", "user_id": 10, "event_type": "click", "value": 1.5}""",
      """this is not json at all""",
      """{"event_id": 2, "ts": "2024-01-02 03:04:05.123456", "user_id": 11, "event_type": "purchase", "value": 2.5}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part.json"),
      String.join("\n", lines: _*).getBytes)
    val batch = graft.sources.JsonIngest.readEvents(spark, dir)
    assert(batch.clean.count() === 2)
    assert(batch.quarantined.select("_corrupt").collect().length === 1)
    val ts = batch.clean.orderBy("event_id").select("ts").collect()
    assert(ts(0).getTimestamp(0).toString === "2024-01-01 00:00:00.000001")
    batch.release()
  }

  test("malformed timestamps are quarantined, not thrown at (ANSI)") {
    // a bad ts parses fine against the TEXT schema (no _corrupt), so
    // it must be caught by try_to_timestamp — under ANSI a plain
    // to_timestamp would fail the whole batch at materialization
    val dir = tempDir("graft_badts")
    val lines = Seq(
      """{"event_id": 1, "ts": "2024-01-01 00:00:00.000001", "user_id": 1, "event_type": "click", "value": 1.0}""",
      """{"event_id": 2, "ts": "not-a-timestamp", "user_id": 2, "event_type": "click", "value": 2.0}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part.json"),
      String.join("\n", lines: _*).getBytes)
    val jb = graft.sources.JsonIngest.readEvents(spark, dir)
    assert(jb.clean.count() === 1)
    assert(jb.quarantined.count() === 1)
    assert(jb.quarantined.select("ts").collect()(0).getString(0)
      === "not-a-timestamp")
    jb.release()
    val csvDir = tempDir("graft_badts_csv")
    java.nio.file.Files.write(java.nio.file.Paths.get(csvDir, "part.csv"),
      ("event_id,ts,user_id,event_type,value\n" +
        "1,2024-01-01 00:00:00.000001,1,click,1.0\n" +
        "2,31 Feb 2024,2,click,2.0").getBytes)
    val cb = graft.sources.CsvIngest.readEvents(spark, csvDir)
    assert(cb.clean.count() === 1)
    assert(cb.quarantined.count() === 1)
    cb.release()
  }

  test("compaction collapses micro-batch files and preserves the rows") {
    import graft.sinks.AppendSink
    val out = tempDir("graft_compact") + "/t"
    val day = Tables.load(spark, SfDir, "events")
      .filter(col("ts") >= lit("2024-01-01 00:00:00") &&
        col("ts") < lit("2024-01-02 00:00:00"))
      .withColumn("batch_date", to_date(col("ts")))
    // simulate 6 micro-batch appends of the same day
    (1 to 6).foreach { _ =>
      AppendSink.append(day.limit(10), out, Seq("batch_date"))
    }
    val before = new java.io.File(out + "/batch_date=2024-01-01")
      .listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(before >= 6, s"expected >=6 files, got $before")
    val rowsBefore = AppendSink.readBack(spark, out).count()
    AppendSink.compactPartition(spark, out, "batch_date", "2024-01-01")
    val after = new java.io.File(out + "/batch_date=2024-01-01")
      .listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(after === 1, s"expected 1 compacted file, got $after")
    assert(AppendSink.readBack(spark, out).count() === rowsBefore)
  }

  test("partitioned append write prunes partitions at read time") {
    import graft.sinks.AppendSink
    val out = tempDir("graft_prune")
    val batch = Tables.load(spark, SfDir, "events")
      .withColumn("batch_date", to_date(col("ts")))
    AppendSink.idempotentAppend(batch, out, Seq("batch_date"))
    val pruned = AppendSink.readBack(spark, out)
      .filter(col("batch_date") === lit("2024-01-02"))
    val plan = planOf(pruned)
    // the date predicate must land in PartitionFilters (directory
    // pruning), not in the post-scan Filter — at 100 TB this is the
    // difference between reading one day and reading the table
    assert(plan.contains("PartitionFilters: ["), plan.take(800))
    assert(plan.contains("batch_date"), plan.take(800))
    assert(pruned.count() > 0)
  }

  test("salted join is row-identical to the plain join") {
    val ev = Tables.load(spark, SfDir, "events")
      .select("event_id", "user_id", "value")
    // hot-key build side: one row per user (latest price style)
    val dim = Tables.load(spark, SfDir, "events")
      .groupBy("user_id").agg(max("value").as("max_value"))
    val plain = ev.join(dim, Seq("user_id"))
      .select("event_id", "user_id", "value", "max_value")
    val salted = Skew.saltedJoin(ev, dim, "user_id", "event_id", salt = 8)
      .select("event_id", "user_id", "value", "max_value")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("salted aggregate is bit-identical to the direct aggregate") {
    val ev = Tables.load(spark, SfDir, "events")
    val direct = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Num.dsum(col("value")).as("sum_value"))
      .orderBy("event_type").collect().toSeq
    val salted = Skew.skewAgg(spark, SfDir).collect().toSeq
    assert(salted === direct)
  }

  test("csv ingest quarantines corrupt rows instead of dropping silently") {
    val dir = tempDir("graft_csv_bad")
    val lines = Seq(
      "event_id,ts,user_id,event_type,value",
      "1,2024-01-01 00:00:00.000001,10,click,1.5",
      "oops,not,a,valid,row,extra",
      "2,2024-01-02 03:04:05.123456,11,purchase,2.5")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part.csv"),
      String.join("\n", lines: _*).getBytes)
    val batch = CsvIngest.readEvents(spark, dir)
    assert(batch.clean.count() === 2)
    assert(batch.quarantined.select("event_id", "_corrupt")
      .collect().length === 1)
    val ts = batch.clean.orderBy("event_id").select("ts").collect()
    assert(ts(0).getTimestamp(0).toString === "2024-01-01 00:00:00.000001")
    batch.release()
  }
}
