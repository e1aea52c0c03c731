package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.EventStream
import graft.sources.Tables

/** Structured Streaming spec (SURVEY.md §2 #11): the streaming
  * windowed aggregate must converge to the batch twin's answer, and
  * the stateful latest-per-key must match the batch latest_per_key. */
class EventStreamSpec extends SparkTestBase {
  import spark.implicits._

  private def stageEventsAsFiles(): String = {
    val dir = tempDir("graft_stream_in")
    // Re-write the batch events table as the stream input (micros ts),
    // two files to simulate two micro-batch arrivals.
    Tables.load(spark, SfDir, "events").repartition(2)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming hourly counts converge to the batch tumbling-window answer") {
    val dir = stageEventsAsFiles()
    val stream = EventStream.hourlyCounts(EventStream.readEvents(spark, dir))
    val q = stream.writeStream.format("memory").queryName("hourly")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // watermark closes all but the trailing windows; every emitted row
    // must equal its batch twin exactly
    val got = spark.table("hourly")
      .select(col("bucket_hour"), col("event_type"), col("n"), col("sum_value"))
    val batch = graft.operators.Analytics.windowTumbling(spark, SfDir)
    val joined = got.join(batch,
      got("bucket_hour") === batch("bucket_hour") &&
        got("event_type") === batch("event_type"))
      .filter(got("n") =!= batch("n") || got("sum_value") =!= batch("sum_value"))
    assert(joined.count() === 0, "streamed window disagrees with batch twin")
    assert(got.count() > 0, "no windows emitted")
  }

  test("streaming heavy-hitters sketch converges to the batch counts") {
    // the mergeable MG aggregate runs unchanged under complete-mode
    // streaming: partial sketches per micro-batch merge into the
    // running state, and below capacity the result stays EXACT — the
    // live top-tickers board from the same kernel as the batch report
    val dir = stageEventsAsFiles()
    val sketch = EventStream.readEvents(spark, dir)
      .agg(graft.functions.AggFunctions
        .freqSketch(col("user_id"), 8192).as("sk"))
      .select(col("sk.items").as("items"), col("sk.max_err").as("err"))
    val q = sketch.writeStream.format("memory").queryName("hh")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val r = spark.table("hh").collect()(0)
    assert(r.getAs[Long]("err") === 0L)
    val got = r.getSeq[org.apache.spark.sql.Row](0)
      .map(x => x.getAs[Long]("item") -> x.getAs[Long]("est")).toMap
    val batch = Tables.load(spark, SfDir, "events")
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === batch)
  }

  test("streaming anomaly alerts flag exactly the batch z-score rows") {
    // two time-ordered chunks delivered as separate micro-batches:
    // per-key event order is preserved, so the streaming ring must
    // reproduce the batch frame exactly
    val dir = tempDir("graft_zstream")
    val ev = Tables.load(spark, SfDir, "events").orderBy("ts", "event_id")
    val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    ev.filter(col("ts") < cut).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val alerts = EventStream.anomalyAlerts(spark,
      EventStream.readEvents(spark, dir))
    val q = alerts.toDF().writeStream.format("memory").queryName("zalerts")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      ev.filter(col("ts") >= cut).coalesce(1)
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("zalerts")
      .select("event_id", "z").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = graft.operators.TimeSeries.anomalyZscore(spark, SfDir)
      .filter(col("is_anomaly") === 1L)
      .select("event_id", "z").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === batch.keySet,
      s"streaming flags ${got.keySet.size} vs batch ${batch.keySet.size}")
    // batch z is rounded to 6dp on output; compare at that precision
    got.foreach { case (eid, z) =>
      assert(math.abs(z - batch(eid)) < 1e-6, s"event $eid z mismatch")
    }
    assert(batch.nonEmpty, "no anomalies in the corpus — test is vacuous")
  }

  test("price alerts fire only on moves past the threshold") {
    val dir = tempDir("graft_alerts")
    import java.sql.Timestamp
    Seq(
      EventStream.Ev(1, Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "t", 10.0, ""),
      EventStream.Ev(2, Timestamp.valueOf("2024-01-01 00:01:00"), 7L, "t", 10.4, ""),
      EventStream.Ev(3, Timestamp.valueOf("2024-01-01 00:02:00"), 7L, "t", 12.0, ""),
      EventStream.Ev(4, Timestamp.valueOf("2024-01-01 00:03:00"), 8L, "t", 5.0, ""))
      .toDF().write.mode("overwrite").parquet(dir)
    val alerts = EventStream.priceAlerts(spark,
      EventStream.readEvents(spark, dir), threshold = 1.0)
    val q = alerts.toDF().writeStream.format("memory").queryName("alerts")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("alerts").collect()
    // only 10.4 -> 12.0 crosses the 1.0 threshold; key 8 has no prior
    assert(got.length === 1)
    assert(got(0).getAs[Long]("user_id") === 7L)
    assert(math.abs(got(0).getAs[Double]("change") - 1.6) < 1e-9)
  }

  test("dedup within watermark drops replayed events across micro-batches") {
    val dir = tempDir("graft_dedup_stream")
    import java.sql.Timestamp
    // two files -> two micro-batches; event 2 is re-delivered in the
    // second batch (same id, same payload), event 5 is new
    Seq(
      EventStream.Ev(1, Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "t", 1.0, ""),
      EventStream.Ev(2, Timestamp.valueOf("2024-01-01 00:01:00"), 7L, "t", 2.0, ""))
      .toDF().coalesce(1).write.mode("append").parquet(dir)
    Seq(
      EventStream.Ev(2, Timestamp.valueOf("2024-01-01 00:01:00"), 7L, "t", 2.0, ""),
      EventStream.Ev(5, Timestamp.valueOf("2024-01-01 00:02:00"), 8L, "t", 5.0, ""))
      .toDF().coalesce(1).write.mode("append").parquet(dir)
    val deduped = EventStream.dedupWithinWatermark(
      EventStream.readEvents(spark, dir))
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val ids = spark.table("dedup_stream").select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L, 5L), s"got $ids")
  }

  test("session windows: batch twin agrees with sessionize, stream emits a subset") {
    // batch mode: session_window grouping must produce exactly the
    // session set of the lag/running-sum sessionize operator
    val batchSessions = EventStream.sessionCounts(
      Tables.load(spark, SfDir, "events"), withWatermarkMark = false)
    val opSessions = graft.operators.Sessions.sessionize(spark, SfDir)
    assert(batchSessions.count() === opSessions.count())
    val j = batchSessions.join(opSessions,
      batchSessions("user_id") === opSessions("user_id") &&
        batchSessions("sess_start") === opSessions("sess_start"))
      .filter(batchSessions("n_events") =!= opSessions("n_events") ||
        batchSessions("sum_value") =!= opSessions("sum_value"))
    assert(j.count() === 0, "session_window disagrees with sessionize")
    // streaming mode: every emitted (closed) session is a true session
    val dir = stageEventsAsFiles()
    val q = EventStream.sessionCounts(EventStream.readEvents(spark, dir))
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("sessions")
    assert(got.count() > 0)
    assert(got.join(batchSessions,
      Seq("user_id", "sess_start", "n_events"), "left_anti").count() === 0,
      "stream emitted a session the batch twin does not contain")
  }

  test("stream-stream interval join matches the batch range join pairs") {
    val dir = stageEventsAsFiles()
    val joined = EventStream.clickPurchaseJoin(
      EventStream.readEvents(spark, dir))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("ssjoin")
    // batch twin: same predicate as Sessions.rangeJoin's inner pairs
    val ev = Tables.load(spark, SfDir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    val batch = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("p_ts") <= col("click_ts"))
    // the stream may withhold pairs still inside the final watermark,
    // but everything emitted must be a true pair, and most must emit
    assert(got.count() > 0)
    assert(got.join(batch, Seq("click_id"), "left_anti").count() === 0,
      "stream emitted a pair the batch join does not contain")
    val gotPairs = got.select("click_id", "p_ts").distinct().count()
    val batchPairs = batch.select("click_id", "p_ts").distinct().count()
    assert(gotPairs.toDouble / batchPairs > 0.5,
      s"stream emitted only $gotPairs of $batchPairs pairs")
  }

  test("micro-batch warehouse writes are replay-safe and lossless") {
    val in = stageEventsAsFiles()
    val root = tempDir("graft_wh")
    val out = root + "/table"
    val q = EventStream.writeToWarehouse(
      EventStream.readEvents(spark, in), out, root + "/ckpt")
    try { q.processAllAvailable() } finally { q.stop() }
    val expected = Tables.load(spark, SfDir, "events").count()
    assert(spark.read.parquet(out).count() === expected)
    // redeliver batch 0 (at-least-once): same content, same id — the
    // partition overwrite makes it a no-op, not a duplication
    val batch0 = spark.read.parquet(out)
      .filter(col("_batch_id") === 0).drop("_batch_id")
    EventStream.writeMicroBatch(batch0, 0L, out)
    assert(spark.read.parquet(out).count() === expected,
      "redelivered micro-batch duplicated rows")
    // compaction collapses the day's per-batch partitions into one
    val day = spark.read.parquet(out).select(max("batch_date"))
      .collect()(0).getDate(0).toString
    val dayRows = spark.read.parquet(out)
      .filter(col("batch_date") === day).count()
    graft.sinks.AppendSink.compactDay(spark, out, day)
    assert(spark.read.parquet(out).count() === expected)
    val compacted = spark.read.parquet(out).filter(col("batch_date") === day)
    assert(compacted.count() === dayRows)
    // partition values are re-inferred (int) on read — compare as long
    assert(compacted.select(col("_batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(-1L))
  }

  test("stateful latest-per-user matches batch latest_per_key") {
    val dir = stageEventsAsFiles()
    val latest = EventStream.latestPerUser(spark,
      EventStream.readEvents(spark, dir))
    val q = latest.toDF().writeStream.format("memory").queryName("latest")
      .outputMode("update").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // last update per key = the stream's final state
    val finalState = spark.table("latest")
      .groupBy("user_id")
      .agg(max(struct(col("latest_ts"), col("latest_price"))).as("m"))
      .select(col("user_id"), col("m.latest_ts"), col("m.latest_price"))
    val batch = graft.operators.StockOps.latestPerKey(spark, SfDir)
    val diff = finalState.join(batch,
      finalState("user_id") === batch("ticker_id"))
      .filter(finalState("latest_ts") =!= batch("latest_ts"))
    assert(diff.count() === 0, "stream state disagrees with batch latest")
    assert(finalState.count() === batch.count())
  }

  test("streaming daily sentiment converges to the batch sentiment_daily") {
    val dir = stageEventsAsFiles()
    val stream = EventStream.dailySentiment(EventStream.readEvents(spark, dir))
    val q = stream.writeStream.format("memory").queryName("daily_sent")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("daily_sent")
    val batch = graft.operators.TextOps.sentimentDaily(spark, SfDir)
    // every watermark-closed window must equal its batch twin exactly
    val joined = got.join(batch, Seq("ticker_id", "day"))
      .filter(got("n_titles") =!= batch("n_titles") ||
        got("sum_pos") =!= batch("sum_pos") ||
        got("sum_neg") =!= batch("sum_neg") ||
        got("day_score") =!= batch("day_score"))
    assert(joined.count() === 0, "streamed day disagrees with batch twin")
    assert(got.count() > 0, "no closed windows emitted")
    // nothing emitted that the batch result does not contain
    assert(got.join(batch, Seq("ticker_id", "day"), "left_anti").count() === 0)
  }

  test("compaction commit is atomic: readers never see a half-compacted day") {
    import graft.sinks.AppendSink
    val root = tempDir("graft_wh_atomic")
    val out = root + "/table"
    val day = "2024-01-01"
    def mkBatch(ids: Range): org.apache.spark.sql.DataFrame =
      ids.map(i => (i.toLong, java.sql.Timestamp.valueOf(s"$day 0$i:00:00"),
          i.toLong % 3, "click", i * 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("batch_date", to_date(col("ts")))
    EventStream.writeMicroBatch(mkBatch(0 to 2), 0L, out)
    EventStream.writeMicroBatch(mkBatch(3 to 4), 1L, out)
    def readIds(): Seq[Long] = AppendSink.readBack(spark, out)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    // the log's view of the day: its live batch dirs and covered ids
    def liveBatchDirs(): Seq[String] = graft.sinks.VersionedTable.snapshot(out)
      .files.filter(_.startsWith(s"batch_date=$day/_batch_id="))
      .map(_.split('/')(1)).distinct.sorted
    def coveredIds(): Set[Long] = graft.sinks.VersionedTable.snapshot(out)
      .covered.filter(_.startsWith(s"batch_date=$day/"))
      .map(_.stripPrefix(s"batch_date=$day/_batch_id=").toLong)
    val before = readIds()
    assert(before === Seq(0L, 1L, 2L, 3L, 4L))

    // crash window: compacted data dir fully written and renamed into
    // place, but the run died BEFORE its commit — a negative dir no
    // commit names must be invisible to readers
    val dayDir = new java.io.File(s"$out/batch_date=$day")
    val staged = new java.io.File(dayDir, ".compact_staging_1")
    spark.read.parquet(out).filter(col("batch_date") === day)
      .drop("batch_date", "_batch_id")
      .coalesce(1).write.mode("overwrite").parquet(staged.getAbsolutePath)
    java.nio.file.Files.move(staged.toPath,
      new java.io.File(dayDir, "_batch_id=-1").toPath)
    assert(readIds() === before,
      "reader saw the uncommitted compaction generation (duplicates)")

    // recovery run: commits the NEXT generation from the live set,
    // then GCs both the covered batches and the stale crashed dir
    AppendSink.compactDay(spark, out, day)
    assert(readIds() === before)
    assert(liveBatchDirs() === Seq("_batch_id=-2") &&
      coveredIds() === Set(0L, 1L))
    assert(!new java.io.File(dayDir, "_batch_id=-1").exists(),
      "stale crashed generation not GC'd")

    // a replayed covered batch (at-least-once redelivery AFTER its
    // data was compacted) is dropped at its commit
    EventStream.writeMicroBatch(mkBatch(0 to 2), 0L, out)
    assert(readIds() === before, "replay of a compacted batch duplicated rows")

    // post-compaction appends are visible alongside the compacted gen
    EventStream.writeMicroBatch(mkBatch(5 to 6), 5L, out)
    assert(readIds() === (0L to 6L))

    // re-compaction folds compacted gen + new batches into gen 3
    AppendSink.compactDay(spark, out, day)
    assert(readIds() === (0L to 6L))
    assert(liveBatchDirs() === Seq("_batch_id=-3") &&
      coveredIds() === Set(0L, 1L, 5L))

    // compacting an already-compacted day with nothing new is a
    // structural no-op: same generation, no rewrite
    AppendSink.compactDay(spark, out, day)
    assert(liveBatchDirs() === Seq("_batch_id=-3"))
    assert(readIds() === (0L to 6L))

    // a plain (non-batch-partitioned) day appended to the same table
    // reads alongside the batch-partitioned days with a null batch id
    AppendSink.append(Seq((100L,
        java.sql.Timestamp.valueOf("2024-01-02 01:00:00"), 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("batch_date", to_date(col("ts"))), out, Seq("batch_date"))
    val mixed = AppendSink.readBack(spark, out)
    assert(mixed.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      === ((0L to 6L) :+ 100L))
    assert(mixed.filter(col("event_id") === 100L)
      .select("_batch_id").collect()(0).isNullAt(0))

    // checkpoint reset: batch ids restart at 0 and now carry NEW
    // data; resetDayManifests clears the covers (keeping the
    // compacted generation live) so the reused id is visible again
    AppendSink.resetDayManifests(spark, out)
    assert(liveBatchDirs() === Seq("_batch_id=-3") && coveredIds().isEmpty)
    EventStream.writeMicroBatch(mkBatch(7 to 8), 0L, out)
    assert(readIds() === ((0L to 8L) :+ 100L),
      "restarted batch id invisible after manifest reset")

    // a SECOND reset while positive-id partitions are live must fold
    // them into a generation first — otherwise a restarted writer's
    // batch 0 would dynamic-partition-OVERWRITE the live _batch_id=0
    // dir and silently destroy rows 7-8
    AppendSink.resetDayManifests(spark, out)
    assert(liveBatchDirs() === Seq("_batch_id=-4") && coveredIds().isEmpty)
    EventStream.writeMicroBatch(mkBatch(9 to 9), 0L, out)
    assert(readIds() === ((0L to 9L) :+ 100L),
      "reset with live positive ids lost rows to an id collision")

    // a backfill appended DIRECTLY into the batched day (loose
    // day-level files next to _batch_id dirs) must read alongside
    // the live batch dirs, not silently drop
    AppendSink.append(Seq((300L,
        java.sql.Timestamp.valueOf(s"$day 09:30:00"), 2L, "click", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("batch_date", to_date(col("ts"))), out, Seq("batch_date"))
    assert(readIds() === ((0L to 9L) ++ Seq(100L, 300L)),
      "loose backfill files in a batched day were dropped")
  }

  test("streaming dedup vs static index admits only never-seen docs") {
    import java.sql.Timestamp
    val dir = tempDir("graft_docstream")
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    // index knows "alpha"; the stream carries: a dup of the index
    // (drop), a fresh doc (keep), the same fresh doc again
    // (within-stream dup, keep once), and a second fresh doc (keep)
    Seq((10L, t0, "alpha"), (11L, t0, "beta"), (12L, t0, "beta"),
      (13L, t0, "gamma"))
      .toDF("doc_id", "ingest_ts", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val index = Seq("alpha").toDF("text")
      .select(sha2(col("text"), 256).as("h"))
    val docsStream = spark.readStream
      .schema("doc_id LONG, ingest_ts TIMESTAMP, text STRING")
      .parquet(dir)
    val out = EventStream.dedupAgainstIndex(docsStream, index)
    val q = out.writeStream.format("memory").queryName("doc_dedup")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val kept = spark.table("doc_dedup").select("doc_id")
      .as[Long].collect().toSet
    // exactly one of {11, 12} (beta) survives, plus gamma; alpha's
    // dup never appears
    assert(!kept.contains(10L), "index dup must be dropped")
    assert(kept.contains(13L), "fresh doc must pass")
    assert((kept & Set(11L, 12L)).size == 1, "within-stream dup kept once")
    assert(kept.size == 2)
  }

  test("streaming drift monitor converges to the reference-impl PSI " +
    "over the full replay") {
    val dir = tempDir("graft_drift")
    val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val ev = Tables.load(spark, SfDir, "events")
    def binsOf(df: org.apache.spark.sql.DataFrame)
        : Map[String, Map[Long, Long]] =
      df.groupBy(col("event_type"),
          floor(col("value") / EventStream.DriftValueBinWidth)
            .cast("long").as("b"))
        .count().collect()
        .groupBy(_.getString(0))
        .map { case (t, rows) =>
          t -> rows.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    val reference = binsOf(ev.filter(col("ts") < cut))
    // stream the post-cut rows in two micro-batches
    val post = ev.filter(col("ts") >= cut).orderBy("ts", "event_id")
    val mid = java.sql.Timestamp.valueOf("2024-01-22 00:00:00")
    post.filter(col("ts") < mid).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val out = EventStream.driftMonitor(spark,
      EventStream.readEvents(spark, dir), reference)
    val q = out.toDF().writeStream.format("memory").queryName("drift")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      post.filter(col("ts") >= mid).coalesce(1)
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    // the LAST emission per stream must equal the reference-impl PSI
    // over the full post-cut window (each batch refreshes the row; a
    // memory sink in append keeps all — take max n_cur per type)
    val gotRows = spark.table("drift").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(4)))
    val got = gotRows.groupBy(_._1).map { case (t, rs) =>
      t -> rs.maxBy(_._2)._3 }
    val current = binsOf(ev.filter(col("ts") >= cut))
    current.foreach { case (t, cur) =>
      val expected = EventStream.psiOf(reference(t), cur)._3
      assert(got.contains(t), s"no drift emission for $t")
      assert(got(t) === expected, s"$t psi ${got(t)} vs $expected")
    }
    assert(got.nonEmpty)
  }

  test("streaming attribution replays to the batch channel ledger") {
    val dir = tempDir("graft_attr")
    val ev = Tables.load(spark, SfDir, "events").orderBy("ts", "event_id")
    val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    ev.filter(col("ts") < cut).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val attr = EventStream.attributedPurchases(spark,
      EventStream.readEvents(spark, dir))
    val q = attr.toDF().writeStream.format("memory").queryName("attr")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      ev.filter(col("ts") >= cut).coalesce(1)
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    // per-channel ledger of the emitted rows == the batch report
    // (in-order replay; same merge order, same lookback)
    val got = spark.table("attr")
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conv"),
        round(graft.operators.Num.dsum(col("value")), 6).as("revenue"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.operators.Dimensional.attribution(spark, SfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === batch)
    assert(batch.exists(_._1 != "unattributed"),
      "no attributed purchases in the corpus — test is vacuous")
  }

  test("streaming transition feed replays to the batch matrix") {
    val dir = tempDir("graft_trans")
    val ev = Tables.load(spark, SfDir, "events").orderBy("ts", "event_id")
    val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    ev.filter(col("ts") < cut).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val feed = EventStream.transitionFeed(spark,
      EventStream.readEvents(spark, dir))
    val q = feed.toDF().writeStream.format("memory").queryName("trans")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      ev.filter(col("ts") >= cut).coalesce(1)
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("trans")
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.operators.Sessions.eventTransitions(spark, SfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === batch)
    assert(batch.values.sum > 0L)
  }

  test("streaming first-seen feed emits each user once, equal to batch") {
    val dir = tempDir("graft_growth")
    val ev = Tables.load(spark, SfDir, "events").orderBy("ts", "event_id")
    val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    ev.filter(col("ts") < cut).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val feed = EventStream.firstSeenFeed(spark,
      EventStream.readEvents(spark, dir))
    val q = feed.toDF().writeStream.format("memory").queryName("fseen")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      ev.filter(col("ts") >= cut).coalesce(1)
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("fseen").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    val batch = Tables.load(spark, SfDir, "events")
      .groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_id"))).as("m"))
      .select(col("user_id"), col("m.ts").as("ts")).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    assert(got === batch)
    // one emission per user even though every user spans both batches
    assert(spark.table("fseen").count() === batch.size.toLong)
  }

  test("streaming CUSUM monitor replays the batch recurrence over completed days") {
    val dayUs = 86400L * 1000000L
    // frozen targets = the full corpus' per-user (n_days, total) —
    // the batch operator's own statistics, so completed-day points
    // must equal the batch recurrence prefix exactly
    val perDay = Tables.load(spark, SfDir, "events")
      .groupBy(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(v => (v._2, v._3)).sortBy(_._1)).toMap
    val targets = perDay.map { case (u, ds) =>
      u -> (ds.length.toLong, ds.map(_._2).sum)
    }
    val dir = tempDir("graft_cusum")
    val ev = Tables.load(spark, SfDir, "events").orderBy("ts", "event_id")
    val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    ev.filter(col("ts") < cut).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val feed = EventStream.cusumMonitor(spark,
      EventStream.readEvents(spark, dir), targets)
    val q = feed.toDF().writeStream.format("memory").queryName("cusum")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      ev.filter(col("ts") >= cut).coalesce(1)
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cusum").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    // reference: the batch recurrence, truncated before the final
    // (still-open) observed day of each user
    val expected = perDay.toSeq.flatMap { case (u, ds) =>
      val (n, t) = targets(u)
      var s = 0L
      ds.dropRight(1).toSeq.map { case (day, cnt) =>
        s = math.max(0L, s + (n * cnt - t) - t / 4L)
        (u, day) -> (s, s > t)
      }
    }.toMap
    assert(got === expected)
    assert(expected.nonEmpty && expected.exists(_._2._2))
  }

  test("streaming fingerprint converges to the batch table fingerprint") {
    val dir = tempDir("graft_fp_stream")
    val ev = Tables.load(spark, SfDir, "events").orderBy("ts", "event_id")
    val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    ev.filter(col("ts") < cut).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val feed = EventStream.fingerprintFeed(spark,
      EventStream.readEvents(spark, dir))
    val q = feed.writeStream.format("memory").queryName("fps")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      ev.filter(col("ts") >= cut).coalesce(1)
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("fps").collect().head
    val batch = graft.operators.Analytics.tableFingerprint(spark, SfDir)
      .filter(col("table") === "events").collect().head
    assert(got.getAs[Long]("n_rows") === batch.getAs[Long]("n_rows"))
    assert(got.getAs[Long]("checksum") === batch.getAs[Long]("checksum"))
  }

  test("streaming ANN serving over the persisted index equals the " +
    "batch probe path, replay-idempotent (#119's serving twin, round 18)") {
    import graft.operators.Similarity
    val (centroids, postings) = Similarity.ivfIndexTables(spark, SfDir)
    // the probe set the batch contract is oracled on, arriving as two
    // file micro-batches
    val probesAll = Similarity.emb(spark, SfDir)
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("vec").as("qvec"))
    val inDir = tempDir("graft_annserve_in")
    val outDir = tempDir("graft_annserve_out")
    val chkDir = tempDir("graft_annserve_chk")
    probesAll.filter(col("q_id") < 4).coalesce(1)
      .write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(probesAll.schema).parquet(inDir)
    val q = EventStream.annServe(stream, centroids, postings, outDir,
      chkDir)
    try {
      q.processAllAvailable()
      probesAll.filter(col("q_id") >= 4).coalesce(1)
        .write.mode("append").parquet(inDir)
      q.processAllAvailable()
    } finally q.stop()
    def served: Set[String] = spark.read.parquet(outDir)
      .select("q_id", "rnk", "cand_id", "cos_sim")
      .collect().map(_.toString).toSet
    val batch = Similarity.annIvfIndexedTuned(spark, SfDir)
      .select("q_id", "rnk", "cand_id", "cos_sim")
      .collect().map(_.toString).toSet
    assert(served === batch,
      "streamed serve diverged from the oracled batch probe path")
    assert(spark.read.parquet(outDir).select("batch_id").distinct()
      .count() >= 2, "expected at least two micro-batches")
    // replay idempotence — the at-least-once REDELIVERY case
    // foreachBatch contracts for (same batchId, same rows, re-run
    // after a simulated sink failure): the per-batch overwrite
    // partition must leave both the row count and the served set
    // unchanged, not append duplicates
    val cnt1 = spark.read.parquet(outDir).count()
    Similarity.ivfServe(probesAll.filter(col("q_id") < 4),
        broadcast(centroids), postings, Similarity.IvfProbe,
        Similarity.IvfProbeMargin, Similarity.IvfProbeMax)
      .write.mode("overwrite").parquet(s"$outDir/batch_id=0")
    assert(spark.read.parquet(outDir).count() === cnt1,
      "redelivered batch duplicated rows")
    assert(served === batch, "redelivered batch mutated served rows")
  }
}
