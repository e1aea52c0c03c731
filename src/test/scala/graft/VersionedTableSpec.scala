package graft

import org.apache.spark.sql.functions._
import graft.sinks.VersionedTable

/** Versioned-manifest commit protocol tests (SURVEY.md §2 #105):
  * snapshot isolation, optimistic multi-writer commits, crash
  * windows, and vacuum safety. */
class VersionedTableSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    tempDir("vtable")

  private def batch(lo: Long, n: Long) =
    spark.range(lo, lo + n).select(col("id"),
      (col("id") * 2).as("val"))

  test("append publishes atomically; readers see all-or-nothing") {
    val root = freshRoot()
    assert(VersionedTable.snapshot(root).version === 0L)
    val v1 = VersionedTable.append(batch(0, 100), root)
    assert(v1 === 1L)
    assert(VersionedTable.read(spark, root).count() === 100L)
    val v2 = VersionedTable.append(batch(100, 50), root)
    assert(v2 === 2L)
    assert(VersionedTable.read(spark, root).count() === 150L)
    // ids exactly once
    val ids = VersionedTable.read(spark, root)
      .select("id").as[Long].collect().sorted
    assert(ids.toSeq === (0L until 150L))
  }

  test("a pinned snapshot keeps serving its version across later commits") {
    val root = freshRoot()
    VersionedTable.append(batch(0, 10), root)
    val snap = VersionedTable.snapshot(root)
    VersionedTable.append(batch(10, 10), root)
    VersionedTable.compact(spark, root)
    // the pinned reader still sees exactly version 1
    assert(VersionedTable.read(spark, root, snap)
      .select("id").as[Long].collect().sorted.toSeq === (0L until 10L))
    // a fresh reader sees everything
    assert(VersionedTable.read(spark, root).count() === 20L)
  }

  test("concurrent appends all land exactly once (optimistic version race)") {
    val root = freshRoot()
    val writers = 8
    val perWriter = 25L
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futs = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            VersionedTable.append(batch(w * perWriter, perWriter), root)
        })
      }
      val vs = futs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      // every writer won a DISTINCT version 1..writers
      assert(vs.sorted.toSeq === (1L to writers.toLong))
    } finally pool.shutdownNow()
    val ids = VersionedTable.read(spark, root)
      .select("id").as[Long].collect().sorted
    assert(ids.toSeq === (0L until writers * perWriter),
      "every concurrent batch exactly once")
  }

  test("compaction commutes with concurrent appends; no rows lost") {
    val root = freshRoot()
    (0 until 6).foreach(i => VersionedTable.append(batch(i * 10L, 10), root))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val compactF = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = VersionedTable.compact(spark, root)
      })
      val appendF = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = VersionedTable.append(batch(60, 10), root)
      })
      assert(compactF.get(120, java.util.concurrent.TimeUnit.SECONDS) > 0L)
      appendF.get(120, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdownNow()
    val ids = VersionedTable.read(spark, root)
      .select("id").as[Long].collect().sorted
    assert(ids.toSeq === (0L until 70L),
      "concurrent append survives the compaction commit")
  }

  test("racing compactions: exactly one wins, the loser discards its rewrite") {
    val root = freshRoot()
    (0 until 4).foreach(i => VersionedTable.append(batch(i * 10L, 10), root))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = (0 until 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = VersionedTable.compact(spark, root)
        })
      }
      fs.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    val ids = VersionedTable.read(spark, root)
      .select("id").as[Long].collect().sorted
    assert(ids.toSeq === (0L until 40L), "double compaction preserves rows")
    VersionedTable.vacuum(root, retentionMs = 0L)
    assert(VersionedTable.read(spark, root)
      .select("id").as[Long].collect().sorted.toSeq === (0L until 40L))
  }

  test("crash windows: staged-but-uncommitted data is invisible and vacuumable") {
    val root = freshRoot()
    VersionedTable.append(batch(0, 10), root)
    // simulate a writer that crashed after staging, before commit:
    // data files exist under data/<uuid>/ with no log entry
    val orphanDir = new java.io.File(s"$root/data/crashed-writer")
    orphanDir.mkdirs()
    batch(100, 10).write.parquet(orphanDir.getAbsolutePath + "/x")
    // move the part files up to look like a staged write
    new java.io.File(orphanDir, "x").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.move(f.toPath,
        new java.io.File(orphanDir, f.getName).toPath))
    assert(VersionedTable.read(spark, root).count() === 10L,
      "orphaned stage must be invisible")
    // simulate a crashed commit: a leftover tmp in the log dir
    java.nio.file.Files.write(
      new java.io.File(s"$root/_graft_log/.v9-crashed.tmp").toPath,
      """{"adds":["data/crashed-writer/ghost.parquet"],"removes":[]}"""
        .getBytes("UTF-8"))
    assert(VersionedTable.snapshot(root).version === 1L,
      "tmp files are not versions")
    assert(VersionedTable.read(spark, root).count() === 10L)
    // default retention refuses the sweep: the orphan is younger than
    // the window, so it COULD be a live writer mid-commit
    assert(VersionedTable.vacuum(root) === 0,
      "fresh unreferenced files survive a retention-gated vacuum")
    // force mode (quiesced table) reclaims it
    val deleted = VersionedTable.vacuum(root, retentionMs = 0L)
    assert(deleted > 0, "orphan data files vacuumed")
    assert(VersionedTable.read(spark, root).count() === 10L)
  }

  test("snapshot replay stops at a version gap (prefix consistency)") {
    val root = freshRoot()
    VersionedTable.append(batch(0, 10), root)
    VersionedTable.append(batch(10, 10), root)
    // fabricate a FUTURE version with a gap (as a racing lister might
    // observe mid-commit): v4 exists, v3 does not
    java.nio.file.Files.write(
      new java.io.File(s"$root/_graft_log/v${"0" * 19}4.json").toPath,
      """{"adds":[],"removes":[]}""".getBytes("UTF-8"))
    val snap = VersionedTable.snapshot(root)
    assert(snap.version === 2L, "replay must stop before the gap")
    assert(VersionedTable.read(spark, root, snap).count() === 20L)
  }

  test("appendOnce: a replayed epoch commits nothing new") {
    val root = freshRoot()
    val v1 = VersionedTable.appendOnce(batch(0, 10), root, "w1", 0L)
    val v2 = VersionedTable.appendOnce(batch(10, 10), root, "w1", 1L)
    assert(v1 === 1L && v2 === 2L)
    // restart replays the last micro-batch (at-least-once contract)
    val replayed = VersionedTable.appendOnce(batch(10, 10), root, "w1", 1L)
    assert(replayed === v2, "replay returns the original version")
    assert(VersionedTable.snapshot(root).version === 2L,
      "no new version committed")
    assert(VersionedTable.read(spark, root).count() === 20L,
      "rows land exactly once")
    // a DIFFERENT writer's epoch 1 is a fresh transaction
    val other = VersionedTable.appendOnce(batch(20, 5), root, "w2", 1L)
    assert(other === 3L)
    assert(VersionedTable.read(spark, root).count() === 25L)
  }

  test("changes feed: appends since a version, compactions invisible") {
    val root = freshRoot()
    VersionedTable.append(batch(0, 10), root) // v1
    val mark = VersionedTable.snapshot(root).version
    VersionedTable.append(batch(10, 10), root) // v2
    VersionedTable.compact(spark, root) // v3: rewrite, no new data
    VersionedTable.append(batch(20, 10), root) // v4
    val feed = VersionedTable.changes(spark, root, mark)
    assert(feed.count() === 20L,
      "feed is exactly the appended batches after the mark")
    assert(feed.agg(min(col("id")), max(col("id"))).as[(Long, Long)]
      .head() === ((10L, 29L)), "compaction rewrites never resurface")
    assert(VersionedTable.changes(spark, root,
      VersionedTable.snapshot(root).version).count() === 0L,
      "caught-up reader sees an empty feed")
  }

  test("time travel: a version before compaction and delete reads intact") {
    val root = freshRoot()
    VersionedTable.append(batch(0, 10), root) // v1
    VersionedTable.append(batch(10, 10), root) // v2
    VersionedTable.compact(spark, root) // v3
    VersionedTable.deleteWhere(spark, root, col("id") < 5) // v4
    assert(VersionedTable.read(spark, root).count() === 15L)
    val v2 = VersionedTable.snapshotAt(root, 2L)
    assert(v2.version === 2L)
    assert(VersionedTable.read(spark, root, v2).count() === 20L,
      "the pre-delete version must read its full content")
    val v1 = VersionedTable.snapshotAt(root, 1L)
    assert(VersionedTable.read(spark, root, v1)
      .agg(max(col("id"))).as[Long].head() === 9L)
  }

  test("copy-on-write delete rewrites only the files containing matches") {
    val root = freshRoot()
    VersionedTable.append(batch(0, 10).coalesce(1), root) // one file
    VersionedTable.append(batch(10, 10).coalesce(1), root) // one file
    val before = VersionedTable.snapshot(root)
    // matches live only in the second file
    val v = VersionedTable.deleteWhere(spark, root, col("id") >= 15)
    assert(v === 3L)
    val after = VersionedTable.snapshot(root)
    assert(VersionedTable.read(spark, root).count() === 15L)
    assert(VersionedTable.read(spark, root)
      .filter(col("id") >= 15).count() === 0L)
    val untouched = before.files.toSet.intersect(after.files.toSet)
    assert(untouched.size === 1,
      "the file without matches must survive byte-identical (not rewritten)")
    // delete with no matches: no commit at all
    assert(VersionedTable.deleteWhere(spark, root, col("id") > 999) === -1L)
    assert(VersionedTable.snapshot(root).version === after.version)
    // NULL predicate rows are KEPT (SQL DELETE semantics)
    val vNull = VersionedTable.deleteWhere(spark, root,
      when(col("id") < 3, lit(true)))
    assert(vNull > 0)
    assert(VersionedTable.read(spark, root).count() === 12L,
      "only the 3 TRUE rows go; NULL-predicate rows stay")
  }

  test("deleteWhere prunes discovery by log stats on a range-clustered table") {
    val root = freshRoot()
    // four single-file batches with disjoint id ranges, stats on id
    (0 until 4).foreach(i =>
      VersionedTable.append(batch(i * 100L, 100).coalesce(1), root, Seq("id")))
    // the provable bounds of the predicate…
    val pred = col("id") >= 250 && col("id") < 280 && col("val") =!= -1
    val ranges = VersionedTable.predicateRanges(pred)
    assert(ranges("id") === ((250.0, 280.0)))
    assert(!ranges.contains("val"), "non-literal-comparable conjunct ignored")
    // …prove exactly one candidate file before any row is read
    val snap = VersionedTable.snapshot(root)
    val cands = VersionedTable.statsCandidates(root, snap.files, ranges)
    assert(cands.size === 1, s"one candidate, got ${cands.size}")
    // and the delete rewrites only that file, leaving the rest
    // byte-identical (they were never part of the discovery scan)
    val v = VersionedTable.deleteWhere(spark, root, pred)
    assert(v > 0)
    val after = VersionedTable.snapshot(root)
    assert(snap.files.toSet.intersect(after.files.toSet).size === 3,
      "the three stats-pruned files must survive untouched")
    assert(VersionedTable.read(spark, root).count() === 370L)
    assert(VersionedTable.read(spark, root)
      .filter(col("id") >= 250 && col("id") < 280).count() === 0L)
    // a predicate with no provable bounds still deletes correctly
    // (full discovery scan fallback)
    val v2 = VersionedTable.deleteWhere(spark, root,
      (col("id") % 100) === 99)
    assert(v2 > v)
    assert(VersionedTable.read(spark, root)
      .filter(col("id") === 199).count() === 0L)
  }

  test("log-stats data skipping: readRange opens only intersecting files") {
    val root = freshRoot()
    // three single-file batches with disjoint id ranges, stats on id
    VersionedTable.append(batch(0, 100).coalesce(1), root, Seq("id"))
    VersionedTable.append(batch(100, 100).coalesce(1), root, Seq("id"))
    VersionedTable.append(batch(200, 100).coalesce(1), root, Seq("id"))
    // a statless batch is conservatively kept in every range read
    VersionedTable.append(batch(300, 10).coalesce(1), root)
    assert(VersionedTable.rangeFiles(root, "id", 120, 180).size === 2,
      "one stats-matched file + the statless file")
    val got = VersionedTable.readRange(spark, root, "id", 120, 180)
    assert(got.count() === 61L)
    assert(got.agg(min(col("id")), max(col("id"))).as[(Long, Long)]
      .head() === ((120L, 180L)))
    // pruning on an unrecorded column keeps everything (pure
    // optimization, never a correctness dependence)
    assert(VersionedTable.rangeFiles(root, "val", 0, 1).size === 4)
    // stats sidecars survive vacuum while their data files are live
    VersionedTable.compact(spark, root)
    VersionedTable.vacuum(root, retentionMs = 0L)
    assert(VersionedTable.read(spark, root).count() === 310L)
    // compaction output carries no stats -> kept, still correct
    assert(VersionedTable.readRange(spark, root, "id", 120, 180)
      .count() === 61L)
    // stats-aware compaction: range-clustered rewrite re-records
    // stats, so pruning works on the compacted layout too
    VersionedTable.compact(spark, root, targetBytes = 1024,
      statsCols = Seq("id"))
    VersionedTable.vacuum(root, retentionMs = 0L)
    val opened = VersionedTable.rangeFiles(root, "id", 120, 180)
    assert(opened.size < VersionedTable.snapshot(root).files.size,
      "a range slice must skip clustered files post-compaction")
    assert(VersionedTable.readRange(spark, root, "id", 120, 180)
      .count() === 61L)
  }

  test("a NaN in a stats column bounds nothing: its file is read") {
    val root = freshRoot()
    VersionedTable.append(batch(0, 10).coalesce(1)
      .withColumn("x", when(col("id") === 9, lit(Double.NaN))
        .otherwise(col("id").cast("double"))), root, Seq("x"))
    assert(VersionedTable.rangeFiles(root, "x", 2, 4).size === 1)
    assert(VersionedTable.readRange(spark, root, "x", 2, 4).count() === 3L)
    // the sidecar form older writers left: NaN printed bare
    val file = new java.io.File(root, VersionedTable.snapshot(root).files.head)
    java.nio.file.Files.write(
      new java.io.File(file.getParentFile, "_stats.json").toPath,
      s"""{"${file.getName}":{"x":[0.0,NaN]}}""".getBytes("UTF-8"))
    assert(VersionedTable.rangeFiles(root, "x", 2, 4).size === 1)
  }

  test("schema evolution: an added column widens the table, old rows NULL") {
    val root = freshRoot()
    VersionedTable.append(batch(0, 10), root)
    VersionedTable.append(batch(10, 10)
      .withColumn("lang", lit("en")), root)
    val t = VersionedTable.read(spark, root)
    assert(t.columns.sorted.toSeq === Seq("id", "lang", "val"))
    assert(t.filter(col("lang").isNull).count() === 10L,
      "pre-evolution rows read the new column as NULL")
    assert(t.filter(col("lang") === "en").count() === 10L)
    // the widened schema survives compaction and delete rewrites
    VersionedTable.compact(spark, root)
    VersionedTable.deleteWhere(spark, root, col("id") < 5)
    val t2 = VersionedTable.read(spark, root)
    assert(t2.columns.sorted.toSeq === Seq("id", "lang", "val"))
    assert(t2.count() === 15L)
  }

  test("reads take the schema from the log: building a frame runs no job") {
    val root = freshRoot()
    VersionedTable.append(batch(0, 10), root)
    VersionedTable.append(batch(10, 10).withColumn("lang", lit("en")), root)
    // each commit records the schema of the files it adds
    val log = new java.io.File(s"$root/_graft_log/v${"0" * 19}2.json")
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(log).path("metaData").path("schemaString").asText
    assert(org.apache.spark.sql.types.DataType.fromJson(meta) ===
      batch(0, 1).withColumn("lang", lit("en")).schema)
    var t: org.apache.spark.sql.DataFrame = null
    var feed: org.apache.spark.sql.DataFrame = null
    val jobs = jobDescriptions {
      t = VersionedTable.read(spark, root)
      feed = VersionedTable.changes(spark, root, 1L)
    }
    assert(jobs.isEmpty, s"no footer inference job, got $jobs")
    assert(t.columns.toSeq === Seq("id", "val", "lang"))
    assert(t.schema.forall(_.nullable),
      "older files read an added column as NULL, as under inference")
    assert(t.count() === 20L && feed.count() === 10L)
  }

  test("the log is the file index: reads over 48 files run no job") {
    val root = freshRoot()
    (0 until 12).foreach(i =>
      VersionedTable.append(batch(i * 10L, 10).repartition(4), root))
    val snap = VersionedTable.snapshot(root)
    assert(snap.files.size >= 40, s"${snap.files.size} files")
    var t: org.apache.spark.sql.DataFrame = null
    val jobs = jobDescriptions {
      t = VersionedTable.read(spark, root)
      VersionedTable.read(spark, root, VersionedTable.snapshotAt(root, 3L))
      VersionedTable.changes(spark, root, 6L)
      VersionedTable.readRange(spark, root, "id", 0, 50)
      t.queryExecution.executedPlan
    }
    assert(jobs.isEmpty, s"no listing or footer job, got $jobs")
    assert(t.count() === 120L && t.inputFiles.length === snap.files.size)
    // each add records its file as the write left it
    snap.adds.foreach { a =>
      val f = new java.io.File(root, a.path)
      assert(a.size === f.length && a.mtime === f.lastModified, a)
    }
  }

  test("a commit records the schema only when it changes") {
    val root = freshRoot()
    VersionedTable.append(batch(0, 10), root)
    VersionedTable.append(batch(10, 10), root)
    VersionedTable.append(batch(20, 10).withColumn("lang", lit("en")), root)
    def recorded(v: Int) = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$root/_graft_log/v${"0" * 19}$v.json"))
      .has("metaData")
    assert(recorded(1) && !recorded(2) && recorded(3))
    assert(jobDescriptions(VersionedTable.read(spark, root)).isEmpty)
    assert(VersionedTable.read(spark, root).filter(col("lang").isNull).count() === 20L)
    assert(VersionedTable.changes(spark, root, 1L).count() === 20L)
  }

  test("a legacy commit without a schema still reads through inference") {
    val root = freshRoot()
    val dir = new java.io.File(s"$root/data/legacy")
    batch(0, 10).coalesce(1).write.parquet(dir.getPath)
    val part = dir.listFiles().map(_.getName).filter(_.endsWith(".parquet")).head
    new java.io.File(s"$root/_graft_log").mkdirs()
    java.nio.file.Files.write(
      new java.io.File(s"$root/_graft_log/v${"0" * 19}1.json").toPath,
      s"""{"adds":["data/legacy/$part"],"removes":[]}""".getBytes("UTF-8"))
    assert(VersionedTable.snapshot(root).schemas.isEmpty)
    assert(jobDescriptions(VersionedTable.read(spark, root)).nonEmpty,
      "a schemaless commit's files are read by footer inference")
    assert(VersionedTable.read(spark, root).count() === 10L)
    // a later commit with a schema widens a table it shares with them
    VersionedTable.append(batch(10, 5).withColumn("lang", lit("en")), root)
    val t = VersionedTable.read(spark, root)
    assert(t.columns.sorted.toSeq === Seq("id", "lang", "val"))
    assert(t.filter(col("lang").isNull).count() === 10L)
    assert(VersionedTable.changes(spark, root, 0L).count() === 15L)
  }

  test("an incompatible type change across commits fails loudly") {
    val root = freshRoot()
    VersionedTable.append(batch(0, 10), root)
    VersionedTable.append(batch(10, 10)
      .select(col("id").cast("string").as("id"), col("val")), root)
    val e = intercept[Exception](VersionedTable.read(spark, root).collect())
    assert(e.getMessage.contains("id"), e.getMessage)
  }

  test("streaming writeToVersioned composes with concurrent compaction") {
    val root = freshRoot()
    val ckpt = tempDir("vt_ckpt")
    val inDir = tempDir("vt_in")
    batch(0, 10).write.mode("append").parquet(inDir)
    val stream = spark.readStream
      .schema(batch(0, 1).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
    val query = graft.streaming.EventStream.writeToVersioned(
      stream, root, "stream-w", ckpt)
    try {
      query.processAllAvailable()
      // batch compaction while the stream is live: snapshot-isolated
      // commits mean neither writer can corrupt the other
      VersionedTable.compact(spark, root)
      batch(10, 10).write.mode("append").parquet(inDir)
      query.processAllAvailable()
    } finally query.stop()
    assert(VersionedTable.read(spark, root).count() === 20L,
      "streamed rows + compaction preserve exactly-once content")
    val txnVersions = VersionedTable.changes(spark, root, 0L)
    assert(txnVersions.count() === 20L,
      "the changes feed serves every streamed append, not the rewrite")
  }
}
