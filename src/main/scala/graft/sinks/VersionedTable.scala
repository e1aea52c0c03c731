package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.StagePath

/** Versioned-manifest table commits (SURVEY.md §2 #105): snapshot
  * isolation for a parquet table under CONCURRENT writers — the
  * multi-writer ACID guarantee the reference outsources to BigQuery's
  * `WRITE_APPEND` (/root/reference/dags/stock_data_to_gcp.py:123-136),
  * re-expressed as a filesystem commit log in the public
  * Delta/Iceberg shape:
  *
  *  - `root/_graft_log/v<20-digit>.json` — one immutable action file
  *    per version: the data files this commit adds and removes
  *    (paths relative to root), an [[appendOnce]] tag and, in Delta's
  *    `metaData` shape, the schema of the files it adds:
  *    `{"adds":[..],"removes":[..],"writer":"w","epoch":7,
  *    "metaData":{"schemaString":"<StructType JSON>"}}`. The TABLE
  *    STATE at version N is the replay of actions 1..N; data files are
  *    never listed by directory, nor footers read for the schema (a
  *    commit without `metaData`, from before it existed, still is).
  *  - Data files land under `root/data/<uuid>/` BEFORE their commit
  *    references them — an uncommitted (or crashed) write is plain
  *    unreferenced bytes, invisible to every reader.
  *  - Commit = publish version R+1 by atomically CREATING the next
  *    log file: `Files.createLink(v{R+1}, tmp)` fails if the name
  *    exists, so of two racing writers exactly one wins the version
  *    (the POSIX twin of an object store's if-none-match conditional
  *    PUT). The loser re-reads the log, checks for a LOGICAL
  *    conflict, and retries on top of the winner.
  *  - Conflict rule: appends add fresh uuid-named files — they
  *    commute with everything, so a losing append just re-commits.
  *    A compaction's `removes` must all still be live; if an
  *    intervening commit removed any of them (another compaction
  *    won), the whole rewrite restarts from the new snapshot.
  *  - Readers pin a snapshot: `snapshot()` resolves the latest
  *    contiguous version once, and the DataFrame reads exactly those
  *    files for its whole lifetime — a concurrent compaction commit
  *    does not make a running query see half-old half-new data.
  *    `vacuum()` deletes unreferenced files and is the only
  *    destructive step; it must lag the longest-running reader (same
  *    retention contract as Delta's VACUUM).
  *
  * At 100 TB the log stays tiny (file LISTS, not data), state replay
  * is O(versions) driver-side metadata work, and the data path is
  * identical to any parquet table — scans, pushdown, partitioning all
  * unchanged. Snapshot resolution is the only listing of `_graft_log`;
  * no data directory is ever listed on the read path.
  */
object VersionedTable {

  private val LogDir = "_graft_log"

  /** The table at `version`: its live files and, where recorded, the
    * schema JSON of the commit that added each. */
  final case class Snapshot(version: Long, files: Seq[String],
      schemas: Map[String, String]) {
    def isEmpty: Boolean = files.isEmpty
  }

  private def logDir(root: String) = new java.io.File(root, LogDir)

  private def versionFile(root: String, v: Long) =
    new java.io.File(logDir(root), f"v$v%020d.json")

  private val VersionRe = "v(\\d{20})\\.json".r

  /** One log entry (see the log format above). */
  private final case class Commit(adds: Seq[String],
      removes: Seq[String] = Seq.empty, txn: Option[(String, Long)] = None,
      schema: Option[String] = None) {
    def schemas: Map[String, String] =
      schema.fold(Map.empty[String, String])(s => adds.map(_ -> s).toMap)
  }

  // stats sidecars written before this reader print NaN bare
  private val Json = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .enable(com.fasterxml.jackson.core.json.JsonReadFeature
      .ALLOW_NON_NUMERIC_NUMBERS).build()

  private def writeCommit(f: java.io.File, c: Commit): Unit = {
    val o = Json.createObjectNode()
    c.adds.foldLeft(o.putArray("adds"))(_.add(_))
    c.removes.foldLeft(o.putArray("removes"))(_.add(_))
    c.txn.foreach { case (w, e) => o.put("writer", w).put("epoch", e) }
    c.schema.foreach(o.putObject("metaData").put("schemaString", _))
    java.nio.file.Files.write(f.toPath, Json.writeValueAsBytes(o))
  }

  private def readCommit(root: String, v: Long): Commit = {
    import scala.jdk.CollectionConverters._
    val o = Json.readTree(versionFile(root, v))
    def strs(k: String) = o.path(k).elements().asScala.map(_.asText).toSeq
    Commit(strs("adds"), strs("removes"),
      Option(o.get("writer")).map(w => (w.asText, o.get("epoch").asLong)),
      Option(o.path("metaData").get("schemaString")).map(_.asText))
  }

  /** Committed versions present in the log, ascending. */
  private def versions(root: String): Seq[Long] =
    Option(logDir(root).listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(f => f.getName match {
        case VersionRe(v) => Some(v.toLong)
        case _ => None
      }).sorted

  /** Resolve the current snapshot: replay the longest CONTIGUOUS
    * version prefix (a gap can only be a listing race with a
    * by-now-committed writer; stopping at it keeps the view a true
    * prefix of history). Version 0 = empty table. */
  def snapshot(root: String): Snapshot = snapshotAt(root, Long.MaxValue)

  /** TIME TRAVEL: the table as of version `asOf` — replay of the
    * contiguous log prefix capped there. Old versions stay readable
    * until [[vacuum]] reclaims their files (the retention window IS
    * the time-travel horizon, as in Delta/Iceberg). */
  def snapshotAt(root: String, asOf: Long): Snapshot = {
    val live = collection.mutable.LinkedHashMap.empty[String, Option[String]]
    var v = 0L
    for (next <- versions(root) if next == v + 1 && next <= asOf) {
      val c = readCommit(root, next)
      c.removes.foreach(live -= _)
      c.adds.foreach(live(_) = c.schema)
      v = next
    }
    Snapshot(v, live.keys.toSeq,
      live.collect { case (f, Some(s)) => f -> s }.toMap)
  }

  /** The one parquet read of table files: `files` (root-relative) with
    * the merge of their commits' schemas, in commit order (Spark's
    * mergeSchema rule) — no footer is opened to build the frame. Files
    * from a commit that recorded no schema fall back to mergeSchema
    * inference over the footers. */
  private def readFiles(spark: SparkSession, root: String,
      files: Seq[String], schemas: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val paths = files.map(f => new java.io.File(root, f).getAbsolutePath)
    if (files.forall(schemas.contains))
      spark.read.schema(files.map(schemas).distinct
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .reduce(org.apache.spark.sql.GraftSqlBridge.mergeSchemas))
        .parquet(paths: _*)
    else spark.read.option("mergeSchema", "true").parquet(paths: _*)
  }

  /** DataFrame over a pinned snapshot (the caller's `snap` keeps
    * serving the same files regardless of later commits).
    * SCHEMA EVOLUTION: the snapshot's schema is the UNION of its
    * commits' schemas, so a batch appended with an added column widens
    * the table and older files read the new column as NULL — the
    * additive-evolution contract (Delta's default). Incompatible type
    * changes fail loudly when the frame is built, as they should: the
    * log records files, not casts. */
  def read(spark: SparkSession, root: String, snap: Snapshot): DataFrame = {
    require(!snap.isEmpty, s"version ${snap.version} of $root is empty")
    readFiles(spark, root, snap.files, snap.schemas)
  }

  /** Read the latest committed snapshot. */
  def read(spark: SparkSession, root: String): DataFrame =
    read(spark, root, snapshot(root))

  /** Atomically publish version `v` with commit `c`. True iff this
    * writer won the version (hard-link creation is the linearization
    * point — it FAILS if v was already committed). */
  private def tryCommit(root: String, v: Long, c: Commit): Boolean = {
    logDir(root).mkdirs()
    val tmp = new java.io.File(logDir(root),
      s".v$v-${java.util.UUID.randomUUID()}.tmp")
    writeCommit(tmp, c)
    try {
      java.nio.file.Files.createLink(versionFile(root, v).toPath, tmp.toPath)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally {
      java.nio.file.Files.deleteIfExists(tmp.toPath)
    }
  }

  /** Delete the staged files of a commit that lost. */
  private def discard(root: String, c: Commit): Unit =
    c.adds.foreach(f =>
      java.nio.file.Files.deleteIfExists(new java.io.File(root, f).toPath))

  /** Stage `df` as fresh uuid-named data files (NOT yet visible): the
    * adds of a commit that records `df`'s schema. */
  private def stage(df: DataFrame, root: String): Commit = {
    val uuid = java.util.UUID.randomUUID().toString
    val dir = new java.io.File(new java.io.File(root, "data"), uuid)
    df.write.parquet(dir.getAbsolutePath)
    Commit(Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => s"data/$uuid/${f.getName}")
      .sorted, schema = Some(df.schema.json))
  }

  /** Transactional append: stage the batch, then claim the next
    * version (retrying past concurrent committers — appends commute,
    * so no re-staging is ever needed). `statsCols` names numeric
    * columns whose per-file min/max are recorded next to the staged
    * files ([[readRange]] then skips files from metadata alone — the
    * Delta data-skipping shape). Returns the committed version. */
  def append(df: DataFrame, root: String,
      statsCols: Seq[String] = Seq.empty): Long = {
    val c = stage(df, root)
    if (statsCols.nonEmpty) writeStats(df.sparkSession, root, c, statsCols)
    commit(root, snapshot(root), c).get // removes nothing: never stale
  }

  /** Per-file [min,max] of `statsCols` (as doubles — exact for the
    * long/double id-and-measure domains stats serve), written as ONE
    * `_stats.json` sidecar (`{"<file>":{"<col>":[min,max]}}`) in the
    * staged uuid dir. The sidecar lives and dies with its data files:
    * staged before the commit link, so a crashed write leaves only
    * unreferenced bytes, and immutable after (uuid dirs are never
    * rewritten). One extra scan of the JUST-WRITTEN batch — bounded by
    * the batch, not the table. */
  private def writeStats(spark: SparkSession, root: String, staged: Commit,
      statsCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"min_$c"),
      max(col(c).cast("double")).as(s"max_$c")))
    val rows = readFiles(spark, root, staged.adds, staged.schemas)
      .groupBy(input_file_name().as("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    import scala.jdk.CollectionConverters._
    val body = rows.map(r => r.getString(0).split("/").last -> statsCols
      .map(c => c -> Seq(s"min_$c", s"max_$c").map(r.getAs[java.lang.Double])
        .asJava).toMap.asJava).toMap.asJava
    java.nio.file.Files.write(new java.io.File(
      new java.io.File(root, staged.adds.head).getParentFile, "_stats.json")
      .toPath, Json.writeValueAsBytes(body))
  }

  /** The [min,max] recorded for (file, col), if its uuid dir carries
    * a stats sidecar naming both as numbers. An all-NULL file records
    * null bounds, and a file with a NaN records NaN (Spark orders NaN
    * above every number): neither bounds its rows, so it is kept. */
  private def fileStats(root: String, file: String,
      colName: String): Option[(Double, Double)] = {
    val f = new java.io.File(root, file)
    val sidecar = new java.io.File(f.getParentFile, "_stats.json")
    if (!sidecar.exists()) return None
    val b = Json.readTree(sidecar).path(f.getName).path(colName)
    val bounds = Seq(b.path(0), b.path(1))
    if (bounds.forall(n => n.isNumber && !n.asDouble.isNaN))
      Some((bounds(0).asDouble, bounds(1).asDouble))
    else None
  }

  /** DATA-SKIPPING READ: the snapshot restricted to `lo <= col <= hi`,
    * with files whose recorded [min,max] cannot intersect the range
    * skipped FROM METADATA ALONE — no footer is opened for a skipped
    * file, which at 100 TB is the difference between a metadata
    * lookup and a million file opens. Files without stats (appended
    * without `statsCols`, or a column the writer didn't record) are
    * conservatively read; the residual predicate is applied either
    * way, so pruning is a pure optimization, never a correctness
    * dependence. NULL semantics: a NULL never satisfies the range,
    * and min/max aggregates ignore NULLs, so an all-NULL file
    * (stats NULL → kept) still filters correctly. */
  def readRange(spark: SparkSession, root: String, colName: String,
      lo: Double, hi: Double): DataFrame = {
    import org.apache.spark.sql.functions._
    val snap = snapshot(root)
    require(!snap.isEmpty, s"readRange on empty table $root")
    val keep = statsCandidates(root, snap.files, Map(colName -> (lo, hi)))
    val df =
      if (keep.isEmpty) read(spark, root, snap).limit(0)
      else readFiles(spark, root, keep, snap.schemas)
    df.filter(col(colName).cast("double") >= lo &&
      col(colName).cast("double") <= hi)
  }

  /** Files [[readRange]] would open (exposed for the pruning spec). */
  private[graft] def rangeFiles(root: String, colName: String,
      lo: Double, hi: Double): Seq[String] =
    statsCandidates(root, snapshot(root).files, Map(colName -> (lo, hi)))

  /** Per-column [lo,hi] bounds provable from the TOP-LEVEL AND
    * conjuncts of `pred`: `c >= 5 && c < 9 && f(x)` yields
    * `c -> [5, 9]`. Sound for pruning because a conjunct false over a
    * whole file makes the conjunction false there — unrecognized
    * conjuncts (UDFs, ORs, arithmetic) are simply ignored, they can
    * only narrow the match set further. Numeric literals only, the
    * domain [[writeStats]] records (doubles are exact there). */
  private[graft] def predicateRanges(
      pred: org.apache.spark.sql.Column): Map[String, (Double, Double)] =
    org.apache.spark.sql.GraftSqlBridge.predicateRanges(pred)

  /** `files` minus those whose recorded stats PROVE no row can satisfy
    * `ranges` (statless files/columns are kept — same conservative
    * contract as [[readRange]]). */
  private[graft] def statsCandidates(root: String, files: Seq[String],
      ranges: Map[String, (Double, Double)]): Seq[String] =
    files.filter { f =>
      ranges.forall { case (c, (lo, hi)) =>
        fileStats(root, f, c) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None => true
        }
      }
    }

  /** The version committed by `(writer, epoch)`, if any — scans the
    * contiguous log prefix (driver-side metadata, O(versions)).
    * Public as the "has this batch landed?" probe a scheduler uses to
    * skip completed partitions without recomputing them. */
  def committedEpoch(root: String, writer: String,
      epoch: Long): Option[Long] =
    versions(root).find(v =>
      readCommit(root, v).txn.contains((writer, epoch)))

  /** EXACTLY-ONCE append for replayable sources: the commit carries a
    * `(writer, epoch)` transaction tag, and a replay of an
    * already-committed epoch (a restarted streaming query re-running
    * its last microbatch — the foreachBatch at-least-once contract)
    * is detected in the log and becomes a no-op, its staged files
    * left unreferenced for [[vacuum]]. One writer never runs the same
    * epoch concurrently with itself (Structured Streaming serializes
    * a query's microbatches), so the check-then-commit here needs no
    * extra fencing: a lost race on the VERSION number is re-checked
    * against the log before every retry. Returns the committed
    * version (the original one on replay). */
  def appendOnce(df: DataFrame, root: String, writer: String,
      epoch: Long): Long = {
    committedEpoch(root, writer, epoch) match {
      case Some(v) => v
      case None =>
        val c = stage(df, root).copy(txn = Some((writer, epoch)))
        var v = snapshot(root).version + 1
        while (!tryCommit(root, v, c))
          committedEpoch(root, writer, epoch) match {
            case Some(prior) => // replayed concurrently-visible commit
              discard(root, c)
              return prior
            case None => v = math.max(v + 1, snapshot(root).version + 1)
          }
        v
    }
  }

  /** CHANGES FEED: the rows added by append commits in
    * `(sinceVersion, snapshot.version]` — the incremental input a
    * downstream training-data pass reads instead of the whole table
    * ("every document since my last checkpoint"). Rewrite commits
    * (non-empty `removes` — compactions) move bytes, not data, so
    * they never surface here; the feed is exactly the appended
    * batches. Files are served from the original append commits, so
    * the feed for a version range is valid until [[vacuum]] reclaims
    * files a later compaction superseded — the same retention
    * contract as the snapshot readers'. Returns an empty DataFrame
    * (correct schema) when nothing changed. */
  def changes(spark: SparkSession, root: String,
      sinceVersion: Long): DataFrame = {
    val snap = snapshot(root)
    val appends = versions(root)
      .filter(v => v > sinceVersion && v <= snap.version)
      .map(readCommit(root, _)).filter(_.removes.isEmpty)
    val added = appends.flatMap(_.adds)
    if (added.isEmpty) {
      require(!snap.isEmpty,
        s"changes($sinceVersion) on empty table $root: no schema to serve")
      read(spark, root, snap).limit(0)
    } else readFiles(spark, root, added, appends.flatMap(_.schemas).toMap)
  }

  /** Commit `c` on top of `snap`, retrying past concurrent commits
    * that leave its `removes` (files live at `snap`) live. If one
    * removed any of them (a racing compaction or delete won), the
    * rewrite no longer covers the table: its files are deleted and
    * None tells the caller to restart from a fresh snapshot. */
  private def commit(root: String, snap: Snapshot,
      c: Commit): Option[Long] = {
    var v = snap.version + 1
    while (!tryCommit(root, v, c)) {
      if (versions(root).filter(_ > snap.version).exists(nv =>
          readCommit(root, nv).removes.exists(c.removes.contains))) {
        discard(root, c)
        return None
      }
      v = math.max(v + 1, snapshot(root).version + 1)
    }
    Some(v)
  }

  /** Transactional compaction: rewrite the current snapshot into
    * ceil(bytes/target) right-sized files and commit
    * {adds=new, removes=old snapshot files}. If a concurrent commit
    * REMOVED any file this rewrite read (a racing compaction won),
    * the rewrite is stale — its output is discarded and the whole
    * step restarts from the fresh snapshot. Concurrent APPENDs
    * commute (their files are not in `removes`) and stay live.
    * `statsCols` re-records data-skipping stats on the rewrite —
    * AND range-clusters the output on those columns first
    * (repartitionByRange), so each rewritten file covers a tight
    * value slice and [[readRange]] keeps pruning after compaction
    * instead of falling back to read-everything. Returns the
    * committed version, or -1 if the table was empty. */
  def compact(spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024,
      statsCols: Seq[String] = Seq.empty): Long = {
    var committed = Option.empty[Long]
    while (committed.isEmpty) {
      val snap = snapshot(root)
      if (snap.isEmpty) return -1L
      val bytes = snap.files
        .map(f => new java.io.File(root, f).length()).sum
      val nFiles = math.max(1, ((bytes + targetBytes - 1) / targetBytes).toInt)
      val content = read(spark, root, snap)
      val shaped =
        if (statsCols.isEmpty) content.coalesce(nFiles)
        else content.repartitionByRange(nFiles,
          statsCols.map(org.apache.spark.sql.functions.col): _*)
      val c = stage(shaped, root)
      if (statsCols.nonEmpty) writeStats(spark, root, c, statsCols)
      committed = commit(root, snap, c.copy(removes = snap.files))
    }
    committed.get
  }

  /** #105 driver-gate query: two day-batches committed as versions,
    * then a compaction commit and a vacuum — the read-back aggregate
    * proves the whole protocol preserves exactly-once content (the
    * oracle aggregates the same two days straight from the source).
    * The ScalaTest suite covers what SQL can't see: concurrent
    * writers, crash windows, pinned snapshots. */
  def versionedCommits(spark: SparkSession, dir: String): DataFrame =
    StagePath.scratch(spark, "vtable") { root =>
      append(eventsDay(spark, dir, 1), root)
      append(eventsDay(spark, dir, 2), root)
      compact(spark, root)
      vacuum(root, retentionMs = 0L) // single-writer table, quiesced here
      perDay(read(spark, root))
    }

  /** Day `d` of January 2024 of the corpus's events: one batch. */
  private def eventsDay(spark: SparkSession, dir: String, d: Int): DataFrame =
    graft.sources.Tables.loadEventsRange(spark, dir,
      f"2024-01-$d%02d 00:00:00", f"2024-01-${d + 1}%02d 00:00:00")

  /** The gate queries' answer: events and exact Σvalue per day. */
  private def perDay(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.groupBy(to_date(col("ts")).as("batch_date"))
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Num.dsum(col("value")).as("sum_value"))
      .orderBy("batch_date")
  }

  /** COPY-ON-WRITE DELETE: remove the rows matching `predicate` —
    * the opt-out/right-to-be-forgotten pass a training corpus must
    * support. One job finds the files that CONTAIN matches
    * (`input_file_name` over the pinned snapshot, predicate pushed to
    * the scan, so row-group stats prune untouched files before they
    * are read); ONLY those files are rewritten without their matching
    * rows — at 100 TB the rewrite is proportional to the files hit,
    * not the table. Commit = {adds = rewrites, removes = touched};
    * the conflict rule is compaction's (every removed file must still
    * be live), retried from a fresh snapshot on loss — concurrent
    * APPENDS commute (their rows were not in the snapshot this
    * delete read; the semantics are snapshot-scoped, as in Delta).
    * SQL DELETE semantics: rows where the predicate is NULL are
    * KEPT. Returns the committed version, or -1 if nothing matched.
    * The changes feed is an APPEND feed — deletes, like compactions,
    * never surface there; deleted rows disappear from snapshots. */
  def deleteWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions._
    val ranges = predicateRanges(predicate)
    var committed = Option.empty[Long]
    while (committed.isEmpty) {
      val snap = snapshot(root)
      if (snap.isEmpty) return -1L
      // metadata prune FIRST: files whose _stats.json [min,max] cannot
      // satisfy the predicate's provable bounds are never opened by
      // the discovery scan — on a range-clustered 100 TB table a
      // narrow delete touches a handful of files, and this keeps the
      // discovery cost (and the collected file set) proportional to
      // the candidates, not the table
      val candidates =
        if (ranges.isEmpty) snap.files
        else statsCandidates(root, snap.files, ranges)
      if (candidates.isEmpty) return -1L
      val pruned = readFiles(spark, root, candidates, snap.schemas)
      // schema evolution guard: a predicate column carried only by
      // non-candidate files cannot resolve over the pruned read
      // (classic Datasets analyze eagerly, so the failure is here,
      // not at the action) — fall back to the full snapshot
      val discovery =
        try pruned.filter(predicate)
        catch {
          case _: org.apache.spark.sql.AnalysisException =>
            read(spark, root, snap).filter(predicate)
        }
      val touchedAbs = discovery
        .select(input_file_name().as("f")).distinct()
        .collect().map(_.getString(0)).toSet
      // uuid-named rel paths are unique — suffix-match the URI forms
      // input_file_name reports
      val touched = snap.files.filter(f =>
        touchedAbs.exists(_.endsWith("/" + f)))
      if (touched.isEmpty) return -1L
      val kept = readFiles(spark, root, touched, snap.schemas)
        .filter(coalesce(predicate, lit(false)) === false)
      committed = commit(root, snap,
        stage(kept, root).copy(removes = touched))
    }
    committed.get
  }

  /** #107 driver-gate query: three day-batches appended as versions
    * with a compaction in between, then the CHANGES FEED read from
    * the first version — the incremental-consumer contract (new data
    * only, rewrites invisible). The oracle aggregates days 2-3
    * straight from the source: feed content == appended batches. */
  def versionedChanges(spark: SparkSession, dir: String): DataFrame =
    StagePath.scratch(spark, "vtable") { root =>
      val mark = append(eventsDay(spark, dir, 1), root)
      append(eventsDay(spark, dir, 2), root)
      compact(spark, root) // rewrite only: must NOT surface in the feed
      append(eventsDay(spark, dir, 3), root)
      perDay(changes(spark, root, mark))
    }

  /** #109 driver-gate query: an INCREMENTALLY MAINTAINED aggregate
    * over the changes feed — the "don't rescan 100 TB for yesterday's
    * rows" pattern. Two CDC pulls (pinned at call time, so each pull
    * serves exactly the appends it saw) are reduced to MERGEABLE
    * partials (counts + exact decimal sums) and merged; a compaction
    * between the pulls proves rewrites contribute nothing. The oracle
    * recomputes the same aggregate from scratch over the source —
    * incremental == full recompute, bit-exact, because the partials
    * re-sum exactly. */
  def incrementalCdcAgg(spark: SparkSession, dir: String): DataFrame =
    StagePath.scratch(spark, "vtable") { root =>
      import org.apache.spark.sql.functions._
      append(eventsDay(spark, dir, 1), root)
      append(eventsDay(spark, dir, 2), root)
      def partial(feed: DataFrame): DataFrame = feed
        .groupBy(to_date(col("ts")).as("batch_date"))
        .agg(count(lit(1)).as("n"),
          graft.operators.Num.dsumExact(col("value")).as("p"))
      val pull1 = partial(changes(spark, root, 0L)) // file list pinned NOW
      val mark = snapshot(root).version
      compact(spark, root) // rewrite between the pulls: invisible to CDC
      append(eventsDay(spark, dir, 3), root)
      val pull2 = partial(changes(spark, root, mark))
      pull1.unionByName(pull2)
        .groupBy("batch_date")
        .agg(sum(col("n")).as("n_events"),
          sum(col("p")).cast("double").as("sum_value"))
        .orderBy("batch_date")
    }

  /** Default vacuum retention: 7 days, the Delta VACUUM default. Any
    * honest writer stages and commits within this horizon, so files
    * younger than it may belong to an in-flight commit and must not
    * be swept. */
  val DefaultRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Delete data files the LATEST snapshot does not list (superseded
    * by compaction, or staged by a writer that crashed before its
    * commit) AND older than `retentionMs` (mtime-based, the Delta
    * VACUUM contract). The retention window is the correctness
    * guard, not a convenience: every writer stages its files BEFORE
    * publishing the commit link, so an unreferenced-but-recent file
    * may be a live writer mid-commit — sweeping it would make the
    * subsequent commit reference missing files. With the default
    * window, concurrent vacuum is safe against any writer that
    * commits within 7 days of staging. `retentionMs = 0` force-sweeps
    * everything unreferenced (tests / known-quiesced tables ONLY).
    * Destructive for time travel — breaks readers pinned to older
    * snapshots. Returns the deleted count. */
  def vacuum(root: String, retentionMs: Long = DefaultRetentionMs): Int = {
    val live = snapshot(root).files.toSet
    val sweepBefore = System.currentTimeMillis() - retentionMs
    val dataRoot = new java.io.File(root, "data")
    var n = 0
    for {
      uuidDir <- Option(dataRoot.listFiles()).getOrElse(Array.empty)
      if uuidDir.isDirectory
      // "_"-prefixed metadata sidecars (stats) live and die with
      // their dir's DATA files: kept while any is referenced, swept
      // with the last one
      dirLive = live.exists(_.startsWith(s"data/${uuidDir.getName}/"))
      f <- Option(uuidDir.listFiles()).getOrElse(Array.empty)
      if f.isFile && !f.getName.startsWith(".")
      if !(f.getName.startsWith("_") && dirLive)
      rel = s"data/${uuidDir.getName}/${f.getName}"
      if f.getName.startsWith("_") || !live.contains(rel)
      if f.lastModified() < sweepBefore
    } {
      if (f.delete()) n += 1
      uuidDir.delete() // succeeds only once empty — harmless otherwise
    }
    n
  }
}
