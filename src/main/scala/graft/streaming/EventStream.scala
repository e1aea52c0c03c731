package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.sources.Tables
import graft.operators.Num

/** Structured Streaming ingest (SURVEY.md §2 #11) — the reference's
  * 2-minute-cadence DAG (/root/reference/dags/stock_data_to_gcp.py:87)
  * as a continuous pipeline: file source → event-time window +
  * watermark → append. Stateful latest-per-key mirrors the
  * `currentPrice` snapshot as a live view.
  *
  * Streaming queries can't run under the batch Verify/Bench contract,
  * so these are exercised by EventStreamSpec (memory sink,
  * processAllAvailable); `Analytics.windowTumbling` is the batch twin
  * of `hourlyCounts` and carries the DuckDB oracle.
  */
object EventStream {

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  case class Latest(user_id: Long, latest_ts: Timestamp, latest_price: Double)

  /** Streaming source over a directory of event parquet files. */
  def readEvents(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream.schema(Tables.events).parquet(inputDir)

  /** Event-time position at FULL microsecond precision. The events
    * table carries microsecond timestamps (parsed with 'SSSSSS'), so
    * ordering by `getTime` (milliseconds) would treat two events in
    * the same millisecond as ties and could mis-order them — or worse,
    * drop one as "late" — whenever their event_id order disagrees with
    * their sub-millisecond order. `getTime` already includes the
    * millis; `getNanos` re-supplies the whole fractional second, so
    * the micro key is seconds*1e6 + nanos/1e3. */
  private[streaming] def microTime(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000

  /** Watermarked tumbling-window aggregate (append-able: closed
    * windows emit exactly once). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Num.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket_hour"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming exact dedup on event_id, state bounded by the
    * watermark: a replayed event (an at-least-once source re-
    * delivering, the reference's overlapping 2-minute fetches) is
    * dropped if its duplicate arrived within the watermark horizon;
    * state for ids older than the watermark is evicted, so this runs
    * forever at 100 TB/day where an unbounded dropDuplicates would
    * accumulate every id ever seen. Batch twin: the id-dedupe inside
    * `StockOps.incrementalBatch`. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  case class Alert(user_id: Long, ts: Timestamp, prev: Double,
      value: Double, change: Double)

  /** State for priceAlerts: the last value WITH its event-time
    * position, so cross-batch ordering is enforceable — a bare
    * "last value" would compare a late event against a newer price
    * and then overwrite state as if the late event were newest,
    * emitting time-inverted alerts. */
  case class AlertState(ts: Timestamp, event_id: Long, value: Double)

  /** Price-move alerts via flatMapGroupsWithState: per key, compare
    * each event (in event-time order) to the previous value and emit
    * only moves ≥ `threshold` — the custom-state shape that windowed
    * aggregation can't express (output cardinality is data-dependent,
    * 0..n rows per key per batch). State is one (ts, id, value) per
    * key. Late events — older than the state's position, i.e.
    * arriving in a later micro-batch than a newer event (the
    * at-least-once overlap this file's dedup doc describes) — are
    * DROPPED, not compared backwards: the alert stream stays
    * monotonic in event time per key. */
  def priceAlerts(spark: SparkSession, events: DataFrame,
      threshold: Double): Dataset[Alert] = {
    import spark.implicits._
    events.as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[AlertState]) =>
          var prev = state.getOption.orNull
          val out = scala.collection.mutable.ListBuffer[Alert]()
          rows.toSeq.sortBy(e => (microTime(e.ts), e.event_id)).foreach { e =>
            val pos = (microTime(e.ts), e.event_id)
            if (prev == null ||
                pos._1 > microTime(prev.ts) ||
                (pos._1 == microTime(prev.ts) && pos._2 > prev.event_id)) {
              if (prev != null && math.abs(e.value - prev.value) >= threshold)
                out += Alert(uid, e.ts, prev.value, e.value,
                  e.value - prev.value)
              prev = AlertState(e.ts, e.event_id, e.value)
            } // else: late event, already superseded — drop
          }
          if (prev != null) state.update(prev)
          out.iterator
      }
  }

  /** Replay-safe micro-batch warehouse write (#64): every micro-batch
    * lands in its own (batch_date, _batch_id) partition as one commit
    * of the table's log that replaces that partition's live files
    * (`AppendSink.idempotentAppend`), so a redelivered batch
    * (foreachBatch is at-least-once) replaces exactly itself —
    * duplicates are structurally impossible rather than filtered.
    * Downstream, `AppendSink.compactDay` collapses the day's per-batch
    * partitions in one commit on the reference's daily cadence (the
    * checkpoint must live as long as the table — see the compaction
    * INVARIANT and `resetDayManifests` in AppendSink). This is the
    * continuous version of the batch WRITE_APPEND + idempotent-replay
    * contract (#4). */
  def writeToWarehouse(events: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events
      .withColumn("batch_date", to_date(col("ts")))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        writeMicroBatch(batch.toDF(), id, path)
      }
      .start()

  /** The per-batch write — factored out so a redelivery (same batch,
    * same id) can be exercised directly in tests. */
  def writeMicroBatch(batch: DataFrame, batchId: Long, path: String): Unit =
    graft.sinks.AppendSink.idempotentAppend(
      batch.withColumn("_batch_id", lit(batchId)),
      path, Seq("batch_date", "_batch_id"))

  /** Streaming ingest into a VERSIONED table: each micro-batch is one
    * `appendOnce` commit tagged (writer, epoch=batchId), so a
    * redelivered batch is a log-detected no-op — exactly-once at the
    * commit level, not by partition-path convention like
    * [[writeToWarehouse]]. Because commits are snapshot-isolated, a
    * concurrent `VersionedTable.compact` on the same table is safe
    * while the stream runs, and so is a RETENTION-GATED `vacuum`
    * (the default window: the stream's staged-but-uncommitted files
    * are always younger than it). A force vacuum (`retentionMs = 0`)
    * is NOT safe against a running writer — it can sweep files staged
    * for the in-flight commit; force mode is for quiesced tables
    * only. [[writeToWarehouse]] writes through the same log, but its
    * day compaction must own the layout: it deletes what it replaces.
    * `writer` must be stable across restarts (it IS the replay
    * identity, like a checkpoint dir). */
  def writeToVersioned(events: DataFrame, root: String, writer: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.sinks.VersionedTable.appendOnce(batch.toDF(), root, writer, id)
        () // discard the version: foreachBatch wants Unit
      }
      .start()

  /** Streaming sessionization (#59): event-time session windows with
    * a 30-minute gap, watermark-closed — the continuous twin of
    * `Sessions.sessionize` (same gap rule; session_window's `end` is
    * last-event + gap by definition, where the batch operator reports
    * last-event itself). State per (user, open session) only; closed
    * sessions emit exactly once. Also callable on a batch DataFrame
    * (same code path), which SessionWindowSpec uses for equivalence. */
  def sessionCounts(events: DataFrame, withWatermarkMark: Boolean = true)
      : DataFrame = {
    val src = if (withWatermarkMark) events.withWatermark("ts", "2 hours")
      else events
    src
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), Num.dsum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("user_id"),
        col("n_events"), col("sum_value"))
  }

  /** Stream-stream interval join (#54): each click joined to the same
    * user's purchases in the preceding hour, both sides watermarked so
    * the join state is evicted once the interval can no longer match —
    * the condition every unbounded stream-stream join needs to run
    * forever. Batch twin: `Sessions.rangeJoin` (same predicate). */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
      .withWatermark("p_ts", "2 hours")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("p_ts") <= col("click_ts"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("p_ts"), col("p_value"))
  }

  /** Streaming per-ticker daily sentiment — the continuous twin of
    * `TextOps.sentimentDaily` (#67), same kernel, same aggregate
    * arithmetic: lexicon counts per title (codegen'd SentimentCounts),
    * watermarked 1-day tumbling windows, exact integer sums with the
    * one double division at emit. Closed windows emit exactly once;
    * per-window state is three longs per (ticker, day). */
  def dailySentiment(events: DataFrame): DataFrame =
    events
      .withColumn("s",
        graft.functions.TextFunctions.sentimentCounts(col("event_type")))
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "1 day"), col("user_id"))
      .agg(count(lit(1)).as("n_titles"),
        sum(col("s.n_pos").cast("long")).as("sum_pos"),
        sum(col("s.n_neg").cast("long")).as("sum_neg"))
      .select(col("window.start").cast("date").as("day"),
        col("user_id").as("ticker_id"), col("n_titles"),
        col("sum_pos"), col("sum_neg"),
        ((col("sum_pos") - col("sum_neg")).cast("double") /
          col("n_titles").cast("double")).as("day_score"))

  /** State for latestPerUser: carries the winning event_id so the
    * (ts desc, event_id desc) tiebreak stays correct across
    * micro-batches — matching the batch twin `StockOps.latestPerKey`
    * even when an equal-ts event arrives in a later batch. */
  /** #82 Streaming incremental dedup: a document stream deduplicated
    * (a) against a STATIC historical index via a stream-static
    * left-anti join on content hash — the streaming twin of
    * `Dedup.incrementalDedup`'s exact layer — and (b) within the
    * stream itself via watermark-bounded dedup (today's crawl
    * fetching the same page twice, possibly across micro-batches).
    * Only never-before-seen documents flow downstream.
    *
    * Scale notes: the static side is re-planned per micro-batch, so
    * a periodically-refreshed index table is picked up without
    * restarting the query; the within-stream state holds one hash
    * per unexpired document and is EVICTED at the watermark — an
    * unbounded `dropDuplicates` would accumulate every hash ever
    * streamed. The stream side ships (hash, metadata) into the join;
    * document text never rides the shuffle. */
  def dedupAgainstIndex(docs: DataFrame, indexHashes: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("ingest_ts"),
        sha2(col("text"), 256).as("h"))
      .withWatermark("ingest_ts", "1 hour")
      .join(indexHashes.select(col("h")), Seq("h"), "left_anti")
      .dropDuplicatesWithinWatermark("h")

  case class LatestState(latest_ts: Timestamp, latest_price: Double,
      event_id: Long)

  /** Stateful latest-per-key via mapGroupsWithState: one state row per
    * key (bounded by key cardinality, partitioned across executors). */
  def latestPerUser(spark: SparkSession, events: DataFrame): Dataset[Latest] = {
    import spark.implicits._
    events.as[Ev]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[LatestState]) =>
          val newest = (rows.map(e => LatestState(e.ts, e.value, e.event_id))
            ++ state.getOption.iterator)
            .maxBy(s => (microTime(s.latest_ts), s.event_id))
          state.update(newest)
          Latest(uid, newest.latest_ts, newest.latest_price)
      }
  }

  case class Anomaly(user_id: Long, ts: Timestamp, event_id: Long,
      price: Double, n_win: Long, z: Double)
  /** Ring of the last ≤ ZWindow (round6(v), round6(v²)) unscaled-6dp
    * pairs — the square is rounded from the RAW value, exactly like
    * the batch frame's `(value*value) cast decimal(28,6)` — plus the
    * stream position guard. */
  case class ZState(ts: Timestamp, event_id: Long,
      window: List[(Long, Long)])

  private def unscaled6(v: Double): Long =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .underlying.unscaledValue.longValueExact

  /** Streaming twin of `TimeSeries.anomalyZscore` (#98): per-ticker
    * rolling z-score over the previous ZWindow trades, emitting only
    * the |z| > threshold rows — the live alerting form of the batch
    * report. State per key is the bounded value ring; arithmetic
    * mirrors the batch operator EXACTLY (values and squares rounded
    * to 6 dp as unscaled longs — the same quantization the decimal
    * frame sums apply — then the identical closed-form IEEE
    * sequence), so an in-order replay flags the same event_ids the
    * batch query does (asserted in EventStreamSpec). Late events
    * (older than the state's position) are dropped, same contract as
    * [[priceAlerts]]. */
  def anomalyAlerts(spark: SparkSession, events: DataFrame): Dataset[Anomaly] = {
    import spark.implicits._
    val win = graft.operators.TimeSeries.ZWindow
    val minWin = graft.operators.TimeSeries.ZMinWin
    val thr = graft.operators.TimeSeries.ZThreshold
    events.filter(col("event_type") === "purchase").as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[ZState]) =>
          var st = state.getOption.getOrElse(ZState(null, -1L, Nil))
          val out = scala.collection.mutable.ListBuffer[Anomaly]()
          rows.toSeq.sortBy(e => (microTime(e.ts), e.event_id)).foreach { e =>
            val fresh = st.ts == null || microTime(e.ts) > microTime(st.ts) ||
              (microTime(e.ts) == microTime(st.ts) && e.event_id > st.event_id)
            if (fresh) {
              val n = st.window.length
              if (n >= minWin) {
                // identical quantization + op order as the batch form:
                // s1 = Σ round6(v), s2 = Σ round6(v²), exact in longs
                val s1 = st.window.map(_._1).sum.toDouble / 1e6
                val s2 = st.window.map(_._2).sum.toDouble / 1e6
                val mean = s1 / n.toDouble
                val varp = (s2 - s1 * s1 / n.toDouble) / (n.toDouble - 1d)
                if (varp > 0d) {
                  val z = (e.value - mean) / math.sqrt(varp)
                  if (math.abs(z) > thr)
                    out += Anomaly(uid, e.ts, e.event_id, e.value, n.toLong, z)
                }
              }
              st = ZState(e.ts, e.event_id,
                (st.window :+ ((unscaled6(e.value),
                  unscaled6(e.value * e.value)))).takeRight(win))
            } // else: late event, already superseded — drop
          }
          state.update(st)
          out.iterator
      }
  }

  case class Attributed(user_id: Long, event_id: Long, ts: Timestamp,
      channel: String, value: Double)
  case class TouchState(ts: Timestamp, event_id: Long, channel: String)

  /** Streaming twin of `Dimensional.attribution` (#140): per-user
    * state is ONE row — the freshest click/view seen — and each
    * purchase emits its attributed channel the moment it arrives (the
    * live marketing ledger vs the batch report). Rows inside a
    * micro-batch are processed in the batch operator's exact merge
    * order (ts, touches-before-purchases, event_id), and a stored
    * touch is replaced only by a (ts, event_id)-newer one — the same
    * per-(user, ts) max-event_id collapse the batch side applies. An
    * in-order replay therefore attributes every purchase identically
    * to the batch query (asserted in EventStreamSpec); a touch
    * arriving after a later purchase was already emitted is the
    * documented drop-late contract ([[priceAlerts]]), where batch
    * replay would have credited it. */
  def attributedPurchases(spark: SparkSession, events: DataFrame)
      : Dataset[Attributed] = {
    import spark.implicits._
    val look = graft.operators.Dimensional.AttributionLookbackUs
    events.filter(col("event_type")
        .isin("click", "view", "purchase")).as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[TouchState]) =>
          val out = scala.collection.mutable.ListBuffer[Attributed]()
          rows.toSeq.sortBy(e => (microTime(e.ts),
            if (e.event_type == "purchase") 1 else 0, e.event_id))
            .foreach { e =>
              if (e.event_type == "purchase") {
                val ch = state.getOption
                  .filter(t => microTime(e.ts) - microTime(t.ts) <= look)
                  .map(_.channel).getOrElse("unattributed")
                out += Attributed(uid, e.event_id, e.ts, ch, e.value)
              } else {
                val newer = state.getOption.forall(t =>
                  microTime(e.ts) > microTime(t.ts) ||
                    (microTime(e.ts) == microTime(t.ts) &&
                      e.event_id > t.event_id))
                if (newer)
                  state.update(TouchState(e.ts, e.event_id, e.event_type))
              }
            }
          out.iterator
      }
  }

  case class DriftReport(event_type: String, n_cur: Long, n_bins: Long,
      n_one_sided: Long, psi: Double)
  case class DriftState(bins: Map[Long, Long])

  /** Value-bucket width for [[driftMonitor]] — coarse enough that the
    * per-key state (one count per populated bin) stays tiny. */
  val DriftValueBinWidth = 50.0

  /** Shared PSI arithmetic for the streaming monitor and its spec's
    * reference implementation: shares as exact integer ratios, each
    * (p−q)·ln(p/q) term quantized to 9 dp (summed as exact 10⁻⁹-unit
    * longs — the batch drift_psi's decimal-sum discipline), one
    * terminal 6 dp round. */
  private[graft] def psiOf(ref: Map[Long, Long],
      cur: Map[Long, Long]): (Long, Long, Double) = {
    val refT = ref.values.sum.toDouble
    val curT = cur.values.sum.toDouble
    val bins = (ref.keySet ++ cur.keySet).toSeq.sorted
    var oneSided = 0L
    var sumN = 0L // Σ terms in 1e-9 units
    bins.foreach { b =>
      val rn = ref.getOrElse(b, 0L); val cn = cur.getOrElse(b, 0L)
      if (rn == 0L || cn == 0L) oneSided += 1
      else {
        val p = rn / refT; val q = cn / curT
        val term = (p - q) * math.log(p / q)
        sumN += BigDecimal(term)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
          .underlying.unscaledValue.longValueExact
      }
    }
    (bins.size.toLong, oneSided,
      BigDecimal(sumN, 9).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .doubleValue)
  }

  /** #151 Streaming drift monitor — the live twin of batch
    * `Olap.driftPsi` (#148): each event stream's VALUE distribution
    * is tracked against a frozen reference histogram (broadcast in —
    * yesterday's corpus, a training snapshot), and every micro-batch
    * emits the stream's refreshed PSI the moment data lands — the
    * alert feed that says "this feed's distribution moved" before the
    * nightly batch would. State per key is one count per populated
    * value bin (bounded by the bin domain, not the stream); the PSI
    * arithmetic is [[psiOf]]'s quantized form, so a replay emits a
    * final per-stream PSI identical to the reference implementation
    * over the same counts (spec-asserted). */
  def driftMonitor(spark: SparkSession, events: DataFrame,
      reference: Map[String, Map[Long, Long]]): Dataset[DriftReport] = {
    import spark.implicits._
    events.as[Ev]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (etype: String, rows: Iterator[Ev],
            state: GroupState[DriftState]) =>
          var bins = state.getOption.map(_.bins)
            .getOrElse(Map.empty[Long, Long])
          rows.foreach { e =>
            val b = math.floor(e.value / DriftValueBinWidth).toLong
            bins = bins.updated(b, bins.getOrElse(b, 0L) + 1L)
          }
          state.update(DriftState(bins))
          val ref = reference.getOrElse(etype, Map.empty)
          if (ref.isEmpty || bins.isEmpty) Iterator.empty
          else {
            val (nb, os, psi) = psiOf(ref, bins)
            Iterator.single(
              DriftReport(etype, bins.values.sum, nb, os, psi))
          }
      }
  }

  case class Transition(user_id: Long, blk: Long, from_type: String,
      to_type: String)
  case class LastEv(blk: Long, us: Long, event_id: Long,
      event_type: String)

  /** #164 Streaming transition feed — the live twin of batch
    * `Sessions.eventTransitions` (#156): one LastEv row of state per
    * user (the previous event within the user's current day block);
    * each arriving event emits its (from, to) pair when it extends
    * the same day and always becomes the new tail. Day rollover
    * resets the chain (the batch operator's within-day contract), so
    * state never grows with history and an in-order replay emits
    * exactly the batch pair multiset (spec-asserted). Same drop-late
    * contract as [[attributedPurchases]]: per-user monotone ingest;
    * an event older than the held tail is ignored rather than
    * rewriting emitted pairs. */
  def transitionFeed(spark: SparkSession, events: DataFrame)
      : Dataset[Transition] = {
    import spark.implicits._
    val dayUs = 86400L * 1000000L
    events.as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[LastEv]) =>
          val out = scala.collection.mutable.ListBuffer[Transition]()
          rows.toSeq.sortBy(e => (microTime(e.ts), e.event_id))
            .foreach { e =>
              val us = microTime(e.ts)
              val blk = Math.floorDiv(us, dayUs)
              state.getOption match {
                case Some(t) if us > t.us ||
                    (us == t.us && e.event_id > t.event_id) =>
                  if (t.blk == blk)
                    out += Transition(uid, blk, t.event_type, e.event_type)
                  state.update(LastEv(blk, us, e.event_id, e.event_type))
                case None =>
                  state.update(LastEv(blk, us, e.event_id, e.event_type))
                case _ => () // late arrival: drop, never rewrite
              }
            }
          out.iterator
      }
  }

  case class NewUser(user_id: Long, first_ts: Timestamp)

  /** #165 Streaming first-seen feed — the live twin of batch
    * `Dimensional.userGrowth`'s (#162) first-seen identity: each user
    * emits exactly ONE row, on their first-ever event; downstream a
    * day-grain count of this feed IS the new-user curve and its
    * running sum the cumulative-distinct count — streaming
    * "count distinct users ever" with O(1) state per user instead of
    * a distinct over all history. Replay emits the batch first-seen
    * set exactly (spec-asserted). */
  def firstSeenFeed(spark: SparkSession, events: DataFrame)
      : Dataset[NewUser] = {
    import spark.implicits._
    events.as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val first = rows.minBy(e => (microTime(e.ts), e.event_id))
            Iterator.single(NewUser(uid, first.ts))
          }
      }
  }

  case class Fingerprint(n_rows: Long, checksum: Long)

  /** #209 Streaming table fingerprint — the live twin of batch
    * `Analytics.tableFingerprint` (#208): the events feed's
    * order-invariant content checksum maintained INCREMENTALLY (one
    * running (count, Σ md5-tail mod 1e9+7) state — addition is
    * commutative, so arrival order and micro-batch boundaries are
    * invisible), emitted per micro-batch in complete mode. The
    * continuous replication-verification handshake: compare the live
    * number against the batch fingerprint of the replica at any
    * checkpoint. Replay converges to the batch value exactly
    * (spec-asserted). */
  def fingerprintFeed(spark: SparkSession, events: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    events
      .select(conv(substring(md5(graft.operators.Analytics.eventCanon),
        25, 8), 16, 10).cast("long").as("h"))
      .agg(count(lit(1)).as("n_rows"),
        expr("cast(sum(cast(h as decimal(38,0))) % 1000000007" +
          " as bigint)").as("checksum"))
  }

  case class CusumPoint(user_id: Long, day: Long, s: Long,
      alert: Boolean)
  case class CusumState(day: Long, cnt: Long, s: Long)

  /** #188 Streaming CUSUM monitor — the live twin of batch
    * `TimeSeries.cusumAlerts` (#185): per-user frozen targets (n, T)
    * broadcast in (yesterday's corpus, like [[driftMonitor]]'s
    * reference histogram), state = the OPEN day's running count plus
    * the CUSUM value through the last COMPLETED day. A day is folded
    * the moment a later-day event arrives — the identical n-scaled
    * integer recurrence S ← max(0, S + (n·c − T) − T div 4), so an
    * in-order replay emits exactly the batch recurrence's points for
    * every completed day (spec-asserted), each flagged at S > T.
    * O(1) state per user regardless of history; days with no events
    * contribute nothing (the batch observed-days contract); late
    * arrivals (older than the open day) are dropped under the
    * [[transitionFeed]] contract. */
  def cusumMonitor(spark: SparkSession, events: DataFrame,
      targets: Map[Long, (Long, Long)]): Dataset[CusumPoint] = {
    import spark.implicits._
    val dayUs = 86400L * 1000000L
    events.as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[CusumState]) =>
          targets.get(uid) match {
            case None => Iterator.empty
            case Some((n, t)) =>
              val out = scala.collection.mutable.ListBuffer[CusumPoint]()
              var st = state.getOption.orNull
              rows.toSeq.sortBy(e => (microTime(e.ts), e.event_id))
                .foreach { e =>
                  val d = Math.floorDiv(microTime(e.ts), dayUs)
                  st match {
                    case null => st = CusumState(d, 1L, 0L)
                    case CusumState(day, cnt, s) if d == day =>
                      st = CusumState(day, cnt + 1L, s)
                    case CusumState(day, cnt, s) if d > day =>
                      val s2 = math.max(0L, s + (n * cnt - t) - t / 4L)
                      out += CusumPoint(uid, day, s2, s2 > t)
                      st = CusumState(d, 1L, s2)
                    case _ => () // late arrival: drop
                  }
                }
              if (st != null) state.update(st)
              out.iterator
          }
      }
  }

  /** #215 Streaming ANN serving — the live twin of #119's persisted
    * index (round 18, VERDICT r17 next-round #7): probe vectors
    * arrive as a stream; the index (broadcast centroids +
    * cell-partitioned postings) is STATIC, read once from the tables
    * `buildIvfIndex` committed — the production build-once /
    * serve-many shape the ModelStore formalizes. Each micro-batch is
    * served through `Similarity.ivfServe`, the EXACT probe path the
    * batch `ann_indexed`/`ann_ivf` oracles certify (probe-selection
    * window + top-k re-rank are batch constructs, so foreachBatch is
    * the right streaming harness — the #64 sink precedent), and
    * results land in a PER-BATCH overwrite partition: a replayed
    * micro-batch rewrites `batch_id=N` instead of duplicating rows,
    * the idempotent-sink discipline.
    *
    * Scale: state-free by construction — the only stream state is
    * the source offset log; the per-batch work is a bounded probe
    * set × nprobe cells against a cell-pruned postings read. */
  def annServe(probes: DataFrame, centroids: DataFrame,
      postings: DataFrame, outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Similarity
    probes.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        Similarity.ivfServe(batch, broadcast(centroids), postings,
            Similarity.IvfProbe, Similarity.IvfProbeMargin,
            Similarity.IvfProbeMax)
          .write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
        ()
      }
      .start()
  }
}
