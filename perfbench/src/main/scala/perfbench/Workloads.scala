package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.sinks.{AppendSink, VersionedTable}
import graft.sources.{CsvIngest, JsonIngest, ShardedReader}

/** One timed operation: a dashboard read, an ingest batch or one query
  * call of a batch pass. `ok` is false when it threw or its answer
  * differed from the first one recorded for its query. */
final case class Op(name: String, seconds: Double, ok: Boolean,
    extra: Map[String, Any] = Map.empty) {
  def json: Map[String, Any] = extra ++ Map("name" -> name, "s" -> seconds, "ok" -> ok)
}

object Op {
  /** Time `body` alone; `check` runs after the clock stops. */
  def timed[T](name: String)(body: => T)(check: T => (Boolean, Map[String, Any])): Op = {
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Exception => Left(e) }
    val s = (System.nanoTime() - t0) / 1e9
    r match {
      case Right(v) =>
        val (ok, extra) = check(v)
        Op(name, s, ok, extra)
      case Left(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        Op(name, s, ok = false)
    }
  }

  def wallSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** A `graft.SparkEntry` query split into its three parts: the operator
  * call (which runs the operator's own probe and checkpoint jobs), the
  * physical plan, and the collect. */
object Query {
  def call(ctx: Ctx, name: String, dir: String): (StructType, Array[Row]) = {
    val fn = graft.SparkEntry.queries(name)
    val df = Trace.span("operators", "operators.build")(fn(ctx.spark, dir))
    Trace.span("operators", "operators.plan")(df.queryExecution.executedPlan)
    val rows = Trace.span("operators", "operators.collect")(df.collect())
    (df.schema, rows)
  }

  /** Call and check against the first answer recorded under `key`. */
  def checked(ctx: Ctx, name: String, dir: String, key: String): Op =
    Op.timed(name)(call(ctx, name, dir)) { case (schema, rows) =>
      (ctx.checker.record(key, schema, rows), Map("key" -> key, "rows" -> rows.length))
    }
}

/** Back-to-back dashboard reads over the staged sf0.1 corpus. */
object Dashboard {
  def warm(ctx: Ctx, panels: Seq[String]): Seq[Op] =
    panels.map(p => Query.checked(ctx, p, ctx.sf, s"sf/$p"))

  /** Every read of `seq`, back to back, and their wall time. */
  def reads(ctx: Ctx, seq: Seq[String]): (Seq[Op], Double) = {
    val t0 = System.nanoTime()
    val ops = seq.map(p => Query.checked(ctx, p, ctx.sf, s"sf/$p"))
    (ops, Op.wallSince(t0))
  }

  def run(ctx: Ctx, panels: Seq[String], seq: Seq[String]): Map[String, Any] = {
    val warmOps = warm(ctx, panels)
    val setup = ctx.sinceJvmStart
    val (ops, wall) = reads(ctx, seq)
    Map("setup_s" -> setup, "warm" -> warmOps.map(_.json),
      "ops" -> ops.map(_.json), "loop_s" -> wall)
  }
}

/** Curation and analytics queries over the ×10 corpus, in passes that
  * start from a cleared artifact cache; artifact-backed queries run
  * twice per pass (build, then reuse). The traced tour runs these. */
object BatchX10 {
  /** Each query once over ×10, so no pass pays for the first touch of
    * the ×10 files or of a large gate route. */
  def warm(ctx: Ctx, queries: Seq[String]): Seq[Op] = {
    val ops = queries.map(q => Query.checked(ctx, q, ctx.x10, s"x10/$q"))
    graft.CorpusCache.clearAll()
    ops
  }

  def pass(ctx: Ctx, order: Seq[String], artifacts: Set[String]): Seq[Op] = {
    graft.CorpusCache.clearAll()
    order.flatMap { q =>
      if (!artifacts(q)) Seq(Query.checked(ctx, q, ctx.x10, s"x10/$q"))
      else Seq("first", "repeat").map { call =>
        val op = Trace.span("corpus_cache", s"corpus_cache.$call")(
          Query.checked(ctx, q, ctx.x10, s"x10/$q"))
        op.copy(extra = op.extra + ("call" -> call))
      }
    }
  }
}

/** The reference DAG as one writer: parse a landed batch, shard and
  * union it, commit it to a versioned table and to the day/batch
  * partitioned append sink, then read back what was written. */
object Ingest {
  final case class Step(step: Int, kind: String, id: Long, format: String,
      path: String, days: Seq[String])

  def parse(lines: Seq[String]): Seq[Step] = lines.map { l =>
    val f = l.split("\t", -1)
    Step(f(0).toInt, f(1), f(2).toLong, f(3), f(4), f(5).split(",").toSeq)
  }

  /** The two tables one writer lands into. */
  final class Target(root: File) {
    val versioned: String = new File(root, "versioned").getPath
    val append: String = new File(root, "append").getPath
    var since = 0L
    val days = mutable.SortedSet.empty[String]

    def files: Map[String, Long] = {
      def count(dir: File)(keep: File => Boolean): Long =
        Option(dir.listFiles()).getOrElse(Array.empty[File]).map { f =>
          if (f.isDirectory) count(f)(keep) else if (keep(f)) 1L else 0L
        }.sum
      val data = (f: File) => f.getName.endsWith(".parquet")
      Map("files_live" -> (count(new File(versioned, "data"))(data) + count(new File(append))(data)),
        "log_entries" -> count(new File(versioned, "_graft_log"))(_.getName.endsWith(".json")))
    }
  }

  private def dsum(c: Column): Column = sum(c.cast(DecimalType(38, 2))).cast("string")

  /** One batch: steps 1-6 of the reference DAG. */
  def batch(ctx: Ctx, t: Target, st: Step): Op = {
    val spark = ctx.spark
    val sinkSpan = if (st.kind == "replay") "sinks.replay" else "sinks.append"
    Op.timed(st.kind) {
      val (b, bad) = Trace.span("sources", "sources.read") {
        val b = if (st.format == "csv") CsvIngest.readEvents(spark, st.path)
          else JsonIngest.readEvents(spark, st.path)
        (b, b.quarantined.count())
      }
      val rows = Trace.span("sources", "sources.shard") {
        ShardedReader.unionShards(ShardedReader.rangeShards(b.clean, "user_id", 5))
      }.withColumn("batch_date", to_date(col("ts")))
      Trace.span("sinks", sinkSpan) {
        VersionedTable.appendOnce(rows, t.versioned, "ingest", st.id)
        AppendSink.idempotentAppend(rows.withColumn("_batch_id", lit(st.id)),
          t.append, Seq("batch_date", "_batch_id"))
      }
      // a replay returns the version that first committed its epoch
      val version = VersionedTable.snapshot(t.versioned).version
      b.release()
      val total = Trace.span("sinks", "sinks.read") {
        VersionedTable.changes(spark, t.versioned, t.since)
          .groupBy("user_id").agg(max(struct(col("ts"), col("event_id"))).as("last"))
          .collect()
        AppendSink.readBack(spark, t.append).count()
      }
      t.since = version
      t.days ++= st.days
      (bad, version, total)
    } { case (bad, version, total) =>
      (true, Map("step" -> st.step, "id" -> st.id, "quarantined" -> bad,
        "version" -> version, "sink_rows" -> total))
    }
  }

  /** The writer's periodic maintenance after `st`: compact and vacuum
    * the versioned table, compact the append sink's closed days. Timed
    * on its own, so batch latency stays the latency of batches. */
  def compact(ctx: Ctx, t: Target, st: Step): Op =
    Op.timed("compact")(Trace.span("sinks", "sinks.compact") {
      VersionedTable.compact(ctx.spark, t.versioned)
      // a quiesced single writer: nothing in flight to protect
      VersionedTable.vacuum(t.versioned, 0L)
      t.since = VersionedTable.snapshot(t.versioned).version
      val open = java.time.LocalDate.parse(st.days.min).minusDays(1).toString
      t.days.filter(_ < open).foreach(d => AppendSink.compactDay(ctx.spark, t.append, d))
    })(_ => (true, Map.empty))

  /** Every step in order, with maintenance after each block of `block`;
    * returns the batches, the maintenance runs and the wall time. */
  def steps(ctx: Ctx, t: Target, all: Seq[Step],
      block: Int = 10): (Seq[Op], Seq[Op], Double) = {
    val t0 = System.nanoTime()
    val ops = mutable.ArrayBuffer.empty[Op]
    val maintenance = mutable.ArrayBuffer.empty[Op]
    all.zipWithIndex.foreach { case (st, i) =>
      ops += batch(ctx, t, st)
      if (i % block == block - 1) maintenance += compact(ctx, t, st)
    }
    (ops.toSeq, maintenance.toSeq, Op.wallSince(t0))
  }

  /** Final content of both tables (count, decimal Σvalue) and their
    * file counts — read after the clock stops. */
  def summary(ctx: Ctx, t: Target): Map[String, Any] = {
    def agg(df: org.apache.spark.sql.DataFrame) = {
      val r = df.agg(count(lit(1)), dsum(col("value"))).head()
      Map("rows" -> r.getLong(0), "value_sum" -> r.getString(1))
    }
    Map("versioned" -> agg(VersionedTable.read(ctx.spark, t.versioned)),
      "append" -> agg(AppendSink.readBack(ctx.spark, t.append)),
      "root" -> new File(t.versioned).getParent) ++ t.files
  }

  /** Warm the writer on a throwaway pair of tables, then drop them. */
  def warm(ctx: Ctx, all: Seq[Step]): Unit = {
    val root = new File(ctx.runDir, "warm")
    val t = new Target(root)
    val firsts = Seq("csv", "json").flatMap(f => all.find(_.format == f))
    firsts.foreach(batch(ctx, t, _))
    firsts.lastOption.foreach(compact(ctx, t, _))
    org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  /** One writer's batches, maintenance and the tables they left, for
    * the checks. */
  def result(ctx: Ctx, t: Target, ops: Seq[Op], maintenance: Seq[Op]): Map[String, Any] =
    Map("ops" -> ops.map(_.json), "maintenance" -> maintenance.map(_.json),
      "tables" -> summary(ctx, t))

  def run(ctx: Ctx, all: Seq[Step]): Map[String, Any] = {
    warm(ctx, all)
    val setup = ctx.sinceJvmStart
    val t = new Target(new File(ctx.runDir, "tables"))
    val (ops, maintenance, wall) = steps(ctx, t, all)
    Map("setup_s" -> setup, "loop_s" -> wall,
      "ingest" -> Seq(result(ctx, t, ops, maintenance)))
  }
}

/** Throughput of the public column kernels the batch queries use, each
  * timed through a `noop` write over the ×10 columns. */
object Kernels {
  import graft.functions.{TextFunctions => T, VectorFunctions => V}

  val text: Seq[(String, Column => Column)] = Seq(
    "quality_struct" -> (T.qualityStruct _),
    "pii_scrub_struct" -> (T.piiScrubStruct _),
    "lang_id" -> (T.langId _),
    "lex_stats" -> (T.lexStats _),
    "trigram_stats" -> (T.trigramStats _),
    "portable_minhash_sig" -> (c => T.portableMinhashSig(c, 64)),
    "portable_simhash32" -> (T.portableSimhash32 _),
    "token_counts" -> (T.tokenCounts _),
    "sentiment_counts" -> (T.sentimentCounts _))

  /** rows/s per kernel, the best of two noop writes each. */
  def run(ctx: Ctx): Map[String, Double] = {
    val docs = graft.sources.Tables.load(ctx.spark, ctx.x10, "documents").select("text")
    val vecs = graft.sources.Tables.load(ctx.spark, ctx.x10, "embeddings")
      .select(V.asDouble(col("embedding")).as("v"))
    val nDocs = docs.count()
    val nVecs = vecs.count()
    def rate(name: String, rows: Long, df: org.apache.spark.sql.DataFrame): (String, Double) = {
      val best = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        Trace.span("functions", s"functions.$name")(
          df.write.format("noop").mode("overwrite").save())
        Op.wallSince(t0)
      }.min
      name -> rows / best
    }
    (text.map { case (n, f) => rate(n, nDocs, docs.select(f(col("text")).as("o"))) } :+
      rate("rp_coords", nVecs, vecs.select(V.rpCoords(col("v")).as("o")))).toMap
  }
}
