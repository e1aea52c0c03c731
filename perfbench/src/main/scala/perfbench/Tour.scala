package perfbench

import java.io.File

/** The traced run: a slice of every workload (its inputs cut short by
  * the Python side), each run plain and traced, so one run reports
  * every layer's figures and each workload's tracing overhead. */
object Tour {
  private def seconds(ops: Seq[Op]): Double = ops.map(_.seconds).sum

  def run(ctx: Ctx, in: Inputs): Map[String, Any] = {
    val sc = ctx.spark.sparkContext
    val dt = new Trace(sc, "dashboard")
    val it = new Trace(sc, "ingest")
    val bt = new Trace(sc, "batch_x10")
    val kt = new Trace(sc, "functions")

    // every slice runs each operation plain and traced, in alternating
    // order, so neither side gets the warmer caches or JIT; the ingest
    // pair writes separate tables
    def pair[T](i: Int, plain: => T, traced: => T): (T, T) =
      if (i % 2 == 0) { val p = plain; (p, traced) }
      else { val t = traced; (plain, t) }
    val dWarm = Dashboard.warm(ctx, in.panels)
    val (dPlain, dOps) = in.dashboardSeq.zipWithIndex.map { case (p, i) =>
      pair(i, Query.checked(ctx, p, ctx.sf, s"sf/$p"),
        dt.on(Query.checked(ctx, p, ctx.sf, s"sf/$p")))
    }.unzip

    val steps = in.ingest
    Ingest.warm(ctx, steps)
    val plainT = new Ingest.Target(new File(ctx.runDir, "tables.untraced"))
    val tracedT = new Ingest.Target(new File(ctx.runDir, "tables"))
    val (iPlain, iOps) = steps.zipWithIndex.map { case (st, i) =>
      pair(i, Ingest.batch(ctx, plainT, st), it.on(Ingest.batch(ctx, tracedT, st)))
    }.unzip
    val plainMaint = Ingest.compact(ctx, plainT, steps.last)
    val tracedMaint = it.on(Ingest.compact(ctx, tracedT, steps.last))

    // the batch slice pairs query by query, after every query ran once
    // over ×10; each side of an artifact-backed query starts from a
    // cleared cache (build, then reuse)
    val bWarm = BatchX10.warm(ctx, in.batchOrder)
    val (bPlainQ, bOpsQ) = in.batchOrder.zipWithIndex.map { case (q, i) =>
      pair(i, BatchX10.pass(ctx, Seq(q), in.artifacts),
        bt.on(BatchX10.pass(ctx, Seq(q), in.artifacts)))
    }.unzip
    val (bPlain, bOps) = (bPlainQ.flatten, bOpsQ.flatten)
    val kernels = kt.on(Kernels.run(ctx))
    Seq(dt, it, bt, kt).foreach(t => t.write(new File(ctx.runDir, s"spans.${t.runId}.jsonl")))

    def per(x: Double, n: Int) = x / math.max(1, n)
    val fresh = iOps.count(_.name == "fresh")
    val replays = iOps.count(_.name == "replay")
    val read = it.select("sources.read")
    val shard = it.select("sources.shard")
    val append = it.select("sinks.append")
    val collect = bt.select("operators.collect")
    val first = bt.select("corpus_cache.first", nested = true)
    val repeat = bt.select("corpus_cache.repeat", nested = true)
    val taskS = collect.stages.map(_.taskMs).sum / 1000.0
    val sinkBytes = Seq("sinks.append", "sinks.replay", "sinks.compact")
      .map(n => it.select(n).mb(_.outputB)).sum
    val self = Seq(dt, it, bt, kt).flatMap(_.selfSeconds).groupMapReduce(_._1)(_._2)(_ + _)
    val layers: Map[String, Double] = Map(
      "sources.read_s" -> per(read.seconds, steps.size),
      "sources.read_jobs" -> per(read.jobs, steps.size),
      "sources.shard_s" -> per(shard.seconds, steps.size),
      "sources.shard_jobs" -> per(shard.jobs, steps.size),
      "sources.input_mb" -> (read.mb(_.inputB) + shard.mb(_.inputB)),
      "sources.rows_quarantined" -> iOps.map(_.extra.getOrElse("quarantined", 0L)
        .asInstanceOf[Long]).sum.toDouble,
      "operators.build_s" -> per(dt.select("operators.build").seconds, dOps.size),
      "operators.build_jobs" -> per(dt.select("operators.build").jobs, dOps.size),
      "operators.plan_s" -> per(dt.select("operators.plan").seconds, dOps.size),
      "operators.collect_s" -> collect.seconds,
      "operators.collect_jobs" -> collect.jobs.toDouble,
      "operators.stages" -> collect.stages.size.toDouble,
      "operators.tasks" -> collect.stages.map(_.tasks).sum.toDouble,
      "operators.task_s" -> taskS,
      "operators.task_cpu_s" -> collect.stages.map(_.cpuNs).sum / 1e9,
      "operators.busy_ratio" -> taskS / (collect.seconds * 4),
      "operators.shuffle_read_mb" -> collect.mb(_.shufReadB),
      "operators.shuffle_write_mb" -> collect.mb(_.shufWriteB),
      "operators.skew_ratio" -> (1.0 +: collect.stages.filter(_.tasks >= 4).map(_.skew)).max,
      "operators.gc_s" -> collect.stages.map(_.gcMs).sum / 1000.0,
      "operators.spill_mb" -> collect.mb(_.spillB),
      "corpus_cache.first_call_s" -> first.seconds,
      "corpus_cache.repeat_call_s" -> repeat.seconds,
      "corpus_cache.build_s" -> (first.seconds - repeat.seconds),
      "corpus_cache.build_jobs" -> (first.jobs - repeat.jobs).toDouble,
      "sinks.append_s" -> per(append.seconds, fresh),
      "sinks.append_jobs" -> per(append.jobs, fresh),
      "sinks.replay_s" -> per(it.select("sinks.replay").seconds, replays),
      "sinks.read_s" -> per(it.select("sinks.read").seconds, steps.size),
      "sinks.compact_s" -> it.select("sinks.compact").seconds,
      "sinks.files_live" -> tracedT.files("files_live").toDouble,
      "sinks.log_entries" -> tracedT.files("log_entries").toDouble,
      "sinks.bytes_written_mb" -> sinkBytes,
      "trace.overhead_ratio.dashboard" -> seconds(dOps) / seconds(dPlain),
      "trace.overhead_ratio.ingest" -> seconds(iOps) / seconds(iPlain),
      "trace.overhead_ratio.batch_x10" -> seconds(bOps) / seconds(bPlain)) ++
      kernels.map { case (k, v) => s"functions.$k.rows_per_s" -> v } ++
      self.map { case (layer, s) => s"trace.self_s.$layer" -> s }
    val ops = dWarm ++ dPlain ++ dOps ++ bWarm ++ bPlain ++ bOps
    Map("ops" -> ops.map(_.json), "layers" -> layers,
      "ingest" -> Seq(Ingest.result(ctx, plainT, iPlain, Seq(plainMaint)),
        Ingest.result(ctx, tracedT, iOps, Seq(tracedMaint))))
  }
}
