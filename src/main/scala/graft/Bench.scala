package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR, one JSON line to stdout. Failures are reported
  * in an `errors` list and excluded from the timing sum (a thrown
  * query must not lower the total — VERDICT r1). */
object Bench {

  /** Stage every testdata table as an n-file parquet copy (a
    * [[graft.sources.StagePath.derived]] copy of the corpus), so scans
    * parallelize the way a real many-file corpus does. The driver's SF
    * parquet is one file with ONE row group, which Spark cannot split —
    * every scan (and the partial aggregation fused into it) runs on a
    * single thread, an SF artifact that does not exist at 100 TB
    * (millions of files). This stages it once so all queries read a
    * realistic layout. Values are bit-identical to the source; the
    * one-time cost is reported separately in the bench JSON. */
  def stage(spark: SparkSession, dir: String, n: Int): String = {
    val tables = graft.sources.Tables.schemas
    graft.sources.StagePath.derived(dir, tables.keys.toSeq, s"bench_stage_$n") {
      dest => tables.foreach { case (name, schema) =>
        spark.read.schema(schema).parquet(s"$dir/$name.parquet")
          .repartition(n)
          .write.parquet(s"$dest/$name.parquet")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // 8 files measured best across query shapes: enough to engage
    // all scan threads on the heavy tables without drowning tiny
    // queries in per-task scheduling (32 files regressed the
    // shuffle-dominated queries ~2x).
    val stageFiles =
      sys.env.getOrElse("SPARK_GRAFT_STAGE_FILES", "8").toInt
    val spark = Session.harness(Session.cpus)
    val tStage = System.nanoTime()
    val runDir = if (stageFiles > 0) stage(spark, sfDir, stageFiles) else sfDir
    val stageSec = (System.nanoTime() - tStage) / 1e9
    // Measure with collect(), NOT count(): under a count aggregate
    // Catalyst eliminates final sorts, prunes every unused column,
    // and answers parquet scans from footer metadata — a
    // projection-shaped query (e.g. fingerprint's per-row kernel)
    // would be "timed" without its work ever running. collect() forces
    // the full result AND matches how the DuckDB baseline is timed
    // (fetchall), so the comparison stays apples-to-apples.
    // Untimed warmup pass: JIT, codegen compilation, parquet footer
    // caches. Timed pass below measures steady-state execution.
    // Warmup failures are REPORTED (a query that only fails here
    // would otherwise be silently timed cold).
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try fn(spark, runDir).collect() catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name WARMUP FAILED: ${e.getMessage}")
      }
    }
    // Per query: three consecutive timed runs, keep the min — the
    // same contract as the DuckDB baseline column (best of 3,
    // back-to-back). The first run after 60 other queries pays their
    // accumulated session effects (cleaner backlog, evicted code
    // cache) on top of co-tenant noise (BASELINE.md: identical runs
    // vary ±20-30%); measured: a heavy query's first in-context rep
    // is ~1.5× its steady state, settling by the second consecutive
    // rep. Interleaved whole-suite passes do NOT settle (every rep is
    // a "first rep" again), so reps must be consecutive.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // Cold-artifact mode (VERDICT r15 #6): corpus-keyed build-once
    // caches (centroid models, graph fixed points, Pctl geometry,
    // collapse tables) make the default suite floor a WARM steady
    // state. SPARK_GRAFT_COLD=1 clears every registered artifact
    // cache before each timed rep, so every cell pays its build-once
    // probe — the deployment-honesty number reported beside the warm
    // floor in BASELINE, and a guard against benchmark-only caching
    // creep.
    val cold = sys.env.get("SPARK_GRAFT_COLD").contains("1")
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      var best = Double.MaxValue
      for (rep <- 1 to reps) {
        if (cold) graft.CorpusCache.clearAll()
        val t0 = System.nanoTime()
        try {
          fn(spark, runDir).collect()
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            if (!errors.contains(name)) errors += name
            System.err.println(s"[bench] $name FAILED (rep $rep): ${e.getMessage}")
        }
      }
      if (best < Double.MaxValue) timings(name) = best
    }
    // Run-health telemetry (VERDICT r14 #1): the r12 and r14 driver
    // runs were degraded-host artifacts (whole-suite ~1.6-3.4x with
    // 18-39x stall bursts) that silently blinded regression detection.
    // The bench now self-identifies such runs: the two control queries
    // (trivial scan shapes whose in-suite cells are pinned from the
    // healthy committed 73.4 s run — q1_agg 0.18 s, topk_revenue
    // 0.32 s) are re-timed at the very END of the suite (a stall late
    // in the alphabet would not show in their in-suite cells), and the
    // run is flagged `degraded` when ANY control cell exceeds ~2x its
    // band. Process-CPU vs wall is reported alongside: co-tenant steal
    // shows up as wall growing while CPU doesn't.
    val controlBands = Map("q1_agg" -> 0.20, "topk_revenue" -> 0.35)
    val controlsEnd = controlBands.keys.toSeq.sorted.flatMap { name =>
      SparkEntry.queries.get(name).flatMap { fn =>
        var best = Double.MaxValue
        for (_ <- 1 to reps)
          try {
            val t0 = System.nanoTime()
            fn(spark, runDir).collect()
            best = math.min(best, (System.nanoTime() - t0) / 1e9)
          } catch { case _: Throwable => }
        if (best < Double.MaxValue) Some(name -> best) else None
      }
    }.toMap
    // Pinned healthy reference (BENCH_REF.json — the committed-run
    // per-query map, regenerated whenever a healthy full run lands):
    // the r14 degradation was a UNIFORM ~1.6x (controls barely moved)
    // plus 18-39x bursts on arbitrary queries, so control cells alone
    // under-detect. The median ratio vs reference catches the uniform
    // component; the >=4x burst count catches stalls wherever they
    // land. The reference may be either a bare `queries` map or a
    // full bench artifact (whose health block repeats query names in
    // controls_*/bands_2x — ADVICE r15 #4: a whole-file regex would
    // let those later matches overwrite the real cells). Parse is
    // therefore scoped to the `queries` object when one exists (its
    // values are flat numbers, so the first `}` closes it), and keys
    // are validated against the live query set.
    val refCells: Map[String, Double] = {
      val f = new java.io.File("BENCH_REF.json")
      if (!f.exists()) Map.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath))
        val scope = {
          val qi = txt.indexOf("\"queries\"")
          if (qi < 0) txt
          else {
            val s = txt.indexOf('{', qi)
            val e = if (s >= 0) txt.indexOf('}', s) else -1
            if (s >= 0 && e > s) txt.substring(s, e + 1) else txt
          }
        }
        """"([A-Za-z0-9_]+)"\s*:\s*([0-9.eE+-]+)""".r
          .findAllMatchIn(scope)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filter { case (k, _) => SparkEntry.queries.contains(k) }
          .toMap
      }
    }
    val ratioByQ = timings.toSeq.flatMap { case (k, v) =>
      refCells.get(k).filter(_ > 0).map(k -> v / _) }.toMap
    val ratios = ratioByQ.values.toSeq.sorted
    val medianVsRef =
      if (ratios.isEmpty) -1.0 else ratios(ratios.length / 2)
    val nBurst4x = ratios.count(_ >= 4.0)
    val isSf01 = sfDir.contains("sf0.1")
    // a cold run's cells INCLUDE build-once probes, so comparing them
    // to the warm reference would self-flag every artifact-backed
    // query — cold runs never claim degraded (their purpose is the
    // cold/warm delta, not regression detection)
    val degraded = isSf01 && !cold && (
      controlBands.exists { case (name, band) =>
        timings.get(name).exists(_ > band * 2) ||
          controlsEnd.get(name).exists(_ > band * 2)
      } ||
        (ratios.nonEmpty && (medianVsRef > 1.5 || nBurst4x >= 3)))
    // Burst-cell auto-retry (VERDICT r15 #1, gate widened per VERDICT
    // r16 #1): re-time each cell >2x its reference cell SOLO at suite
    // end (consecutive settled reps, min), so the artifact carries a
    // usable per-cell number — the difference between "host stall"
    // (retry lands back in band) and "real regression" (retry
    // confirms the slow cell) is visible without a second session.
    // The r16 driver run showed why 4x alone is not enough: a second
    // co-tenant window left 1.8-3.0x cells unadjudicated under the
    // old >=4x-only gate. Round 18 (VERDICT r17 #1/next-round #3):
    // the pass now also runs on UNFLAGGED runs — r17's
    // skew_agg/backfill_range/versioned_* cells drifted 1.7-2.5x in
    // an unflagged window, were never self-adjudicated, and then got
    // baked into the regenerated BENCH_REF. On a clean run the >2x
    // set is near-empty, so the extra solo re-times are cheap. Cold
    // runs still skip it (their cells legitimately exceed the warm
    // reference by their build-once probes).
    val retryCells: Map[String, Double] =
      if (cold || !isSf01) Map.empty
      else ratioByQ.filter(_._2 > 2.0).keys.toSeq.sorted.flatMap { name =>
        SparkEntry.queries.get(name).flatMap { fn =>
          var best = Double.MaxValue
          for (_ <- 1 to math.max(reps, 4))
            try {
              val t0 = System.nanoTime()
              fn(spark, runDir).collect()
              best = math.min(best, (System.nanoTime() - t0) / 1e9)
            } catch { case _: Throwable => }
          if (best < Double.MaxValue) Some(name -> best) else None
        }
      }.toMap
    val cpuSec = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          os.getProcessCpuTime / 1e9
        case _ => -1.0
      }
    val wallSec = (System.nanoTime() - tStage) / 1e9
    def jmap(m: Map[String, Double]) = m.toSeq.sorted
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val health = s"""{"controls_suite":${jmap(
        controlBands.keys.flatMap(k => timings.get(k).map(k -> _)).toMap)},""" +
      s""""controls_end":${jmap(controlsEnd)},""" +
      s""""bands_2x":${jmap(controlBands.map { case (k, v) => k -> v * 2 })},""" +
      s""""cpu_sec":$cpuSec,"wall_sec":$wallSec,""" +
      s""""median_vs_ref":$medianVsRef,"n_burst_4x":$nBurst4x,""" +
      s""""n_ref_cells":${ratios.length},""" +
      s""""retry":${jmap(retryCells)},"cold":$cold,""" +
      s""""bands_apply":$isSf01,"degraded":$degraded}"""
    if (degraded)
      System.err.println("[bench] DEGRADED RUN: control queries exceed " +
        "2x their pinned bands — do not read absolute cells as regressions")
    val qs = timings.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (timings.nonEmpty) timings.values.sum else 0.0
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"health":$health,"sf":"$sfDir","staged_files":$stageFiles,"stage_sec":$stageSec}"""
    // Stdout contract (VERDICT r21 #1): the driver's parse has
    // returned null in EVERY round so far. Two variants were tried —
    // the full 5.7 KB line (r01-r19, truncated by the ~1.9 KB tail
    // capture) and a compact line (r20/r21, complete inside the tail
    // yet still unparsed). The one variable never changed: sbt's
    // logger prefixes every in-process println with "[info] ", so no
    // stdout line of this program has ever started with '{' — a
    // line-oriented json.loads scan fails on all of them. Fix: write
    // the canonical full line RAW to file descriptor 1, bypassing
    // sbt's capture, framed by newlines so it starts at column 0 even
    // if a concurrent logger left a partial line. It is the ONLY
    // stdout line carrying "metric":"total" (the compact human
    // summary below moves to stderr), restoring the declared contract
    // {"metric","value","unit","queries":<all cells>,"errors","sf"}.
    // A self-flagged run writes to its own artifact (VERDICT r16 #2:
    // the driver's degraded runs kept overwriting the clean committed
    // BENCH_full.json in the working tree) — BENCH_full.json only
    // ever holds an unflagged pair member.
    val artifactName =
      // cold + model store = "fresh service, committed model tables"
      // (VERDICT r16 #5): retraining is replaced by persisted-model
      // loads, everything else still pays its build-once probe
      if (cold && graft.operators.ModelStore.enabled)
        "BENCH_full_cold_persisted.json"
      else if (cold) "BENCH_full_cold.json"
      else if (degraded) "BENCH_full_degraded.json"
      else "BENCH_full.json"
    // ALSO persist the full artifact (VERDICT r13 #9): the driver's
    // stdout capture truncates the JSON mid-dict (only the o-z slice
    // of the per-query map survived r12/r13), so round-over-round
    // diffs lost half the suite. The file in the repo root survives
    // the round commit intact.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(artifactName), json + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
    }
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(json.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // slowest-first, 3 dp, as many cells as fit the byte budget — the
    // slow cells are the ones a round-over-round diff needs first.
    // This compact summary is human/tail telemetry only, so it goes
    // to STDERR (shows as "[error] ..." in the tail capture); stdout
    // is reserved for the single canonical JSON line below.
    val slow = timings.toSeq.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + String.format(
        java.util.Locale.ROOT, "%.3f", Double.box(v)) }
    val healthShort =
      s"""{"cpu_sec":${math.round(cpuSec)},"wall_sec":${math.round(wallSec)},""" +
      s""""median_vs_ref":$medianVsRef,"n_burst_4x":$nBurst4x,""" +
      s""""cold":$cold,"degraded":$degraded}"""
    val fixed = s"""{"metric":"total_compact","value":$total,"unit":"sec","sf":"$sfDir",""" +
      s""""n_queries":${timings.size},"n_errors":${errors.size},""" +
      s""""health":$healthShort,"full":"$artifactName","sha256":"$digest",""" +
      s""""staged_files":$stageFiles,"queries":"""
    val budget = 1400 - fixed.length - 2
    val kept = new StringBuilder
    var used = 0
    slow.foreach { cell =>
      if (used + cell.length + 1 <= budget) {
        if (kept.nonEmpty) { kept.append(','); used += 1 }
        kept.append(cell); used += cell.length
      }
    }
    System.err.println("[bench] compact: " + fixed + "{" + kept + "}}")
    // Canonical driver line: raw FD 1, after everything else, framed
    // by newlines. java.io.FileDescriptor.out is the process's real
    // stdout regardless of sbt's System.out redirection.
    val rawOut = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    rawOut.print("\n" + json + "\n")
    rawOut.flush()
    spark.stop()
  }
}
