package graft

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.status.api.v1.{JobData, StageData}

/** Profiling harness for a single query (or a few): repeats each named
  * SparkEntry query after three warm-up reps of every named query
  * (after one rep, or with the warm-up interleaved, the first query's
  * timed reps still fall along the JIT warm-up curve) and prints
  * per-rep wall times, so a Bench outlier can be separated
  * into plan cost vs co-tenant noise.
  * Then it runs ONE more rep and prints that rep's job/stage breakdown
  * (per-job wall, per-stage task time, input and shuffle bytes), jobs
  * slowest-first, so the dominant action — a localCheckpoint
  * materialization, a broadcast build, the final collect — is
  * identifiable without the UI. The breakdown is read from Spark's own
  * status store, which every session keeps, so no rep carries an extra
  * listener. Usage:
  *   SPARK_GRAFT_SF_DIR=... runMain graft.BenchOne <query> [query ...]
  * Knobs:
  *   SPARK_GRAFT_BENCH_REPS=5    timed reps per query
  *   SPARK_GRAFT_STAGE_FILES=8   staged layout (0 = the raw SF files)
  *   SPARK_GRAFT_SCALE_MULT=50   profile on the hardlink-multiplied
  *                               corpus (ScaleBench's layout)
  *   SPARK_GRAFT_COLD=1          clear the artifact caches before
  *                               every rep (Bench's cold mode)
  *   SPARK_GRAFT_CONF="k=v;k=v"  session confs under test
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    val stageFiles =
      sys.env.getOrElse("SPARK_GRAFT_STAGE_FILES", "8").toInt
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "1").toInt
    val cold = sys.env.get("SPARK_GRAFT_COLD").contains("1")
    val spark = Session.harness(Session.cpus)
    // same staged layout as Bench, so numbers stay comparable
    val staged = if (stageFiles > 0) Bench.stage(spark, sfDir, stageFiles) else sfDir
    val runDir = if (mult > 1) ScaleBench.multiply(staged, mult) else staged
    // warm-up: every listed query runs its 3 reps before any is timed,
    // so the first one is not timed on the JVM's warm-up curve
    args.foreach(name => (1 to 3).foreach(_ =>
      SparkEntry.queries(name)(spark, runDir).collect()))
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      def rep(): Double = {
        if (cold) graft.CorpusCache.clearAll()
        val t0 = System.nanoTime()
        fn(spark, runDir).collect() // full result, like Bench and the DuckDB fetchall
        (System.nanoTime() - t0) / 1e9
      }
      val times = (1 to reps).map(_ => rep())
      println(f"[benchone] $name reps=${times.map(t => f"$t%.3f").mkString(",")} min=${times.min}%.3f")
      profile(spark, name)(rep())
    }
    spark.stop()
  }

  /** Runs `timedRep` once and prints the jobs it ran, slowest first,
    * each with its three costliest stages. */
  private def profile(spark: SparkSession, name: String)(
      timedRep: => Double): Unit = {
    val sc = spark.sparkContext
    val before = GraftSqlBridge.jobsWithStages(sc).lastOption
      .fold(-1)(_._1.jobId)
    val wall = timedRep
    val jobs = GraftSqlBridge.jobsWithStages(sc).filter(_._1.jobId > before)
    println(f"[benchone] $name profiled rep wall=$wall%.3f s, jobs=${jobs.size}")
    def ms(j: JobData): Long = (for (t0 <- j.submissionTime;
      t1 <- j.completionTime) yield t1.getTime - t0.getTime).getOrElse(-1L)
    jobs.sortBy { case (j, _) => -ms(j) }.foreach { case (j, st) =>
      val kb = (f: StageData => Long) => st.map(f).sum / 1024
      println(f"  job ${j.jobId}%3d ${ms(j)}%6d ms  " +
        f"taskMs=${st.map(_.executorRunTime).sum}%7d  in=${kb(_.inputBytes)}K " +
        f"shufR=${kb(_.shuffleReadBytes)}K shufW=${kb(_.shuffleWriteBytes)}K  " +
        j.description.getOrElse("").take(50))
      st.sortBy(-_.executorRunTime).take(3).foreach { s =>
        println(f"      stage taskMs=${s.executorRunTime}%7d tasks=${s.numTasks}%4d " +
          s.name.takeWhile(_ != '\n').take(60))
      }
    }
  }
}
