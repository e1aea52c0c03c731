package graft

/** Intra-JVM A/B/A/B profiling for ONE session conf: the only layout
  * that separates a conf effect from this box's co-tenant noise and
  * JIT drift (cross-JVM comparisons swing 2-3× between invocations;
  * see the verify skill's benchmarking notes). Only works for
  * dynamic SQLConfs (read at planning time) — codegen/agg/reader
  * toggles qualify, static confs (e.g. off-heap memory mode) do not.
  *
  * Usage:
  *   SPARK_GRAFT_AB="spark.sql.codegen.aggregate.map.vectorized.enable=true" \
  *   SPARK_GRAFT_SCALE_MULT=100 runMain graft.AbBench q1_agg vwap
  *
  * Prints per-query: min over each of the 4 blocks (A=conf unset/
  * default, B=conf set), plus the A-drift (|A1-A2|/A1) that bounds
  * how much of the B delta is believable. */
object AbBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "1").toInt
    val stageFiles = sys.env.getOrElse("SPARK_GRAFT_STAGE_FILES", "8").toInt
    val (abKey, abVal) =
      Session.parseConf(sys.env.getOrElse("SPARK_GRAFT_AB", "")) match {
        case Seq(kv) => kv
        case _ => sys.error("SPARK_GRAFT_AB=key=value required")
      }
    val spark = Session.harness(Session.cpus)
    val staged = if (stageFiles > 0) Bench.stage(spark, sfDir, stageFiles) else sfDir
    val runDir = if (mult > 1) ScaleBench.multiply(staged, mult) else staged
    val default = spark.conf.getOption(abKey)
    def setA(): Unit = default match {
      case Some(v) => spark.conf.set(abKey, v)
      case None => spark.conf.unset(abKey)
    }
    def setB(): Unit = spark.conf.set(abKey, abVal)
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      def block(): Double = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, runDir).collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      setA(); fn(spark, runDir).collect() // warmup under A
      val a1 = block()
      setB(); fn(spark, runDir).collect() // fresh codegen under B
      val b1 = block()
      setA(); val a2 = block()
      setB(); val b2 = block()
      val aMin = math.min(a1, a2); val bMin = math.min(b1, b2)
      val drift = math.abs(a1 - a2) / math.max(a1, a2)
      println(f"[ab] $name A=$a1%.3f/$a2%.3f B=$b1%.3f/$b2%.3f " +
        f"delta=${(bMin - aMin) / aMin * 100}%+.1f%% drift=${drift * 100}%.1f%%")
    }
    spark.stop()
  }
}
