package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark's JVM side. `run.py` drives it:
  *
  *   prepare <work> <corpus> <query>...
  *       stage the corpus (8 files per table), build the ×10 view, and
  *       record both directories, the queries' oracle SQL and the gate
  *       probes
  *   run <work> <workload> <run-dir> <staged> <x10> [trace]
  *       run one workload over the inputs in <run-dir> and write its
  *       results back there; `trace` runs the traced tour instead
  *
  * All inputs (query sequences, landing files, batch order) and how
  * much of them to run are decided from the seed and the run length
  * by the Python side; this program only reads them. */
object Main {

  /** The same session confs as `graft.Bench`, at local[4]. */
  def session(work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "prepare" :: work :: corpus :: names => prepare(new File(work), corpus, names)
    case "run" :: work :: workload :: runDir :: sf :: x10 :: rest =>
      run(new File(work), workload, new File(runDir), sf, x10, rest.contains("trace"))
    case _ =>
      System.err.println("usage: prepare <work> <corpus> <query>... | " +
        "run <work> <workload> <run-dir> <staged> <x10> [trace]")
      sys.exit(2)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `v` (maps, sequences, strings and numbers) as one line of JSON. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  private def write(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, json(v) + "\n")
  }

  private def prepare(work: File, corpus: String, names: Seq[String]): Unit = {
    val spark = session(work)
    val staged = graft.Bench.stage(spark, corpus, 8)
    val x10 = graft.ScaleBench.multiply(staged, 10)
    write(new File(work, "oracle_sql.json"),
      names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)
    write(new File(work, "gates.json"), Map(
      "sf" -> Gates.probe(spark, staged), "x10" -> Gates.probe(spark, x10)))
    write(new File(work, "prepared.json"), Map("sf" -> staged, "x10" -> x10))
    spark.stop()
  }

  private def run(work: File, workload: String, runDir: File, sf: String,
      x10: String, traced: Boolean): Unit = {
    val spark = session(work)
    val checker = new Checker(spark, new File(runDir, "results"))
    val ctx = Ctx(spark, sf, x10, runDir, checker)
    val in = Inputs(runDir)
    val out =
      if (traced) Tour.run(ctx, in)
      else workload match {
        case "dashboard" => Dashboard.run(ctx, in.panels, in.dashboardSeq)
        case "ingest" => Ingest.run(ctx, in.ingest)
      }
    val checks = checker.writeAll()
    write(new File(runDir, "jvm.json"),
      out ++ Map("checks" -> checks, "health" -> Health.snapshot()))
    spark.stop()
  }
}

/** The inputs the Python side generated from the seed. */
final case class Inputs(dir: File) {
  private def lines(name: String): Seq[String] =
    java.nio.file.Files.readAllLines(new File(dir, name).toPath).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)
  private def list(name: String): Seq[String] = lines(name).flatMap(_.split(","))

  /** Every panel once, for warm-up; then the seeded read sequence. */
  lazy val panels: Seq[String] = list("dashboard.panels")
  lazy val dashboardSeq: Seq[String] = list("dashboard.seq")
  /** The tour's batch slice in its seeded order. */
  lazy val batchOrder: Seq[String] = list("batch.order")
  lazy val artifacts: Set[String] = list("batch.artifacts").toSet
  lazy val ingest: Seq[Ingest.Step] = Ingest.parse(
    java.nio.file.Files.readAllLines(new File(dir, "ingest.tsv").toPath).asScala.toSeq
      .filter(_.nonEmpty))
}

/** What every workload needs: the session, the staged and ×10 corpus
  * directories, its run directory and the result checker. */
final case class Ctx(spark: SparkSession, sf: String, x10: String,
    runDir: File, checker: Checker) {
  /** Seconds since the JVM started: the set-up time once warm-up ends. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}

/** Process health, recorded beside each run and kept out of the gated
  * metrics. */
object Health {
  def snapshot(): Map[String, Any] = {
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => -1.0
    }
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
    Map("process_cpu_s" -> cpu, "jvm_gc_s" -> gc, "peak_rss_mb" -> peakRssMb)
  }

  /** High-water resident set of this process, from /proc. */
  def peakRssMb: Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).get
      .split("\\s+")(1).toDouble / 1024.0
    finally src.close()
  }.getOrElse(-1.0)
}
