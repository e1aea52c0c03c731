package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The harness session recipe: Bench's confs pinned value for value,
  * the SPARK_GRAFT_CONF parser, and one builder in `src/main`. */
class SessionSpec extends SparkTestBase {

  test("Session.builder confs equal the ones graft.Bench set inline") {
    // graft.Bench's builder before Session existed, at local[n]
    val bench = Map(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.ui.enabled" -> "false")
    assert(Session.confs(8) === bench)
    // and the builder carries them: the specs' shared session is
    // Session.builder(4)
    assert(spark.sparkContext.master === "local[4]")
    Session.confs(4).foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, k)
    }
  }

  test("SPARK_GRAFT_CONF parsing: pairs in order, empty entries skipped") {
    assert(Session.parseConf(
      "spark.sql.adaptive.enabled=false; ;spark.x = a=b;;") ===
      Seq("spark.sql.adaptive.enabled" -> "false", "spark.x" -> "a=b"))
    assert(Session.parseConf("") === Seq.empty)
  }

  test("SPARK_GRAFT_CONF parsing: a pair without '=' fails naming the pair") {
    val e = intercept[IllegalArgumentException](
      Session.parseConf("spark.sql.shuffle.partitions=8;spark.sql.adaptive.enabled"))
    assert(e.getMessage.contains("'spark.sql.adaptive.enabled'"))
    intercept[IllegalArgumentException](Session.parseConf("=true"))
  }

  test("SparkSession.builder appears in src/main only in graft/Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = files.filter { f: Path =>
      root.relativize(f).toString != "graft/Session.scala" &&
        Files.readString(f).contains("SparkSession.builder")
    }
    assert(files.size > 50)
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
