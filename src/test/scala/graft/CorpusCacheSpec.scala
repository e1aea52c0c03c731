package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.operators.{Bpe, Components}
import graft.sources.Tables

/** The corpus-artifact cache contract (see [[CorpusCache]]): the
  * unreadable-mtime policy, the per-site cap, build job descriptions,
  * the pin rule, and that no operator keeps a cache or an unexplained
  * pin of its own. */
class CorpusCacheSpec extends SparkTestBase {

  test("a table without a readable mtime is rebuilt on every call") {
    // a `file:` URI reads fine but has no local mtime: caching it
    // under a constant key would serve a regenerated corpus stale
    val uri = "file:" + SfDir
    val a = Bpe.trainedMerges(spark, uri)
    val b = Bpe.trainedMerges(spark, uri)
    assert(!(a eq b))
    assert(a === b && a.nonEmpty)
    // the same corpus by local path is cached
    val c = Bpe.trainedMerges(spark, SfDir)
    assert(Bpe.trainedMerges(spark, SfDir) eq c)
    assert(c === a)
  }

  test("the cap clears only the full site; other sites keep their entries") {
    val root = java.nio.file.Paths.get(tempDir("graft_cap_spec"))
    try {
      val dirs = (0 to CorpusCache.MaxEntries).map { i =>
        val d = root.resolve(s"c$i")
        Files.createDirectories(d.resolve("t.parquet"))
        d.toString
      }
      var builds = 0
      def a(i: Int): Int =
        CorpusCache.value(spark, dirs(i), "t", "cap_spec_a") { builds += 1; i }
      def b(): Int =
        CorpusCache.value(spark, dirs(0), "t", "cap_spec_b") { builds += 1; -1 }
      b()
      (0 until CorpusCache.MaxEntries).foreach(a)
      assert(builds === CorpusCache.MaxEntries + 1)
      // a full site still serves every corpus it holds
      (0 until CorpusCache.MaxEntries).foreach(i => assert(a(i) === i))
      assert(builds === CorpusCache.MaxEntries + 1)
      // one corpus more clears the site: its first corpus is rebuilt
      assert(a(CorpusCache.MaxEntries) === CorpusCache.MaxEntries)
      assert(a(0) === 0)
      assert(builds === CorpusCache.MaxEntries + 3)
      // while the other site's entry for that same corpus survived
      assert(b() === -1)
      assert(builds === CorpusCache.MaxEntries + 3)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }

  test("builds run under graft:artifact:<site>, nested ones too") {
    val sc = spark.sparkContext
    CorpusCache.clearAll()
    sc.setJobDescription("caller")
    try {
      // basketAdjacency → basketPairsSym → basketPairs → basketLines:
      // every job of the cold build carries its own site's name, so
      // each nested build restored its caller's description
      val jobs = jobDescriptions(Components.basketAdjacency(spark, SfDir))
      assert(jobs.toSet === Set("basket_lines", "basket_pairs",
        "basket_pairs_sym", "basket_adj").map("graft:artifact:" + _))
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      // warm: no job at all
      assert(jobDescriptions(Components.basketAdjacency(spark, SfDir))
        .isEmpty)
    } finally sc.setJobDescription(null)
  }

  private def lazyLangCounts(): DataFrame =
    Tables.load(spark, SfDir, "documents").groupBy("lang").count()

  test("a df build returning a lazy frame is served pinned; warm runs no job") {
    CorpusCache.clearAll()
    var served: DataFrame = null
    val cold = jobDescriptions {
      served = CorpusCache.df(spark, SfDir, "documents", "pin_spec_df")(
        lazyLangCounts())
    }
    assert(served.queryExecution.logical.isInstanceOf[LogicalRDD],
      served.queryExecution.logical.getClass.getName)
    assert(cold.nonEmpty &&
      cold.forall(_ == "graft:artifact:pin_spec_df"), cold.mkString(", "))
    var warm: DataFrame = null
    assert(jobDescriptions {
      warm = CorpusCache.df(spark, SfDir, "documents", "pin_spec_df")(
        lazyLangCounts())
    }.isEmpty)
    assert(warm eq served)
    assert(served.collect().toSet === lazyLangCounts().collect().toSet)
  }

  test("a pinned build's derive runs once per build, over the pinned frame") {
    CorpusCache.clearAll()
    var derives = 0
    def get(): (DataFrame, Long) =
      CorpusCache.pinned(spark, SfDir, "documents", "pin_spec_derive")(
        lazyLangCounts()) { f =>
        derives += 1
        (f, f.count())
      }
    val (frame, n) = get()
    assert(derives === 1)
    assert(frame.queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(n === lazyLangCounts().count())
    assert(get()._1 eq frame)
    assert(derives === 1)
    // a new build derives again, from its own pinned frame
    CorpusCache.clearAll()
    val (rebuilt, _) = get()
    assert(derives === 2)
    assert(!(rebuilt eq frame))
  }

  test("every localCheckpoint() outside CorpusCache carries a // pin: reason") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val pins = files.filter { f: Path =>
      root.relativize(f).toString != "graft/CorpusCache.scala"
    }.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      lines.indices.filter(i => lines(i).contains(".localCheckpoint("))
        .map(i => (s"${root.relativize(f)}:${i + 1}",
          lines(i).contains("// pin:") ||
            (i > 0 && lines(i - 1).trim.startsWith("// pin:"))))
    }
    assert(files.size > 50)
    assert(pins.nonEmpty)
    val bare = pins.filterNot(_._2).map(_._1)
    assert(bare.isEmpty, bare.mkString(", "))
  }

  test("no cache map or cap outside CorpusCache in operators/ and pipeline/") {
    val dirs = Seq("operators", "pipeline")
      .map(d => Paths.get("src/main/scala/graft", d))
    assert(dirs.forall(Files.isDirectory(_)), "run from the repository root")
    val files = dirs.flatMap(d => Files.walk(d).iterator().asScala)
      .filter(_.toString.endsWith(".scala"))
    val words = Seq("ConcurrentHashMap", "computeIfAbsent", "MaxEntries")
    val offenders = files.flatMap { f: Path =>
      val text = Files.readString(f)
      words.filter(text.contains).map(w => s"$f: $w")
    }
    assert(files.size > 20)
    assert(offenders.isEmpty, offenders.mkString(", "))
    // and the cap has one owner in all of src/main
    val main = Paths.get("src/main/scala")
    val capped = Files.walk(main).iterator().asScala.filter { f =>
      f.toString.endsWith(".scala") &&
        main.relativize(f).toString != "graft/CorpusCache.scala" &&
        Files.readString(f).contains("MaxEntries")
    }.toSeq
    assert(capped.isEmpty, capped.mkString(", "))
  }
}
