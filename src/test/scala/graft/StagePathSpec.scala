package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.sources.StagePath

/** What graft writes for itself (see [[StagePath]]): a query's scratch
  * belongs to its call, a derived copy is published whole, and no other
  * code builds a path under the temp dir. */
class StagePathSpec extends SparkTestBase {

  private val tmp = new File(sys.props("java.io.tmpdir"))
  private def entries: Set[String] = Option(tmp.list()).toSeq.flatten.toSet

  /** graft's own entries: Spark and its native codecs unpack into the
    * temp dir on first use, under names of their own. */
  private def graftEntries: Set[String] =
    entries.filter(n => n.startsWith("graft") || n.startsWith(".graft"))

  // every query that writes a table of its own to reach its answer
  Seq("versioned_commits", "versioned_changes", "cdc_incremental",
    "append_roundtrip", "csv_ingest", "json_ingest", "corpus_shuffle",
    "alert_feed", "backfill_range").foreach { name =>
    test(s"$name: a call's scratch is its own") {
      val q = SparkEntry.queries(name)
      val before = graftEntries
      val first = q(spark, SfDir)
      val second = q(spark, SfDir)
      // the first call's frame is read only after the second call ran
      val rows1 = first.collect().toSeq
      assert(rows1.nonEmpty)
      assert(rows1 === second.collect().toSeq)
      val left = graftEntries -- before
      assert(left.isEmpty, s"left under the temp dir: $left")
    }
  }

  /** A corpus dir holding one table `t.parquet`, and a clean-up of
    * every copy derived from it. */
  private def withCorpus(body: String => Unit): Unit = {
    val corpus = Files.createTempDirectory("stagepathspec")
    Files.createFile(corpus.resolve("t.parquet"))
    try body(corpus.toString)
    finally {
      val key = StagePath.key(corpus.toString)
      Option(tmp.listFiles()).toSeq.flatten
        .filter(_.getName.contains(key))
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      org.apache.commons.io.FileUtils.deleteQuietly(corpus.toFile)
    }
  }

  private def ours(corpus: String): Seq[String] =
    entries.filter(_.contains(StagePath.key(corpus))).toSeq.sorted

  private def files(dir: String): Set[String] =
    Option(new File(dir).list()).toSeq.flatten.toSet

  test("two builders of one copy at once serve the same complete directory") {
    withCorpus { corpus =>
      val start = new CountDownLatch(2)
      def build(out: String): Unit = {
        start.countDown()
        start.await(10, TimeUnit.SECONDS) // both are inside a build
        (1 to 5).foreach { i =>
          Files.writeString(Paths.get(out, s"part-$i"), s"$i")
          Thread.sleep(20)
        }
      }
      val pool = Executors.newFixedThreadPool(2)
      try {
        val got = Seq.fill(2)(pool.submit(() =>
          StagePath.derived(corpus, Seq("t"), "spec_race")(build)))
          .map(_.get(60, TimeUnit.SECONDS))
        assert(got.distinct.size === 1)
        assert(files(got.head) === (1 to 5).map(i => s"part-$i").toSet)
        // the loser's private copy is gone
        assert(ours(corpus) === Seq(new File(got.head).getName))
      } finally pool.shutdown()
    }
  }

  test("a newer source table gives a new copy and retires the old one") {
    withCorpus { corpus =>
      var builds = 0
      def get(): String = StagePath.derived(corpus, Seq("t"), "spec_fresh") {
        out => builds += 1; Files.writeString(Paths.get(out, "v"), s"$builds")
      }
      val a = get()
      assert(get() === a)
      assert(builds === 1)
      val t = new File(corpus, "t.parquet")
      assert(t.setLastModified(t.lastModified() + 5000L))
      val b = get()
      assert(b !== a)
      assert(builds === 2)
      assert(Files.readString(Paths.get(b, "v")) === "2")
      assert(!new File(a).exists(), "the superseded copy was kept")
      assert(ours(corpus) === Seq(new File(b).getName))
    }
  }

  test("a build that throws leaves nothing, and the next call rebuilds") {
    withCorpus { corpus =>
      var fail = true
      def get(): String = StagePath.derived(corpus, Seq("t"), "spec_throw") {
        out =>
          Files.writeString(Paths.get(out, "half"), "x")
          if (fail) throw new IllegalStateException("build failed")
          Files.writeString(Paths.get(out, "whole"), "x")
      }
      val e = intercept[IllegalStateException](get())
      assert(e.getMessage === "build failed")
      assert(ours(corpus).isEmpty, "a failed build left a directory")
      fail = false
      val d = get()
      assert(files(d) === Set("half", "whole"))
    }
  }

  test("a scratch dir is gone once its call returns or throws") {
    val seen = StagePath.scratch("spec_scratch") { d =>
      assert(new File(d).isDirectory); d
    }
    assert(!new File(seen).exists())
    var inner = ""
    intercept[IllegalStateException](StagePath.scratch("spec_scratch") { d =>
      inner = d; throw new IllegalStateException("query failed")
    })
    assert(inner.nonEmpty && !new File(inner).exists())
  }

  test("only StagePath builds paths under the temp dir in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    // ModelStore keeps its own store root (a configurable dir with a
    // temp-dir fallback, and `_BUILT_<name>` generation pointers)
    val owners = Set("graft/sources/StagePath.scala",
      "graft/operators/ModelStore.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val words = Seq("java.io.tmpdir", "\"/tmp", "_STAGED", "_BUILT")
    val offenders = files.filterNot { f: Path =>
      owners(root.relativize(f).toString)
    }.flatMap { f =>
      val text = Files.readString(f)
      words.filter(text.contains).map(w => s"${root.relativize(f)}: $w")
    }
    assert(files.size > 50)
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
