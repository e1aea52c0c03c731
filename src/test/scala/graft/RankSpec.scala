package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.operators.Rank

/** [[Rank.twoLevelRank]] and [[Rank.twoLevelPrefixSum]] against the
  * one-window forms they decompose (`row_number` / running `sum` over
  * the whole partition), on a crafted table that sits on the
  * decomposition's seams — keyed and keyless, blocks ascending and
  * descending, leading-key ties on both sides of a block edge,
  * one-row blocks and a partition that is a single block — plus the
  * guard that keeps the keyed-window gate in one place. */
class RankSpec extends SparkTestBase {
  import spark.implicits._

  /** (part, k, id, v): blocks are `k div 10`; k ties at 9 | 10 and
    * 19 | 20 sit on both sides of a block edge; every block of part
    * "b" and block 3 of part "a" hold one row; part "c" lies in block
    * 5 alone. ids are unique, so (k, id) is a total order. */
  private lazy val rows = Seq(
    ("a", 9L, 1L, 5L), ("a", 9L, 2L, -3L), ("a", 9L, 3L, 7L),
    ("a", 10L, 4L, 2L), ("a", 10L, 5L, -1L), ("a", 10L, 6L, 4L),
    ("a", 19L, 7L, 1L), ("a", 20L, 8L, 6L), ("a", 20L, 9L, -2L),
    ("a", 35L, 10L, 3L), ("a", 2L, 11L, 8L),
    ("b", 47L, 12L, 1L), ("b", 9L, 13L, 2L), ("b", 10L, 14L, 3L),
    ("c", 51L, 15L, 4L), ("c", 53L, 16L, 5L), ("c", 51L, 17L, -6L))
    .toDF("part", "k", "id", "v")
    .repartition(3) // several input partitions: exercise the shuffles

  private val blk = expr("k div 10")
  private val asc = Seq(col("k").asc, col("id").asc)
  private val desc = Seq(col("k").desc, col("id").asc)

  private def whole(part: Seq[String]): WindowSpec =
    Window.partitionBy(part.map(col): _*)

  private def sorted(df: DataFrame, cols: String*) =
    df.select("id", cols: _*).orderBy("id").collect().toSeq

  private def checkRank(part: Seq[String], blkAscending: Boolean,
      order: Seq[Column]): Unit = {
    val two = Rank.twoLevelRank(rows, part, blk, blkAscending, order,
      "rnk", "n")
    val one = rows
      .withColumn("rnk",
        row_number().over(whole(part).orderBy(order: _*)).cast("long"))
      .withColumn("n", count(lit(1)).over(whole(part)))
    assert(sorted(two, "rnk", "n") === sorted(one, "rnk", "n"))
  }

  private def checkPrefixSum(part: Seq[String], blk: Column,
      order: Seq[Column]): Unit = {
    val two = Rank.twoLevelPrefixSum(rows, part, blk, order, col("v"),
      "cum", "total")
    val one = rows
      .withColumn("cum", coalesce(sum(col("v")).over(whole(part)
        .orderBy(order: _*).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("total", sum(col("v")).over(whole(part)))
    assert(sorted(two, "cum", "total") === sorted(one, "cum", "total"))
  }

  test("the crafted table has the seams the specs below rely on") {
    val blocks = rows.groupBy(col("part"), blk.as("b")).count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(blocks.count { case ((p, _), _) => p == "c" } === 1)
    assert(blocks.values.count(_ == 1L) >= 3)
    assert(blocks(("a", 0L)) === 4L && blocks(("a", 1L)) === 4L)
  }

  test("twoLevelRank equals row_number: keyed, blocks ascending") {
    checkRank(Seq("part"), blkAscending = true, asc)
  }

  test("twoLevelRank equals row_number: keyed, blocks descending") {
    checkRank(Seq("part"), blkAscending = false, desc)
  }

  test("twoLevelRank equals row_number: keyless, both directions") {
    checkRank(Seq.empty, blkAscending = true, asc)
    checkRank(Seq.empty, blkAscending = false, desc)
  }

  test("twoLevelPrefixSum equals the running sum: keyed") {
    checkPrefixSum(Seq("part"), blk, asc)
    // descending order: negated blocks run ascending with it
    checkPrefixSum(Seq("part"), -blk, desc)
  }

  test("twoLevelPrefixSum equals the running sum: keyless") {
    checkPrefixSum(Seq.empty, blk, asc)
    checkPrefixSum(Seq.empty, -blk, desc)
  }

  test("SingleWindowMax appears in src/main only in operators/Rank.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = files.filter { f: Path =>
      root.relativize(f).toString != "graft/operators/Rank.scala" &&
        Files.readString(f).contains("SingleWindowMax")
    }
    assert(files.size > 50)
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
