package graft

import org.scalacheck.{Gen, rng}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.col
import graft.functions.TextFunctions
import graft.functions.expressions.{Combinations3, SortedLongIntersect, SortedLongIntersectCount}

/** Round-22 kernel properties: the array-returning sorted-merge
  * intersect (triangle_count's closing step) and the basket-local
  * C(n,3) generator (itemset_3) against their reference semantics,
  * and the input contracts both enforce. */
class R22KernelSpec extends SparkTestBase {

  private def samples[A](g: Gen[A], n: Int): Seq[A] = {
    val seed0 = rng.Seed(42L)
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default,
      seed0.reseed(i.toLong)))
  }

  private val sortedDistinct: Gen[Array[Long]] =
    Gen.listOf(Gen.chooseNum(-50L, 50L))
      .map(_.distinct.sorted.toArray)

  test("SortedLongIntersect equals reference set intersection, sorted") {
    samples(Gen.zip(sortedDistinct, sortedDistinct), 200).foreach {
      case (a, b) =>
        val out = SortedLongIntersect.compute(
          new GenericArrayData(a), new GenericArrayData(b))
        val ref = a.filter(b.toSet) // first-array (sorted) order
        assert(out.toLongArray().toSeq === ref.toSeq)
        // and the count kernel agrees with the array kernel
        val cnt = SortedLongIntersectCount.compute(
          new GenericArrayData(a), new GenericArrayData(b))
        assert(cnt === ref.length)
    }
  }

  test("Combinations3 equals reference combinations, in order") {
    samples(sortedDistinct.map(_.take(12)), 120).foreach { xs =>
      val out = Combinations3.compute(new GenericArrayData(xs))
      val ref = xs.toSeq.combinations(3).toSeq
      assert(out.numElements() === ref.length)
      (0 until out.numElements()).foreach { i =>
        val row = out.getStruct(i, 3)
        assert(Seq(row.getLong(0), row.getLong(1), row.getLong(2))
          === ref(i))
      }
    }
  }

  test("SortedLongIntersect kernels reject arrays with nullable elements at analysis") {
    import spark.implicits._
    val df = Seq((Seq(Option(1L), None), Seq(Option(1L), Option(2L))))
      .toDF("a", "b")
    assert(df.schema("a").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = true))
    Seq("SortedLongIntersect" -> TextFunctions.sortedIntersect _,
        "SortedLongIntersectCount" -> TextFunctions.intersectCount _)
      .foreach { case (name, kernel) =>
        val e = intercept[AnalysisException] {
          df.select(kernel(col("a"), col("b"))).collect()
        }
        assert(e.getMessage.contains(s"$name requires two array<bigint> " +
          "inputs without null elements"))
      }
    // a table's nullable-element arrays pass once asserted non-null,
    // and an actual null element fails the query by name
    assert(df.select(TextFunctions.intersectCount(
      TextFunctions.assertNonNullElements(col("b")),
      TextFunctions.assertNonNullElements(col("b")))).head().getInt(0) === 2)
    val e = intercept[Exception] {
      df.select(TextFunctions.assertNonNullElements(col("a"))).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage)
        .contains("element 1 of a 2-element array is null")))
    // the producers' own arrays (non-null elements) pass as they are
    val ok = spark.range(1).select(
      TextFunctions.charNgramCodes(org.apache.spark.sql.functions.lit("abcd"), 3).as("g"))
    assert(ok.select(TextFunctions.intersectCount(col("g"), col("g")))
      .head().getInt(0) === 2)
  }

  test("Combinations3 fails by name when C(n,3) exceeds an Int") {
    // C(2400,3) ≈ 2.30e9 > Int.MaxValue: the size check runs before
    // any triple is allocated
    val xs = new GenericArrayData((0L until 2400L).toArray[Any])
    val e = intercept[IllegalArgumentException](Combinations3.compute(xs))
    assert(e.getMessage.contains("Combinations3: a basket of 2400 elements"))
  }
}
