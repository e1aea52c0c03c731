package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions, VectorFunctions}
import graft.functions.expressions.{PortableMinHashSig, PortableSimHash32}
import org.apache.spark.unsafe.types.UTF8String

/** Kernel-level tests: FNV-1a vectors, cosine/dot, minhash/simhash
  * determinism and semantics (SURVEY.md §2 #22-23, #27-30). */
class FunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("fnv64 matches published FNV-1a test vectors") {
    val got = Seq("", "a", "foobar").toDF("s")
      .select(VectorFunctions.fnv64(col("s"))).as[Long].collect()
    assert(got(0) === 0xcbf29ce484222325L) // offset basis
    assert(got(1) === 0xaf63dc4c8601ec8cL)
    assert(got(2) === 0x85944171f73967e8L)
  }

  test("cosine and dot on known vectors") {
    val df = Seq((Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)),
      (Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)),
      (Seq(1.0, 1.0, 0.0), Seq(1.0, 0.0, 0.0))).toDF("a", "b")
    val got = df.select(
      VectorFunctions.cosine(col("a"), col("b")).as("cos"),
      VectorFunctions.dot(col("a"), col("b")).as("dot")).collect()
    assert(got(0).getDouble(0) === 0.0 && got(0).getDouble(1) === 0.0)
    assert(math.abs(got(1).getDouble(0) - 1.0) < 1e-12)
    assert(got(1).getDouble(1) === 14.0)
    assert(math.abs(got(2).getDouble(0) - math.sqrt(0.5)) < 1e-12)
  }

  test("cosine of a zero vector is null, not NaN") {
    val df = Seq((Seq(0.0, 0.0), Seq(1.0, 1.0))).toDF("a", "b")
    val got = df.select(VectorFunctions.cosine(col("a"), col("b"))).collect()
    assert(got(0).isNullAt(0))
  }

  test("minhash: identical docs share the whole signature; shuffled words mostly too") {
    val k = 32
    val sigOf = (s: String) =>
      PortableMinHashSig.compute(UTF8String.fromString(s), k).toLongArray().toSeq
    val a = sigOf("the quick brown fox jumps over the lazy dog")
    val b = sigOf("the quick brown fox jumps over the lazy dog")
    val c = sigOf("an entirely different sentence about stock prices today")
    assert(a === b)
    assert(a !== c)
    // < w tokens → empty signature (never a candidate)
    assert(sigOf("one").isEmpty)
    // agreement fraction approximates Jaccard: "x y z" vs "x y w"
    // shingles {x y, y z} vs {x y, y w} → J = 1/3
    val s1 = sigOf("x y z"); val s2 = sigOf("x y w")
    val agree = s1.zip(s2).count { case (p, q) => p == q }.toDouble / k
    assert(agree > 0.05 && agree < 0.7, s"agreement $agree far from J=1/3")
  }

  test("simhash: identical → distance 0; near-identical close; disjoint far") {
    val h = (s: String) =>
      PortableSimHash32.compute(UTF8String.fromString(s)).longValue
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val far = "one two three four five six seven eight nine ten"
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(dist(h(base), h(base)) === 0)
    assert(dist(h(base), h(near)) < dist(h(base), h(far)))
  }

  test("text metrics: token counts, ngrams, jaccard, langId") {
    val df = Seq("The cat and the hat!").toDF("text")
    val r = df.select(
      TextFunctions.wsTokenCount(col("text")).as("ws"),
      TextFunctions.bpeTokenCount(col("text")).as("bpe"),
      TextFunctions.langId(col("text")).as("lang"),
      TextFunctions.stopwordCount(col("text")).as("stop")).collect()(0)
    assert(r.getAs[Int]("ws") === 5)
    // bpe: the|cat|and|the|hat|! = 6
    assert(r.getAs[Int]("bpe") === 6)
    assert(r.getAs[String]("lang") === "en")
    assert(r.getAs[Int]("stop") === 3) // "the" ×2 + "and" ("hat!" keeps its punct)
  }

  test("TokenCounts kernel equals the composed ws/bpe forms") {
    val edge = Seq("The cat and the hat!", "", " ", "\t", "a  b\tc",
      "x9y 42 ... 3.14", "unicode é Ü 中文!", "trailing space ",
      "İstanbul MiXeD", "a-b_c;d")
    val rows = edge.toDF("text").select(col("text"),
      TextFunctions.tokenCounts(col("text")).as("k"),
      struct(TextFunctions.wsTokenCount(col("text")).as("ws"),
        TextFunctions.bpeTokenCount(col("text")).as("bpe")).as("c"))
      .collect()
    rows.foreach { r =>
      assert(r.getStruct(1) === r.getStruct(2),
        s"kernel vs composed mismatch for '${r.getString(0)}'")
    }
    val bad = graft.sources.Tables.load(spark, SfDir, "documents")
      .select(TextFunctions.tokenCounts(col("text")).as("k"),
        struct(TextFunctions.wsTokenCount(col("text")).as("ws"),
          TextFunctions.bpeTokenCount(col("text")).as("bpe")).as("c"))
      .filter(col("k") =!= col("c")).count()
    assert(bad === 0L)
  }

  test("jaccard of char trigram sets") {
    val df = Seq(("abcd", "abcd"), ("abcd", "wxyz")).toDF("x", "y")
    val got = df.select(TextFunctions.jaccard(
      TextFunctions.charNgrams(col("x"), 3),
      TextFunctions.charNgrams(col("y"), 3)).as("j")).as[Double].collect()
    assert(got(0) === 1.0)
    assert(got(1) === 0.0)
  }
}
