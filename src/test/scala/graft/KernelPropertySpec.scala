package graft

import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.expressions._

/** Property tests for the codegen kernels' JVM helpers — these run
  * the exact static methods the generated code calls, over
  * ScalaCheck-generated inputs (fixed seed → reproducible), with no
  * Spark job per case. */
class KernelPropertySpec extends AnyFunSuite {

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val text = Gen.listOf(word).map(_.mkString(" "))

  /** Deterministic sample stream from a generator. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] = {
    val seed0 = rng.Seed(42L)
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default,
      seed0.reseed(i.toLong)))
  }

  private def forAll[A](g: Gen[A], n: Int = 50)(f: A => Unit): Unit =
    samples(g, n).foreach(f)

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int = 50)
      (f: (A, B) => Unit): Unit =
    samples(Gen.zip(ga, gb), n).foreach { case (a, b) => f(a, b) }

  test("minhash: identical texts → identical signatures; estimate bounded") {
    forAll(text) { t =>
      val a = PortableMinHashSig.compute(UTF8String.fromString(t), 32)
      val b = PortableMinHashSig.compute(UTF8String.fromString(t), 32)
      assert(a.toLongArray().toSeq === b.toLongArray().toSeq)
      val agree = LongArrayAgree.compute(a, b)
      assert(agree === (if (a.numElements() == 0) 0 else 32))
    }
  }

  test("minhash estimate equals exact Jaccard at the extremes") {
    forAll2(text, text) { (t1, t2) =>
      val a = PortableMinHashSig.compute(UTF8String.fromString(t1), 32)
      val b = PortableMinHashSig.compute(UTF8String.fromString(t2), 32)
      if (a.numElements() == 32 && b.numElements() == 32) {
        val est = LongArrayAgree.compute(a, b) / 32.0
        def shingles(t: String) = t.toLowerCase.trim.split("\\s+")
          .sliding(2).map(_.mkString(" ")).toSet
        val (sa, sb) = (shingles(t1), shingles(t2))
        val jac = sa.intersect(sb).size.toDouble / sa.union(sb).size
        if (jac == 1.0) assert(est === 1.0)
        if (jac == 0.0) assert(est <= 0.5, s"est $est for disjoint sets")
      }
    }
  }

  test("simhash of a permuted token multiset is unchanged") {
    forAll(Gen.nonEmptyListOf(word)) { ws =>
      val h1 = PortableSimHash32.compute(UTF8String.fromString(ws.mkString(" ")))
      val h2 = PortableSimHash32.compute(
        UTF8String.fromString(scala.util.Random.shuffle(ws).mkString(" ")))
      assert(h1 === h2) // order-independent by construction
    }
  }

  test("sign band keys: deterministic and in range") {
    // components inside the kernel's |component| < 2.097152 contract
    val vec = Gen.listOfN(64, Gen.chooseNum(-2.0, 2.0, 0.0))
    forAll(vec) { v =>
      val a = PortableSignBandKeys.compute(new GenericArrayData(v.toArray), 8, 5, 64)
      val b = PortableSignBandKeys.compute(new GenericArrayData(v.toArray), 8, 5, 64)
      assert(a.toLongArray().toSeq === b.toLongArray().toSeq)
      assert(a.numElements() === 8)
      assert(a.toLongArray().forall(k => k >= 0 && k < 32))
    }
  }

  test("fnv64 has no trivial collisions on distinct short strings") {
    forAll(Gen.listOfN(50, word), n = 20) { ws =>
      val distinct = ws.distinct
      val hashes = distinct.map(w => {
        val e = Fnv64(org.apache.spark.sql.catalyst.expressions.Literal(w))
        e.eval(null).asInstanceOf[Long]
      })
      assert(hashes.distinct.size === distinct.size)
    }
  }

  test("char ngrams: every gram has length n and appears in the text") {
    forAll2(text, Gen.chooseNum(2, 4)) { (t, n) =>
      val grams = CharNgrams.compute(UTF8String.fromString(t), n)
      (0 until grams.numElements()).foreach { i =>
        val g = grams.getUTF8String(i).toString
        assert(g.length === n)
        assert(t.toLowerCase.contains(g))
      }
    }
  }

  test("shingle hashes = distinct string shingles (count and equality)") {
    forAll2(text, Gen.chooseNum(2, 8)) { (t, w) =>
      val toks = t.trim.split("\\s+").filter(_.nonEmpty).toVector
      val strShingles =
        if (toks.size < w) Vector.empty
        else (0 to toks.size - w).map(i => toks.slice(i, i + w)).distinct
      val hs = ShingleHashes.compute(UTF8String.fromString(t), w)
      // one hash per DISTINCT shingle (kernel dedupes), and distinct
      // string shingles never collide on these generated corpora
      assert(hs.numElements() === strShingles.size,
        s"w=$w text='$t'")
      val arr = hs.toLongArray()
      assert(arr.distinct.length === arr.length)
      // determinism + equal shingles hash equal: recompute and compare
      val hs2 = ShingleHashes.compute(UTF8String.fromString(t), w)
      assert(hs2.toLongArray().toSeq === arr.toSeq)
    }
    // degenerate widths yield no shingles, never a constant hash
    Seq(0, -1).foreach { w =>
      assert(ShingleHashes.compute(UTF8String.fromString("a b c"), w)
        .numElements() === 0)
    }
  }

  test("int8 quantization: codes in range, scale-invariant, cosine close") {
    val vec = Gen.listOfN(16,
      Gen.choose(-1e3, 1e3).suchThat(d => !d.isNaN)).map(_.toArray)
    def q(v: Array[Double]): Array[Int] = {
      val out = QuantizeI8.compute(new GenericArrayData(v))
      (0 until out.numElements()).map(out.getInt).toArray
    }
    def exactCos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val den = math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum)
      if (den == 0) 0.0 else dot / den
    }
    def intCos(a: Array[Int], b: Array[Int]): Double = {
      val r = IntCosine(null, null).nullSafeEval(
        new GenericArrayData(a), new GenericArrayData(b))
      if (r == null) 0.0 else r.asInstanceOf[Double]
    }
    forAll2(vec, vec) { (a, b) =>
      val (qa, qb) = (q(a), q(b))
      assert(qa.forall(c => c >= -127 && c <= 127), "codes in [-127,127]")
      // scale invariance: codes of 1000*v equal codes of v
      assert(q(a.map(_ * 1000.0)).sameElements(qa), "scale cancels")
      // int8 cosine stays close to the float cosine: worst-case code
      // error is 0.5/127 per component; 0.05 is a loose cover at dim 16
      if (a.exists(_ != 0.0) && b.exists(_ != 0.0))
        assert(math.abs(intCos(qa, qb) - exactCos(a, b)) <= 0.05,
          s"quantized cosine drifted: ${intCos(qa, qb)} vs ${exactCos(a, b)}")
    }
  }
}
