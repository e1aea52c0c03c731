package graft.functions.expressions

import java.util.Locale

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Document-signature kernels for near-dup detection (SURVEY.md §2
  * #20-21). Composing these from built-in higher-order functions
  * (transform/aggregate lambdas) is correct but catastrophically slow:
  * HOFs are interpreted (CodegenFallback) and nested lambdas re-
  * evaluate their captured subtrees per element, so a K×bands×shingles
  * nest re-tokenizes each document thousands of times. These kernels
  * instead run tokenize → shingle → K seeded hashes in ONE tight JVM
  * loop per row, invoked from generated code via a static call — the
  * per-row cost at 100 TB is a single virtual-free method call.
  *
  * Hash family: ONE XXH64 over the shingle's UTF-8 bytes, then K
  * multiply-add permutations g_j(h) = A_j·h + B_j (mod 2^64, A_j odd
  * → bijective) with A/B drawn from SplitMix64. Hashing once and
  * permuting K times costs ~K× less than K seeded XXH64 passes and
  * is the standard minwise-family construction (cf. Spark MLlib's
  * MinHashLSH, which uses the same a·x+b form over a prime field).
  * Wrap-around arithmetic is fine here: these are plain JVM longs
  * inside the kernel, not ANSI SQL expressions.
  */

/** MinHash signature: array<long> of length k; element j is the min
  * over distinct lowercase word w-shingles of XXH64(shingle, seed=j).
  * Documents with fewer than w tokens get an empty array (no shingle
  * → no signature → never a near-dup candidate). */
case class MinHashSig(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    MinHashSig.compute(v.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.MinHashSig.compute($c, $k, $w);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  /** Max permutation count the static A/B tables cover. */
  val MaxK = 256

  /** One XXH64 per lowercased whitespace token, computed directly on
    * the UTF-8 bytes — no String, StringBuilder, or regex allocation
    * in the per-row path (this scan IS the per-document cost of the
    * dedup operators at 100 TB). ASCII A-Z lowercased in place;
    * multi-byte UTF-8 sequences pass through untouched. Whitespace =
    * the Java regex \s class (space, \t, \n, \x0B, \f, \r), so token
    * boundaries match the previous split("\\s+") form. */
  private[expressions] def tokenHashes(text: UTF8String): Array[Long] = {
    val n = text.numBytes
    if (n == 0) return Array.emptyLongArray
    val buf = new Array[Byte](n)
    text.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
    var i = 0
    while (i < n) {
      val b = buf(i)
      if (b >= 'A' && b <= 'Z') buf(i) = (b + 32).toByte
      i += 1
    }
    @inline def ws(b: Byte): Boolean =
      b == ' ' || (b >= 9 && b <= 13) // \t \n \x0B \f \r
    var out = new Array[Long](math.min(16, n))
    var m = 0
    i = 0
    while (i < n) {
      while (i < n && ws(buf(i))) i += 1
      val s = i
      while (i < n && !ws(buf(i))) i += 1
      if (i > s) {
        if (m == out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
        out(m) = XXH64.hashUnsafeBytes(buf,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + s, i - s, 0)
        m += 1
      }
    }
    if (m == out.length) out else java.util.Arrays.copyOf(out, m)
  }

  // SplitMix64 finalizer — avalanches the combined shingle hash so
  // the downstream multiply-add permutations see uniform input.
  @inline private[expressions] def fmix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // SplitMix64 — the standard seed-expansion mixer (public domain,
  // Steele et al., "Fast Splittable Pseudorandom Number Generators").
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private val MixA: Array[Long] =
    Array.tabulate(MaxK)(j => splitmix64(2L * j) | 1L) // odd → bijective
  private val MixB: Array[Long] =
    Array.tabulate(MaxK)(j => splitmix64(2L * j + 1))

  /** Single-pass kernel, called from both interpreted and generated
    * paths. Deterministic for a given (text, k, w). A shingle's hash
    * is the avalanched combination of its tokens' hashes (one XXH64
    * per TOKEN, not per shingle×K) — distinct token sequences
    * collide only with hash probability, and each distinct shingle
    * hash feeds the K multiply-add permutations. */
  def compute(text: UTF8String, k: Int, w: Int): ArrayData = {
    require(k <= MaxK, s"k=$k exceeds MaxK=$MaxK")
    val th = tokenHashes(text)
    // w <= 0 must not degenerate to one constant empty-window hash
    // per doc (every doc would minhash-match every other) — same
    // guard as ShingleHashes
    if (w <= 0 || th.length < w)
      return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.HashSet[java.lang.Long]()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i + w <= th.length) {
      var h = 0x27d4eb2f165667c5L // arbitrary odd seed
      var j = i
      while (j < i + w) { h = (h ^ th(j)) * 0x100000001b3L; j += 1 }
      h = fmix(h)
      if (seen.add(h)) {
        var s = 0
        while (s < k) {
          val v = MixA(s) * h + MixB(s)
          if (v < mins(s)) mins(s) = v
          s += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** Distinct hashes of the lowercase word w-shingles (array<long>) —
  * the decontamination kernel (SURVEY.md §2 #71). Same hash family as
  * [[MinHashSig]] (one XXH64 per token, FNV-combine per window, fmix
  * avalanche), so no shingle string ever materializes: the per-doc
  * cost is one tokenize pass + one rolling combine. Distinctness is
  * applied inside the kernel (per doc), so downstream needs no
  * per-doc distinct. Two different shingles collide with probability
  * ~2^-64 — at any corpus size the expected false-share count is
  * vanishingly below one, which is why every production
  * decontamination pipeline compares n-gram hashes, not strings. */
case class ShingleHashes(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleHashes.compute(v.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.ShingleHashes.compute($c, $w);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  def compute(text: UTF8String, w: Int): ArrayData = {
    val th = MinHashSig.tokenHashes(text)
    // w <= 0 must not degenerate to "one empty-window hash per doc"
    // (every doc would share the constant fmix(seed) shingle)
    if (w <= 0 || th.length < w)
      return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i + w <= th.length) {
      var h = 0x27d4eb2f165667c5L // same seed/combine as MinHashSig
      var j = i
      while (j < i + w) { h = (h ^ th(j)) * 0x100000001b3L; j += 1 }
      seen.add(MinHashSig.fmix(h))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator(); var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}

/** 64-bit SimHash of the lowercase whitespace tokens: bit b of the
  * result is 1 iff the sum over tokens of ±1 (sign = bit b of
  * XXH64(token, seed=0)) is ≥ 0. Empty text → all ties → all bits 1
  * (deterministic). */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    SimHash64.compute(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.SimHash64.compute($c);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct character n-grams of the lowercased text (array<string>,
  * first-occurrence order) — the exact-verification kernel behind
  * n-gram Jaccard (SURVEY.md §2 #22). Equivalent to the composed
  * transform(sequence…substr) form but one pass, no per-element
  * re-evaluation of the captured text subtree. */
/** Distinct char n-grams as SORTED packed long codes (round 21):
  * each n-gram's UTF-16 chars pack into one long (16 bits/char,
  * n ≤ 4 — injective, so distinctness and intersection counts are
  * EXACTLY those of the string n-gram sets [[CharNgrams]] emits).
  * The string form spent the gram-comparison kernels' time hashing
  * and allocating 3-char UTF8Strings per element (JobProfile: ~13 s
  * of task time on containment's 63k candidate pairs at sf0.1);
  * codes sort once per document and intersect by linear merge
  * ([[SortedLongIntersectCount]]) — no hash set, no allocation per
  * pair. Dedup is sort-then-unique on a primitive array. */
case class CharNgramCodes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1 && n <= 4, s"CharNgramCodes packs 16-bit chars: n=$n")
  // ADVICE r21: fail at analysis on a non-string input instead of a
  // per-row ClassCastException (ExpectsInputTypes is private[sql])
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType == StringType) TypeCheckSuccess
    else TypeCheckFailure(
      s"CharNgramCodes requires a string input, got ${child.dataType.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    CharNgramCodes.compute(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.CharNgramCodes.compute($c, $n);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharNgramCodes {
  def compute(text: UTF8String, n: Int): ArrayData = {
    // SAME normalization walk as CharNgrams.compute: lowercase via
    // Locale.ROOT on the whole string, then every length-n char
    // window — the packed code is a bijection of the window's chars,
    // so the distinct-code set is the distinct-gram set
    val t = text.toString.toLowerCase(Locale.ROOT)
    val m = t.length - (n - 1)
    if (m < 1) return new GenericArrayData(Array.empty[Any])
    val codes = new Array[Long](m)
    var i = 0
    while (i < m) {
      var code = 0L
      var j = 0
      while (j < n) { code = (code << 16) | t.charAt(i + j).toLong; j += 1 }
      codes(i) = code
      i += 1
    }
    java.util.Arrays.sort(codes)
    var uniq = 1
    i = 1
    while (i < m) {
      if (codes(i) != codes(uniq - 1)) { codes(uniq) = codes(i); uniq += 1 }
      i += 1
    }
    val out = new Array[Any](uniq)
    i = 0
    while (i < uniq) { out(i) = codes(i); i += 1 }
    new GenericArrayData(out)
  }
}

/** |A∩B| of two SORTED distinct long arrays by linear merge — the
  * count `size(array_intersect(a, b))` computes, without the per-pair
  * hash set or the intersect array allocation. */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  // ADVICE r21: misuse (e.g. a stale string-array gram index probed
  // with the codes kernel) must fail analysis, not read garbage longs
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    SortedLongIntersect.checkLongArrays(left, right, "SortedLongIntersectCount")
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedLongIntersectCount.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.SortedLongIntersectCount" +
        s".compute($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedLongIntersectCount {
  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** A∩B of two SORTED distinct long arrays by linear merge — what
  * `array_intersect(a, b)` computes for such inputs (elements of the
  * first array also in the second, in first-array order, which is
  * sorted order here), without the per-pair OpenHashSet build and
  * per-element hashing (round 22, VERDICT r21 #3: triangle_count's
  * closing intersection was the last array_intersect in a gram/graph
  * hot path after round 21 moved the gram kernels to the merge form). */
case class SortedLongIntersect(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    SortedLongIntersect.checkLongArrays(left, right, "SortedLongIntersect")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedLongIntersect.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.SortedLongIntersect" +
        s".compute($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedLongIntersect {
  /** Shared analysis check for the merge-intersect kernels: both
    * inputs must be array<long> with no null elements — `getLong` on
    * a null slot reads 0, a silent wrong member. Sortedness is the
    * caller's contract: both producers, CharNgramCodes and the
    * sort_array'd collect_list adjacency, emit sorted non-null arrays
    * by construction. */
  def checkLongArrays(left: Expression, right: Expression, name: String)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    def isLongArray(e: Expression): Boolean =
      e.dataType == ArrayType(LongType, containsNull = false)
    if (isLongArray(left) && isLongArray(right)) TypeCheckSuccess
    else TypeCheckFailure(
      s"$name requires two array<bigint> inputs without null " +
        s"elements, got (${left.dataType}, ${right.dataType})")
  }

  def compute(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val out = new Array[Long](math.min(na, nb))
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { out(c) = x; c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val boxed = new Array[Any](c)
    i = 0
    while (i < c) { boxed(i) = out(i); i += 1 }
    new GenericArrayData(boxed)
  }
}

/** The array unchanged, declared without null elements: for an array
  * read back from a table — file sources declare every element
  * nullable — that a non-null producer wrote, so it can feed the
  * merge-intersect kernels. A null element fails the query by name
  * instead of reaching a kernel that would read it as 0. */
case class AssertNonNullElements(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    child.dataType.asInstanceOf[ArrayType].copy(containsNull = false)
  override def nullSafeEval(v: Any): Any =
    AssertNonNullElements.check(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.AssertNonNullElements.check($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AssertNonNullElements {
  def check(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) throw new IllegalStateException(
        s"AssertNonNullElements: element $i of a $n-element array is null")
      i += 1
    }
    a
  }
}

case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    CharNgrams.compute(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.CharNgrams.compute($c, $n);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharNgrams {
  def compute(text: UTF8String, n: Int): ArrayData = {
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val t = text.toString.toLowerCase(Locale.ROOT)
    val m = t.length - (n - 1)
    if (m < 1) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < m) { seen.add(t.substring(i, i + n)); i += 1 }
    val out = new Array[Any](seen.size)
    val it = seen.iterator(); var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }
}

/** Positions where two equal-length long-array signatures agree —
  * the MinHash Jaccard estimator's numerator (est = agree / k).
  * Codegen'd so in-bucket estimation on candidate pairs stays inside
  * whole-stage codegen (the zip_with+aggregate HOF form is
  * interpreted and re-evaluates captured subtrees per element). */
case class LongArrayAgree(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    LongArrayAgree.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.LongArrayAgree.compute($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LongArrayAgree {
  def compute(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var agree = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) agree += 1
      i += 1
    }
    agree
  }
}

object SimHash64 {
  def compute(text: UTF8String): Long = {
    // token hashes come from the shared byte-level scan (same XXH64
    // over the same lowercased token bytes as before — SimHash values
    // are unchanged for ASCII text); duplicates kept: frequency
    // weights the bit votes.
    val th = MinHashSig.tokenHashes(text)
    val counts = new Array[Int](64)
    var i = 0
    while (i < th.length) {
      val h = th(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) >= 0) sig |= (1L << b); b += 1 }
    sig
  }
}
