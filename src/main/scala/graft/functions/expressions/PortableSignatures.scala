package graft.functions.expressions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** PORTABLE-hash signature kernels (SURVEY.md §2 #20-21, #24, #26),
  * the one near-dup signature family.
  *
  * A seeded hash such as Spark's XXH64 exists in no other engine, so
  * queries built on it can never be verified value-for-value by an
  * independent oracle. These kernels compute signatures from a hash
  * BOTH Spark and DuckDB evaluate natively — the md5 hex tail as a
  * 32-bit value, `conv(substr(md5(x),25,8),16,10)` ≡
  * `('0x'||substr(md5(x),25,8))::UBIGINT` — feeding K affine
  * permutations (a·h+b mod p, p prime > 2^32, a < 2^30 so the
  * product never overflows a signed 64-bit). Every downstream step
  * (band keys, bucket caps, agreement counts, Hamming) is integer
  * arithmetic, so the ENTIRE near-dup pipeline is hash-exact against
  * the DuckDB oracle — the single-pass kernel form exists because
  * the equivalent explode + wide-agg DataFrame pipeline pays ~3× in
  * shuffle and per-row md5-hex-string/conv allocation (measured at
  * sf0.1); PortableSignatureSpec pins kernel ≡ SQL-built signatures.
  *
  * Token semantics mirror the SQL form the oracle replicates:
  * `filter(split(lower(trim(text)), '\s+'), x -> x <> '')` — SQL
  * trim strips SPACES only, split is the Java/RE2 `\s` class, and
  * lowercase is Spark's UTF8String lowering (ASCII-identical to
  * DuckDB's; the testdata corpus is ASCII). */
object PortableHash {
  /** Smallest prime above 2^32 — the permutation modulus. */
  val P = 4294967311L
  val MaxK = 64
  /** Affine multipliers < 2^30 (no signed-64 overflow with h < 2^32). */
  val A: Array[Long] = Array.tabulate(MaxK)(i => 537116467L + 1046527L * i)
  val B: Array[Long] = Array.tabulate(MaxK)(i => (998244353L * (i + 1)) % P)

  private val md = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))
  private val digestBuf = ThreadLocal.withInitial[Array[Byte]](() =>
    new Array[Byte](16))

  /** Digest bytes 12-15 big-endian = hex chars 25-32 of md5(s). */
  def h32(s: String): Long = {
    val d = md.get()
    d.reset()
    tail32(d.digest(s.getBytes(StandardCharsets.UTF_8)))
  }

  @inline private def tail32(g: Array[Byte]): Long =
    ((g(12) & 0xffL) << 24) | ((g(13) & 0xffL) << 16) |
      ((g(14) & 0xffL) << 8) | (g(15) & 0xffL)

  /** h32 of the bytes `buf[s1,l1) ++ " " ++ buf[s2,l2)` — the
    * 2-shingle digest without materializing the shingle string. */
  private[expressions] def h32Shingle(buf: Array[Byte],
      s1: Int, l1: Int, s2: Int, l2: Int): Long = {
    val d = md.get()
    d.reset()
    d.update(buf, s1, l1)
    d.update(' '.toByte)
    d.update(buf, s2, l2)
    val out = digestBuf.get()
    d.digest(out, 0, 16)
    tail32(out)
  }

  /** h32 of the bytes `buf[s,l)`. */
  private[expressions] def h32Bytes(buf: Array[Byte], s: Int, l: Int): Long = {
    val d = md.get()
    d.reset()
    d.update(buf, s, l)
    val out = digestBuf.get()
    d.digest(out, 0, 16)
    tail32(out)
  }

  /** `filter(split(lower(trim(text)), '\s+'), x -> x <> '')`. */
  def tokens(text: UTF8String): Array[String] = {
    val t = text.toLowerCase.toString
    var st = 0
    var en = t.length
    while (st < en && t.charAt(st) == ' ') st += 1
    while (en > st && t.charAt(en - 1) == ' ') en -= 1
    if (en == st) return Array.empty
    t.substring(st, en).split("\\s+").filter(_.nonEmpty)
  }

  @inline private[expressions] def ws(b: Byte): Boolean =
    b == ' ' || (b >= 9 && b <= 13) // the Java/RE2 \s class, ASCII

  /** ASCII fast path: lowercased bytes + token [start,end) offsets —
    * non-ws runs are exactly the SQL tokens (trim only strips
    * boundary whitespace the run scan never includes). Returns null
    * when any byte is non-ASCII (caller falls back to the string
    * path, which carries Spark's full UTF-8 lowering). Token count
    * is `offs.length / 2`; token i spans [offs(2i), offs(2i+1)). */
  private[expressions] def asciiTokens(text: UTF8String): (Array[Byte], Array[Int]) = {
    val n = text.numBytes
    val buf = new Array[Byte](n)
    text.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
    var i = 0
    while (i < n) {
      val b = buf(i)
      if (b < 0) return null // non-ASCII: unicode lowercase differs
      if (b >= 'A' && b <= 'Z') buf(i) = (b + 32).toByte
      i += 1
    }
    var offs = new Array[Int](16)
    var m = 0
    i = 0
    while (i < n) {
      while (i < n && ws(buf(i))) i += 1
      val s = i
      while (i < n && !ws(buf(i))) i += 1
      if (i > s) {
        if (m == offs.length) offs = java.util.Arrays.copyOf(offs, offs.length * 2)
        offs(m) = s
        offs(m + 1) = i
        m += 2
      }
    }
    (buf, java.util.Arrays.copyOf(offs, m))
  }
}

/** Portable MinHash signature: array<long> of length k; element j is
  * the min over word 2-shingles of (A_j·h32(shingle) + B_j) mod P.
  * Fewer than 2 tokens → empty array (no shingle, never a
  * candidate — callers filter on size). */
case class PortableMinHashSig(child: Expression, k: Int)
    extends UnaryExpression {
  require(k > 0 && k <= PortableHash.MaxK, s"k=$k out of range")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    PortableMinHashSig.compute(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.PortableMinHashSig.compute($c, $k);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PortableMinHashSig {
  def compute(text: UTF8String, k: Int): ArrayData = {
    import PortableHash._
    val fast = asciiTokens(text)
    if (fast != null) {
      val (buf, offs) = fast
      val nTok = offs.length / 2
      if (nTok < 2) return new GenericArrayData(Array.emptyLongArray)
      val mins = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i + 1 < nTok) {
        val h = h32Shingle(buf,
          offs(2 * i), offs(2 * i + 1) - offs(2 * i),
          offs(2 * i + 2), offs(2 * i + 3) - offs(2 * i + 2))
        var s = 0
        while (s < k) {
          val v = (A(s) * h + B(s)) % P
          if (v < mins(s)) mins(s) = v
          s += 1
        }
        i += 1
      }
      return new GenericArrayData(mins)
    }
    val tk = tokens(text)
    if (tk.length < 2) return new GenericArrayData(Array.emptyLongArray)
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i + 2 <= tk.length) {
      val h = h32(tk(i) + " " + tk(i + 1))
      var s = 0
      while (s < k) {
        val v = (A(s) * h + B(s)) % P
        if (v < mins(s)) mins(s) = v
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** Portable 32-bit SimHash: bit b is 1 iff the ±1 votes of bit b of
  * each token's h32 sum to ≥ 0 (duplicate tokens keep their weight).
  * NULL when the text has no tokens — mirroring the SQL form, where
  * a token-less doc produces no rows and drops out of the group. */
case class PortableSimHash32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    PortableSimHash32.compute(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("sig")
      s"""
         |Long $r = graft.functions.expressions.PortableSimHash32.compute($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PortableSimHash32 {
  def compute(text: UTF8String): java.lang.Long = {
    import PortableHash._
    val counts = new Array[Int](32)
    var nTok = 0
    val fast = asciiTokens(text)
    if (fast != null) {
      val (buf, offs) = fast
      nTok = offs.length / 2
      var i = 0
      while (i < nTok) {
        vote(counts, h32Bytes(buf, offs(2 * i), offs(2 * i + 1) - offs(2 * i)))
        i += 1
      }
    } else {
      val tk = tokens(text)
      nTok = tk.length
      var i = 0
      while (i < nTok) { vote(counts, h32(tk(i))); i += 1 }
    }
    if (nTok == 0) return null
    var sig = 0L
    var b = 0
    while (b < 32) { if (counts(b) >= 0) sig |= (1L << b); b += 1 }
    sig
  }

  @inline private def vote(counts: Array[Int], h: Long): Unit = {
    var b = 0
    while (b < 32) {
      if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
      b += 1
    }
  }
}

/** Portable sign-LSH band keys over an embedding vector (round 13:
  * the embedding twin of [[PortableMinHashSig]]): hyperplane
  * component (p, j) is the md5 tail-32 of the string `hp|p|j` minus
  * 2^31 (a symmetric-around-zero 32-bit integer BOTH engines derive
  * from `md5` alone), the vector is 6 dp-quantized to integers
  * (`floor(v·10^6 + 0.5)` — exactly Java's `Math.round(double)`,
  * replicated in SQL as `cast(floor(x*1000000 + 0.5) AS bigint)`),
  * and each plane's sign comes from the EXACT INTEGER dot product —
  * no float summation order anywhere, so bucket membership is
  * engine-exact and the whole LSH pipeline downstream is
  * hash-verifiable against DuckDB. Overflow bound: |component| <
  * 2^21 (6 dp-scaled unit-range values) × |plane| < 2^31 × dim 64 →
  * |dot| < 2^58, inside signed-64 — ASSERTED per component in
  * [[PortableSignBandKeys.compute]], so an out-of-contract embedding
  * fails loudly here exactly as DuckDB's BIGINT overflow does.
  *
  * Output: array<long> of length `bands`; element b = the `bits`-bit
  * sign pattern of planes [b·bits, (b+1)·bits), bit i set iff
  * dot > 0. Plane matrix is cached per JVM (re-derived from (bands ×
  * bits, dim) — nothing ships with the task), generated code is one
  * static call: per-plane literal expressions would bloat every
  * generated stage that embeds the banding projection. */
case class PortableSignBandKeys(child: Expression, bands: Int,
    bits: Int, dim: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    PortableSignBandKeys.compute(v.asInstanceOf[ArrayData], bands, bits, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.PortableSignBandKeys" +
        s".compute($c, $bands, $bits, $dim);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PortableSignBandKeys {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]

  /** Flattened row-major integer plane matrix: element p·dim+j =
    * h32("hp|p|j") − 2^31. */
  def planesFlat(n: Int, dim: Int): Array[Long] =
    cache.computeIfAbsent((n, dim), _ =>
      Array.tabulate(n * dim) { idx =>
        PortableHash.h32("hp|" + (idx / dim) + "|" + (idx % dim)) -
          2147483648L
      })

  def compute(vec: ArrayData, bands: Int, bits: Int,
      dim: Int): GenericArrayData = {
    val planes = planesFlat(bands * bits, dim)
    val n = math.min(vec.numElements(), dim)
    val q = new Array[Long](n)
    var j = 0
    while (j < n) {
      q(j) = math.floor(vec.getDouble(j) * 1e6 + 0.5d).toLong
      // out-of-contract components must fail LOUDLY on both engines
      // (ADVICE r13): DuckDB raises on BIGINT overflow, but the JVM
      // dot product would wrap silently — assert the scaladoc bound
      // (|qc| < 2^21, i.e. |component| < ~2.1) so the two engines
      // diverge by error, never by value
      if (q(j) <= -2097152L || q(j) >= 2097152L)
        throw new IllegalArgumentException(
          s"PortableSignBandKeys: quantized component ${q(j)} at index $j " +
            "exceeds the |qc| < 2^21 overflow contract (embedding " +
            "components must lie in (-2.097152, 2.097152))")
      j += 1
    }
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var key = 0L
      var i = 0
      while (i < bits) {
        val base = (b * bits + i) * dim
        var dot = 0L
        var k = 0
        while (k < n) { dot += q(k) * planes(base + k); k += 1 }
        if (dot > 0L) key |= (1L << i)
        i += 1
      }
      keys(b) = key
      b += 1
    }
    new GenericArrayData(keys)
  }
}
