package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst kernels for the vector / fingerprint operators
  * (SURVEY.md §2 #23, #30). Implemented as codegen'd `Expression`s —
  * they stay inside whole-stage codegen, unlike Scala UDFs, so the
  * 100 TB scan path pays one tight loop per row and no boxing.
  *
  * Re-expresses (Spark-first, no code reuse) the reference's
  * text-analysis intent (/root/reference/README.md:3 "text analyzed
  * data") and the brief's embedding-similarity operators.
  */

/** Dot product of two array<double> columns. Null if either side is
  * null; length mismatch uses the common prefix (documented). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += a.getDouble(i) * b.getDouble(i); i += 1 }
    dot
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity of two array<double> columns, single pass
  * (dot + both norms in one loop). Null when either norm is zero.
  * Accumulation order is the sequential element order, matching a
  * scalar reference implementation. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) null else java.lang.Double.valueOf(dot / den)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x")
      val y = ctx.freshName("y"); val den = ctx.freshName("den")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i); double $y = $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($den == 0.0) { ${ev.isNull} = true; }
         |else { ${ev.value} = $dot / $den; }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** FNV-1a 64-bit rolling hash over a string's UTF-8 bytes — the
  * document-fingerprint kernel (SURVEY.md §2 #30). Deterministic,
  * seed-free, codegen'd. Test vectors in Fnv64Spec. */
case class Fnv64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    var h = Fnv64.Offset; var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL); h *= Fnv64.Prime; i += 1
    }
    h
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes"); val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = ${Fnv64.Offset}L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h ^= ($bytes[$i] & 0xffL); $h *= ${Fnv64.Prime}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Fnv64 {
  val Offset: Long = 0xcbf29ce484222325L
  val Prime: Long = 0x100000001b3L
}

/** Random-projection coordinates (SURVEY.md §2 #179, round 17): the
  * [[graft.operators.Similarity.randomProjection]] sketch in ONE
  * per-row pass — coord[j] = Σ_{d < min(dims, 128)} sign(d, j)·q_d,
  * with q_d = [[Unscaled6.compute]] of the element (the exact 6 dp
  * micro-unit quantization) and sign(d, j) the same md5-affine ±1
  * the SQL sign table derives (`md5(concat_ws('_', d, j))` tail-8
  * hex, even → +1) — precomputed once at class load (128×8 entries),
  * byte-identical to the broadcast table because MD5 is MD5.
  *
  * Replaces: posexplode(rows×dims) ⋈ broadcast signs (rows×dims×8
  * intermediate rows) + a (vec, j)-grain exchange — this kernel emits
  * the 8 coordinates per row inside the scan stage; the consumer
  * explodes an 8-element array instead. The SQL form's inner join
  * dropped d ≥ 128 contributions (the sign table's range); the kernel
  * iterates min(dims, 128) to match. Degenerate inputs follow the
  * join form exactly: an EMPTY array returns an empty array
  * (posexplode emits no rows → no groups), while a non-empty vector
  * whose first min(dims, 128) elements are ALL null returns 8 NULL
  * coordinates (posexplode emits (d, null) rows, the sign join still
  * matches on d, and sum over only-null contributions is NULL per
  * group — 8 groups survive).
  * Σ bound: ≤ 128·10⁶·max|v| ≪ 2⁶³, Math.addExact keeps the ANSI
  * loud-overflow posture. */
case class RpCoords(child: Expression) extends UnaryExpression {
  // containsNull: an all-null (non-empty) vector yields NULL coords,
  // matching the replaced join form's null-sum groups
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckSuccess
      case t => TypeCheckFailure(
        s"rp_coords requires array<double>, got ${t.simpleString}")
    }
  }
  override def nullSafeEval(v: Any): Any =
    RpCoords.compute(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.RpCoords.compute($c);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RpCoords {
  /** Output dims — must equal Similarity.RpDims (spec-pinned). */
  val Dims = 8
  /** Sign-table input range — the SQL form's `spark.range(0, 128)`. */
  val MaxInDims = 128

  /** sign(d, j) = +1 iff the tail-8-hex of md5("d_j") is even — the
    * exact broadcast-table derivation, replayed once per class load. */
  private val Signs: Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(MaxInDims, Dims) { (d, j) =>
      md.reset()
      val hex = md.digest(s"${d}_$j".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val v = java.lang.Long.parseLong(hex.substring(24, 32), 16)
      if (v % 2 == 0) 1L else -1L
    }
  }

  def compute(a: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = math.min(a.numElements(), MaxInDims)
    val out = new Array[Long](Dims)
    var any = false
    var d = 0
    while (d < n) {
      if (!a.isNullAt(d)) {
        any = true
        val q = Unscaled6.compute(a.getDouble(d))
        val s = Signs(d)
        var j = 0
        while (j < Dims) {
          out(j) = Math.addExact(out(j), s(j) * q)
          j += 1
        }
      }
      d += 1
    }
    if (any)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    else if (a.numElements() == 0)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.emptyLongArray)
    else // elements seen but every contribution null → NULL per group
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](Dims))
  }
}
