package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** All C(n,3) ordered triples (a < b < c by POSITION) of a sorted
  * distinct long array, as array<struct<a,b,c>> — the basket-local
  * itemset generator (round 22, VERDICT r21 #5): equivalent to the
  * triple self-join `a ⋈ b ⋈ c ON same key AND pa < pb < pc` for a
  * sorted distinct input, but generated IN-STAGE per basket instead
  * of two hash-join probe passes over the C(n,2)-scale intermediate.
  *
  * Memory contract: the triple array for one basket materializes at
  * once — C(n,3) structs. Baskets here are per-order distinct part
  * sets (bounded by order line count, single digits in this corpus
  * family at any SF), the same Σ-basket-power bound the pair/graph
  * operators already declare. Not for catalog-scale arrays: a basket
  * whose C(n,3) exceeds an Int fails with a require error. */
case class Combinations3(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"Combinations3 requires array<bigint>, got ${other.simpleString}")
    }
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", LongType), StructField("b", LongType),
    StructField("c", LongType))), containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Combinations3.compute(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.Combinations3.compute($c);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Combinations3 {
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val xs = new Array[Long](n)
    var t = 0
    while (t < n) { xs(t) = arr.getLong(t); t += 1 }
    val m = n.toLong * (n - 1) * (n - 2) / 6
    // the contract above, enforced: past this a basket would wrap the
    // array size negative (n ≈ 2345) instead of failing by name
    require(m <= Int.MaxValue, s"Combinations3: a basket of $n " +
      s"elements has $m triples, more than one array holds — the " +
      "kernel is for small baskets only")
    val out = new Array[Any](m.toInt)
    var w = 0
    var i = 0
    while (i < n - 2) {
      var j = i + 1
      while (j < n - 1) {
        var k = j + 1
        while (k < n) {
          out(w) = new GenericInternalRow(Array[Any](xs(i), xs(j), xs(k)))
          w += 1; k += 1
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
