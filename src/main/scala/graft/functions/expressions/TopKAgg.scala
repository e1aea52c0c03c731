package graft.functions.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Bounded-heap top-k aggregate (SURVEY.md §2 #63): keeps the k
  * largest (value, id) pairs per group with O(k) state and
  * O(log k) per-row cost, merged associatively across partitions.
  *
  * Why a custom aggregate instead of the window form
  * (`row_number() OVER (PARTITION BY g ORDER BY v DESC) <= k`): the
  * window plan must shuffle EVERY row of a group to one task and
  * sort the whole group — a hot group with a billion rows sorts a
  * billion rows for a 3-row answer. The aggregate's partial state is
  * k pairs per group per task, combined map-side like any sum, so
  * the shuffle carries O(groups × k), not O(rows).
  *
  * Deterministic total order: (value desc, id asc) — equal values
  * tie-break on the smaller id, matching the oracle-able window
  * form. Returns array<struct<value double, id bigint>> sorted in
  * rank order.
  */
case class TopKAgg(valueExpr: Expression, idExpr: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKAgg.Heap] {
  require(k > 0, "k must be positive")

  // Reject wrong input types at analysis with a readable message
  // instead of a per-row ClassCastException (AbstractDataType — the
  // ExpectsInputTypes route — is private[sql]; the SQL-surface
  // builder casts integer/decimal inputs before they reach here).
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (valueExpr.dataType == DoubleType && idExpr.dataType == LongType)
      TypeCheckSuccess
    else TypeCheckFailure(
      s"top_k requires (double, bigint) inputs, got " +
        s"(${valueExpr.dataType.simpleString}, ${idExpr.dataType.simpleString})")
  }

  override def children: Seq[Expression] = Seq(valueExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("value", DoubleType), StructField("id", LongType))),
    containsNull = false)

  override def createAggregationBuffer(): TopKAgg.Heap = new TopKAgg.Heap(k)

  override def update(buf: TopKAgg.Heap, input: InternalRow): TopKAgg.Heap = {
    val v = valueExpr.eval(input)
    val id = idExpr.eval(input)
    if (v != null && id != null)
      buf.offer(v.asInstanceOf[Double], id.asInstanceOf[Long])
    buf
  }

  override def merge(a: TopKAgg.Heap, b: TopKAgg.Heap): TopKAgg.Heap = {
    b.foreach(a.offer)
    a
  }

  override def eval(buf: TopKAgg.Heap): Any = {
    val sorted = buf.toSortedPairs // (value desc, id asc)
    new GenericArrayData(sorted.map { case (v, id) =>
      new GenericInternalRow(Array[Any](v, id))
    })
  }

  override def serialize(buf: TopKAgg.Heap): Array[Byte] = {
    val pairs = buf.toSortedPairs
    val bb = ByteBuffer.allocate(4 + pairs.length * 16)
    bb.putInt(pairs.length)
    pairs.foreach { case (v, id) => bb.putDouble(v); bb.putLong(id) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKAgg.Heap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val h = new TopKAgg.Heap(k)
    (0 until n).foreach(_ => h.offer(bb.getDouble, bb.getLong))
    h
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(valueExpr = newChildren(0), idExpr = newChildren(1))
}

object TopKAgg {
  /** Bounded min-heap over the (value desc, id asc) total order:
    * the root is the WORST retained pair, evicted when a better one
    * arrives with the heap full. */
  final class Heap(k: Int) {
    // rank comparison: a is better than b if value higher, or equal
    // value and id lower
    private def better(v1: Double, id1: Long, v2: Double, id2: Long): Boolean =
      v1 > v2 || (v1 == v2 && id1 < id2)

    private val vs = new Array[Double](k)
    private val ids = new Array[Long](k)
    private var n = 0

    def offer(v: Double, id: Long): Unit = {
      // NaN never ranks: under the better() order every comparison
      // with NaN is false, so an admitted NaN would sift to the root
      // and block all later offers (and make the final sortWith
      // comparator inconsistent). Same contract as max_by/arg_max.
      if (v.isNaN) return
      if (n < k) {
        vs(n) = v; ids(n) = id; n += 1
        siftUp(n - 1)
      } else if (better(v, id, vs(0), ids(0))) {
        vs(0) = v; ids(0) = id
        siftDown(0)
      }
    }

    // min-heap on "better": root = least-good retained pair
    private def worse(i: Int, j: Int): Boolean =
      !better(vs(i), ids(i), vs(j), ids(j))

    private def swap(i: Int, j: Int): Unit = {
      val tv = vs(i); vs(i) = vs(j); vs(j) = tv
      val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    }

    private def siftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0 && worse(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    }

    private def siftDown(i0: Int): Unit = {
      var i = i0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = 2 * i + 2
        var m = i
        if (l < n && worse(l, m)) m = l
        if (r < n && worse(r, m)) m = r
        if (m == i) done = true else { swap(i, m); i = m }
      }
    }

    def foreach(f: (Double, Long) => Unit): Unit =
      (0 until n).foreach(i => f(vs(i), ids(i)))

    /** Pairs in rank order (value desc, id asc). */
    def toSortedPairs: Array[(Double, Long)] =
      (0 until n).map(i => (vs(i), ids(i))).toArray
        .sortWith { case ((v1, i1), (v2, i2)) => better(v1, i1, v2, i2) }
  }
}
