package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Learned byte-pair-encoding token counter (SURVEY.md §2 #106): the
  * real tokenizer metric a training-data pipeline budgets with, in
  * place of the whitespace/regex proxies.
  *
  * The model is a LEARNED merge list (trained corpus-side by
  * [[graft.operators.Bpe]], the classic Sennrich BPE loop): merge
  * rank r fuses token pair (a, b) into new token id 256+r. Encoding
  * is byte-level and whitespace-pretokenized — each whitespace-free
  * pretoken starts as its UTF-8 byte values (0-255) and repeatedly
  * applies the LOWEST-RANK applicable merge until none applies, the
  * standard greedy BPE encode. Whitespace delimits and is never
  * counted (consistent with the `ws` metric it sits beside).
  *
  * The merge table rides IN the expression (a few hundred packed
  * longs — serialized to executors with the plan), and the per-row
  * kernel is a codegen'd static call on a per-instance rank map. Pretokens are word-sized, so the
  * rank-scan-per-merge encode is O(len²) only in the worst
  * single-word case — bounded and allocation-light. */
case class BpeTokenCount(child: Expression, merges: Seq[Long])
    extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case StringType => TypeCheckSuccess
      case t => TypeCheckFailure(
        s"bpe_token_count requires string, got ${t.simpleString}")
    }
  }

  @transient private lazy val ranks = BpeTokenCount.rankMap(merges)

  override def nullSafeEval(v: Any): Any =
    BpeTokenCount.count(v.asInstanceOf[UTF8String], ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("bpeRanks", ranks,
      classOf[java.util.HashMap[java.lang.Long, java.lang.Integer]].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.BpeTokenCount.count($c, $r);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeTokenCount {

  /** Packed pair (a << 32 | b) → merge rank. */
  def rankMap(merges: Seq[Long])
      : java.util.HashMap[java.lang.Long, java.lang.Integer] = {
    val m = new java.util.HashMap[java.lang.Long, java.lang.Integer](
      merges.size * 2)
    merges.zipWithIndex.foreach { case (p, r) => m.put(p, r) }
    m
  }

  def pack(a: Int, b: Int): Long = (a.toLong << 32) | (b.toLong & 0xffffffffL)

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Total BPE token count of the document: Σ over whitespace-split
    * pretokens of the greedily-merged token count. */
  def count(text: UTF8String,
      ranks: java.util.HashMap[java.lang.Long, java.lang.Integer]): Long = {
    val raw = text.getBytes
    val n = raw.length
    var total = 0L
    var i = 0
    var buf = new Array[Int](16)
    while (i < n) {
      while (i < n && isWs(raw(i))) i += 1
      var len = 0
      while (i < n && !isWs(raw(i))) {
        if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
        buf(len) = raw(i) & 0xff
        len += 1
        i += 1
      }
      if (len > 0) total += encodeCount(buf, len, ranks)
    }
    total
  }

  /** Greedy BPE over one pretoken held in buf[0,len): repeatedly fuse
    * the lowest-rank adjacent pair (leftmost first among equals —
    * equal-rank pairs are the SAME pair, so left-to-right application
    * is the textbook order). Returns the surviving token count. */
  private def encodeCount(buf: Array[Int], len0: Int,
      ranks: java.util.HashMap[java.lang.Long, java.lang.Integer]): Int = {
    var len = len0
    var done = false
    while (!done && len > 1) {
      // find the lowest-rank applicable pair
      var bestRank = Int.MaxValue
      var j = 0
      while (j < len - 1) {
        val r = ranks.get(pack(buf(j), buf(j + 1)))
        if (r != null && r < bestRank) bestRank = r
        j += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        // fuse every occurrence of that pair, left to right
        val merged = 256 + bestRank
        var w = 0
        var rdr = 0
        while (rdr < len) {
          if (rdr < len - 1 && {
            val r = ranks.get(pack(buf(rdr), buf(rdr + 1)))
            r != null && r == bestRank
          }) {
            buf(w) = merged
            rdr += 2
          } else {
            buf(w) = buf(rdr)
            rdr += 1
          }
          w += 1
        }
        len = w
      }
    }
    len
  }
}
