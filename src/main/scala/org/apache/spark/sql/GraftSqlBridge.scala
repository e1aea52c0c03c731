package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. `classic.ExpressionUtils` is
  * package-private in Spark 4, so the graft custom-Expression wrappers
  * go through this one-file shim in the spark.sql package. */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function on a live session (sessionState is
    * private[sql], hence this shim). */
  def registerFunction(spark: SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** Per-column [lo,hi] bounds provable from the TOP-LEVEL AND
    * conjuncts of a predicate Column: `c >= 5 && c < 9 && f(x)`
    * yields `c -> (5, 9)`. Sound for metadata pruning because a
    * conjunct false over a whole file makes the conjunction false
    * there — unrecognized conjuncts (UDFs, ORs, arithmetic) are
    * ignored, they can only narrow the match set further. Strict
    * inequalities widen to their closed forms (file granularity
    * keeps an extra candidate, never drops one). Numeric literals
    * only. Lives here because the ColumnNode tree is private[sql]. */
  def predicateRanges(pred: Column): Map[String, (Double, Double)] = {
    import org.apache.spark.sql.internal.{Cast => NCast, ColumnNode,
      Literal => NLit, UnresolvedAttribute => NAttr,
      UnresolvedFunction => NFn}
    def attr(n: ColumnNode): Option[String] = n match {
      case a: NAttr => Some(a.nameParts.mkString("."))
      case c: NCast => attr(c.child)
      case _ => None
    }
    def litD(n: ColumnNode): Option[Double] = n match {
      case l: NLit => l.value match {
        case v: java.lang.Number => Some(v.doubleValue())
        case v: scala.math.BigDecimal => Some(v.toDouble)
        case v: java.math.BigDecimal => Some(v.doubleValue())
        case _ => None
      }
      case _ => None
    }
    val inf = Double.PositiveInfinity
    def cmp(op: String, a: ColumnNode, b: ColumnNode)
        : Seq[(String, Double, Double)] = {
      val fwd = attr(a).zip(litD(b)).toSeq
      val rev = attr(b).zip(litD(a)).toSeq // `250 <= id` forms
      op match {
        case ">=" | ">" =>
          fwd.map { case (c, v) => (c, v, inf) } ++
            rev.map { case (c, v) => (c, -inf, v) }
        case "<=" | "<" =>
          fwd.map { case (c, v) => (c, -inf, v) } ++
            rev.map { case (c, v) => (c, v, inf) }
        case "=" | "==" | "<=>" =>
          (fwd ++ rev).map { case (c, v) => (c, v, v) }
        case _ => Seq.empty
      }
    }
    def go(n: ColumnNode): Seq[(String, Double, Double)] = n match {
      case f: NFn if f.functionName == "and" => f.arguments.flatMap(go)
      case f: NFn if f.arguments.size == 2 =>
        cmp(f.functionName, f.arguments(0), f.arguments(1))
      case _ => Seq.empty
    }
    go(pred.node)
      .groupBy(_._1)
      .map { case (c, bs) =>
        c -> (bs.map(_._2).max, bs.map(_._3).min)
      }
  }

  /** Every job Spark's status store holds, oldest first, each with the
    * data of its stages that ran, read once every event posted so far
    * has been processed. The store is private[spark] and is kept with
    * or without the UI. */
  def jobsWithStages(sc: org.apache.spark.SparkContext): Seq[(
      org.apache.spark.status.api.v1.JobData,
      Seq[org.apache.spark.status.api.v1.StageData])] = {
    sc.listenerBus.waitUntilEmpty()
    val store = sc.statusStore
    store.jobsList(null).sortBy(_.jobId).map { j =>
      j -> j.stageIds.toSeq.flatMap(store.stageData(_)).filter(
        _.status != org.apache.spark.status.api.v1.StageStatus.SKIPPED)
    }
  }
}
