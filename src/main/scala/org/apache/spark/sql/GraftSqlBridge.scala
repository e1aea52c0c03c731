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

  /** Union-all of shards that are each `lo <= k AND k < hi` over the
    * SAME plan (one deterministic key `k`, integral literal bounds,
    * pairwise disjoint ranges) as ONE filter over that plan by the OR
    * of the ranges, adjacent ones fused: each row is in at most one
    * shard, so this is exact. None for any other input. Here because
    * `classic.Dataset.ofRows` is private[sql]. */
  def rangeShardUnion(shards: Seq[DataFrame]): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    def bound(e: Expression) = e match {
      case Literal(v: java.lang.Number, _: types.IntegralType) =>
        Some((v.longValue, e))
      case _ => None
    }
    val parsed = shards.map(_.queryExecution.analyzed).collect {
      case Filter(And(GreaterThanOrEqual(k, lo), LessThan(k2, hi)), child)
          if k.deterministic && k.semanticEquals(k2) && bound(lo).nonEmpty &&
            bound(hi).nonEmpty => (child, k, bound(lo).get, bound(hi).get)
    }
    if (parsed.isEmpty || parsed.size < shards.size) return None
    val (child, key, _, _) = parsed.head
    if (!parsed.forall(p => p._1.fastEquals(child) && p._2.semanticEquals(key)))
      return None
    // empty ranges select nothing in either form
    val ranges = parsed.map(p => (p._3, p._4))
      .filter { case (lo, hi) => lo._1 < hi._1 }.sortBy(_._1._1)
    if (ranges.isEmpty ||
        ranges.zip(ranges.tail).exists { case (a, b) => a._2._1 > b._1._1 })
      return None
    val fused = ranges.tail.foldLeft(List(ranges.head)) {
      case ((lo, hi) :: done, (l, h)) if l._1 == hi._1 => (lo, h) :: done
      case (done, r) => r :: done
    }
    val cond = fused.map { case ((_, lo), (_, hi)) =>
      And(GreaterThanOrEqual(key, lo), LessThan(key, hi)): Expression
    }.reduce(Or(_, _))
    Some(classic.Dataset.ofRows(
      shards.head.sparkSession.asInstanceOf[classic.SparkSession],
      Filter(cond, child)))
  }

  /** A parquet frame over exactly `files` read as `schema`, the
    * columns the files' partition values name read from those values.
    * Through [[LogFileIndex]] no directory is listed and no footer
    * opened: building the frame runs no job at any file count. */
  def logRelation(spark: SparkSession, root: String, schema: types.StructType,
      files: Seq[(org.apache.hadoop.fs.FileStatus, Seq[(String, String)])])
      : DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.execution.datasources._
    val partCols = files.flatMap(_._2.map(_._1)).distinct
    val partSchema = types.StructType(partCols.map(c =>
      schema.find(_.name == c).getOrElse(types.StructField(c, types.StringType))))
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val parts = files.groupBy(_._2.toMap).toSeq.map { case (values, fs) =>
      PartitionDirectory(
        catalyst.InternalRow.fromSeq(partSchema.map(f =>
          Cast(Literal(values.getOrElse(f.name, null)), f.dataType, tz).eval())),
        fs.map(f => FileStatusWithMetadata(f._1)))
    }.sortBy(_.files.head.getPath.toString)
    spark.baseRelationToDataFrame(HadoopFsRelation(
      LogFileIndex(new org.apache.hadoop.fs.Path(root), partSchema.asNullable, parts),
      partSchema.asNullable,
      types.StructType(schema.filterNot(f => partCols.contains(f.name))).asNullable,
      None, new execution.datasources.parquet.ParquetFileFormat, Map.empty)(spark))
  }

  /** `a` widened by `b` by Spark's mergeSchema rule (new fields append,
    * incompatible types fail); `StructType.merge` is private[sql]. */
  def mergeSchemas(a: types.StructType, b: types.StructType): types.StructType =
    a.merge(b)

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

/** A table's files as its commit log lists them (Delta's snapshot
  * file index): the partitions are fixed when the frame is built, and
  * `listFiles` prunes them by the partition filters alone. */
final case class LogFileIndex(root: org.apache.hadoop.fs.Path,
    partitionSchema: types.StructType,
    partitions: Seq[execution.datasources.PartitionDirectory])
    extends execution.datasources.FileIndex {
  import org.apache.spark.sql.catalyst.expressions._

  def rootPaths: Seq[org.apache.hadoop.fs.Path] = Seq(root)

  def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[execution.datasources.PartitionDirectory] =
    if (partitionFilters.isEmpty) partitions
    else {
      val keep = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldNames.indexWhere(_.equalsIgnoreCase(a.name))
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      partitions.filter(p => keep.eval(p.values))
    }

  def inputFiles: Array[String] =
    partitions.flatMap(_.files.map(_.getPath.toString)).toArray

  def refresh(): Unit = ()

  def sizeInBytes: Long = partitions.flatMap(_.files.map(_.getLen)).sum
}
