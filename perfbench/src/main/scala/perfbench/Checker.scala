package perfbench

import java.io.File
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** Keeps the first result of every checked query for the oracle
  * compare and holds every later result of the same query to it, so a
  * wrong answer anywhere in a run counts as a failed operation.
  * Nothing here runs inside a timed interval. */
final class Checker(spark: SparkSession, dir: File) {
  private val first = mutable.LinkedHashMap.empty[String, (Int, Array[Row], StructType)]

  /** Record one result; false when it differs from the first result
    * recorded under `key`. */
  def record(key: String, schema: StructType, rows: Array[Row]): Boolean = {
    val h = MurmurHash3.orderedHash(rows.iterator.map(_.hashCode))
    first.get(key) match {
      case None =>
        first(key) = (h, rows, schema)
        true
      case Some((h0, _, _)) => h == h0
    }
  }

  /** Every first result, written as parquet (timestamps as NTZ, like
    * `graft.Verify`) for the oracle compare. Four writes run at a time:
    * each is a one-task job whose cost is mostly the driver's. */
  def writeAll(): Seq[Map[String, Any]] = {
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(first.toSeq) { case (key, (_, rows, schema)) =>
      Future {
        val out = new File(dir, key.replace('/', '.')).getPath
        val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        df.select(df.schema.fields.toIndexedSeq.map { f =>
          if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name)
          else col(f.name)
        }: _*).coalesce(1).write.mode("overwrite").parquet(out)
        Map[String, Any]("key" -> key, "path" -> out)
      }
    }, Duration.Inf)
    finally pool.shutdown()
  }
}
