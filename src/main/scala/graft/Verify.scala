package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: run only these queries (targeted
    // re-verification after a single-operator change)
    val only = args.drop(2).toSet
    val spark = Session.harness(Session.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // clear any previous run's output FIRST: a failing query must
      // leave a missing dir (the driver records the failure), never a
      // stale result a reused outDir would silently grade as current
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$outDir/$name"))
      try {
        val df = fn(spark, sfDir)
        // Timestamps go out as NTZ (isAdjustedToUTC=false) so the
        // driver's pandas-side compare sees the same naive dtype the
        // DuckDB oracle produces; session tz is UTC → values unchanged.
        import org.apache.spark.sql.functions.col
        import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
        val ntz = df.select(df.schema.fields.map { f =>
          if (f.dataType == TimestampType)
            col(f.name).cast(TimestampNTZType).as(f.name)
          else col(f.name)
        }.toIndexedSeq: _*)
        ntz.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
