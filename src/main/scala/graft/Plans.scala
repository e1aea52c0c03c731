package graft

import java.nio.file.{Files, Paths}

/** Plan-audit dump: `explain("formatted")` for every SparkEntry query
  * → one markdown file, so the physical shape of each operator
  * (pushdown, broadcast, codegen spans, exchange count) is reviewable
  * without running the engine. Regenerate after plan-affecting
  * changes: `sbt "runMain graft.Plans /root/testdata/sf0.001 PLANS.md"` */
object Plans {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outPath) = args
    val spark = Session.harness(Session.cpus)
    val sb = new StringBuilder
    sb.append("# PLANS — physical plan audit (generated by graft.Plans)\n\n")
    sb.append("AQE re-plans joins/partitions at runtime; these are the\n")
    sb.append("static plans. Audit checklist per query: filters/projection\n")
    sb.append("pushed to the scan, dims broadcast, no unbounded cartesian,\n")
    sb.append("aggregates partial (map-side), codegen spans wide.\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n## $name\n\n```\n$plan```\n")
      } catch { case e: Throwable =>
        sb.append(s"\n## $name\n\nERROR: ${e.getMessage}\n")
      }
    }
    Files.writeString(Paths.get(outPath), sb.toString)
    spark.stop()
  }
}
