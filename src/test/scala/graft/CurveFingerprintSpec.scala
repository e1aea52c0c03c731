package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Curation}

/** Round-15 batch I (SURVEY.md §2 #207-208): the quality threshold
  * curve and the order-invariant table fingerprint. */
class CurveFingerprintSpec extends SparkTestBase {

  test("quality curve is monotone non-increasing and anchored at keep-all") {
    val rows = Curation.qualityCurve(spark, SfDir).collect()
      .sortBy(_.getAs[Long]("threshold_pct"))
    assert(rows.length === 11)
    // t = 0 keeps everything
    assert(rows.head.getAs[Long]("n_kept")
      === rows.head.getAs[Long]("n_docs"))
    assert(rows.head.getAs[Long]("keep_ppm") === 1000000L)
    // tightening the gate never keeps more
    val kept = rows.map(_.getAs[Long]("n_kept"))
    assert(kept.zip(kept.tail).forall { case (a, b) => b <= a })
    val chars = rows.map(_.getAs[Long]("kept_chars"))
    assert(chars.zip(chars.tail).forall { case (a, b) => b <= a })
    // the curve must actually discriminate on this corpus
    assert(kept.last < kept.head)
  }

  test("fingerprint is row-order invariant and detects a single-value change") {
    val base = Analytics.tableFingerprint(spark, SfDir).collect()
      .map(r => r.getAs[String]("table") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("checksum"))).toMap
    assert(base.keySet === Set("documents", "events", "orders"))
    // shuffled copy of documents → identical fingerprint
    val dir = tempDir("graft_fp")
    val docs = spark.read.parquet(s"$SfDir/documents.parquet")
    docs.orderBy(rand(7)).repartition(5)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$SfDir/events.parquet")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    spark.read.parquet(s"$SfDir/orders.parquet")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val shuffled = Analytics.tableFingerprint(spark, dir).collect()
      .map(r => r.getAs[String]("table") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("checksum"))).toMap
    assert(shuffled("documents") === base("documents"))
    // corrupt ONE value → the table's checksum moves, others don't
    val dir2 = tempDir("graft_fp2")
    docs.withColumn("n_chars",
        when(col("doc_id") === 3L, col("n_chars") + 1L)
          .otherwise(col("n_chars")))
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    spark.read.parquet(s"$SfDir/events.parquet")
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    spark.read.parquet(s"$SfDir/orders.parquet")
      .write.mode("overwrite").parquet(s"$dir2/orders.parquet")
    val corrupted = Analytics.tableFingerprint(spark, dir2).collect()
      .map(r => r.getAs[String]("table") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("checksum"))).toMap
    assert(corrupted("documents")._1 === base("documents")._1)
    assert(corrupted("documents")._2 !== base("documents")._2)
    assert(corrupted("events") === base("events"))
    assert(corrupted("orders") === base("orders"))
  }
}
