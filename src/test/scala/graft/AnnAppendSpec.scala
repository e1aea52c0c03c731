package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** #124 append-without-retrain: additivity of the postings commit and
  * exactness of the exhaustive probe over the merged index. */
class AnnAppendSpec extends SparkTestBase {

  test("ann_append: base posting files survive the append untouched, " +
    "and the merged exhaustive probe equals brute force") {
    // replicate the build with a snapshot between the two commits
    val root = new java.io.File(tempDir("graft_append_spec"))
    val e = Similarity.emb(spark, SfDir)
    val base = e.filter(pmod(col("vec_id"), lit(Similarity.AppendMod)) =!= 0L)
    val batch = e.filter(pmod(col("vec_id"), lit(Similarity.AppendMod)) === 0L)
    val centroids = broadcast(Similarity.trainCentroidsOf(spark, base,
      SfDir, s"#spec-append-${root.getName}", Similarity.IvfKmeansIters))
    val postingsDir = new java.io.File(root, "postings.parquet")
    Similarity.ivfAssignCells(base, centroids, Similarity.IvfAssign)
      .repartition(col("cell"))
      .write.mode("overwrite").parquet(postingsDir.getPath)
    def dataFiles = postingsDir.listFiles
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    val baseFiles = dataFiles
    val nBase = spark.read.parquet(postingsDir.getPath).count()
    Similarity.ivfAssignCells(batch, centroids, Similarity.IvfAssign)
      .repartition(col("cell"))
      .write.mode("append").parquet(postingsDir.getPath)
    // additive commit: every base file still present, byte-identical
    // (name+size+mtime), and the row count grew by the batch side
    assert(baseFiles.subsetOf(dataFiles))
    assert(dataFiles.size > baseFiles.size)
    val nMerged = spark.read.parquet(postingsDir.getPath).count()
    assert(nMerged - nBase ===
      batch.count() * Similarity.IvfAssign)
    // exhaustive probe over the merged postings == brute force over
    // the FULL corpus (the ann_append oracle's local twin)
    val merged = spark.read.parquet(postingsDir.getPath)
    val got = Similarity.ivfSearch(e, centroids, merged,
      Similarity.IvfCells, 0.0, Similarity.IvfCells).collect().toSeq
    val want = Similarity.annBrute(spark, SfDir).collect().toSeq
    assert(got === want)
    org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  test("ann_append query: equals ann_brute end-to-end (scratch-index " +
    "path)") {
    val got = Similarity.annAppend(spark, SfDir).collect().toSeq
    val want = Similarity.annBrute(spark, SfDir).collect().toSeq
    assert(got === want)
  }
}
