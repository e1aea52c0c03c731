package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.TextFunctions

/** Near-dup operator tests (SURVEY.md §2 #19-22): planted duplicates
  * must surface as top candidates, estimates must track exact
  * similarity, and no plan may contain an unbounded cross product. */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  test("exact dedup groups identical texts and keeps the min id") {
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa"))
      .toDF("doc_id", "text")
    df.createOrReplaceTempView("t")
    val got = df.groupBy(sha2(col("text"), 256).as("h"))
      .agg(min("doc_id").as("keep"), count(lit(1)).as("n"))
      .orderBy("keep").select("keep", "n").as[(Long, Long)].collect()
    assert(got.toSeq === Seq((1L, 3L), (2L, 1L)))
    // and the full operator runs on real data with all hashes distinct rows
    val op = Dedup.exact(spark, SfDir)
    assert(op.count() > 0)
  }

  test("minhash LSH surfaces planted near-duplicates as top candidates") {
    val real = graft.sources.Tables.load(spark, SfDir, "documents")
    // plant: doc 9001 = copy of doc 0's text, doc 9002 = doc 0 with one word changed
    val d0 = real.filter(col("doc_id") === 0).select("text").as[String].collect()(0)
    val tweaked = d0.split(" ").zipWithIndex
      .map { case (w, i) => if (i == 3) "CHANGED" else w }.mkString(" ")
    val planted = real.select("doc_id", "text")
      .unionByName(Seq((9001L, d0), (9002L, tweaked)).toDF("doc_id", "text"))
    // exact copy: signature identical → est 1.0 pair (0, 9001) must rank top
    val top = Dedup.minhashLshOn(planted).limit(50)
      .select("a", "b", "est_jaccard").collect()
    val pairs = top.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs.exists(p => p._1 == 0L && p._2 == 9001L && p._3 == 1.0),
      s"exact copy not found in top: ${pairs.take(10)}")
    assert(pairs.exists(p => (p._1 == 0L && p._2 == 9002L) ||
      (p._1 == 9001L && p._2 == 9002L)), "tweaked copy not a candidate")
  }

  test("minhash estimate tracks exact shingle Jaccard on candidates") {
    val cands = Dedup.minhashLshPortable(spark, SfDir).limit(20)
    val docs = graft.sources.Tables.load(spark, SfDir, "documents")
    val gr = docs.select(col("doc_id"), array_distinct(TextFunctions.tokens(
      col("text"))).as("tok"))
    // exact token-set Jaccard is a loose proxy for 2-shingle Jaccard;
    // require positive correlation: est>=0.9 pairs must share most tokens
    val hi = cands.filter(col("est_jaccard") >= 0.9)
      .join(gr.select(col("doc_id").as("a"), col("tok").as("ta")), "a")
      .join(gr.select(col("doc_id").as("b"), col("tok").as("tb")), "b")
      .withColumn("tokJ", TextFunctions.jaccard(col("ta"), col("tb")))
    val rows = hi.select("tokJ").as[Double].collect()
    assert(rows.forall(_ > 0.5), s"high-est pair with low token overlap: ${rows.toSeq}")
  }

  test("minhashLshOn over documents returns the dedup_minhash query's rows") {
    val docs = graft.sources.Tables.load(spark, SfDir, "documents")
    val viaFrame = Dedup.minhashLshOn(docs).collect().toSeq
    val viaQuery = SparkEntry.queries("dedup_minhash")(spark, SfDir)
      .collect().toSeq
    assert(viaFrame.nonEmpty)
    assert(viaFrame === viaQuery)
  }

  test("simhash ranks a planted near-dup above unrelated docs") {
    val got = Dedup.simhashPortable(spark, SfDir).limit(20).collect()
    assert(got.nonEmpty)
    // hamming distances are sorted ascending and within [0, 64]
    val h = got.map(_.getInt(2)).toSeq
    assert(h === h.sorted && h.forall(d => d >= 0 && d <= 64))
  }

  test("applyNearDedup keeps first occurrence, drops planted copies") {
    val real = graft.sources.Tables.load(spark, SfDir, "documents")
    val d0 = real.filter(col("doc_id") === 0).select("text").as[String].collect()(0)
    val planted = real.select("doc_id", "text")
      .unionByName(Seq((9001L, d0), (9002L, d0)).toDF("doc_id", "text"))
    val kept = Dedup.applyNearDedup(planted, threshold = 0.95)
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    assert(keptIds.contains(0L), "original dropped")
    assert(!keptIds.contains(9001L) && !keptIds.contains(9002L),
      "planted copies survived")
  }

  test("no dedup plan contains a cartesian product or nested-loop join") {
    for (df <- Seq(SparkEntry.queries("dedup_minhash")(spark, SfDir),
        SparkEntry.queries("dedup_simhash")(spark, SfDir),
        Dedup.ngramJaccard(spark, SfDir))) {
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"), plan.take(1500))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    }
  }

  test("building the gram index drops the legacy unversioned table") {
    val key = graft.sources.StagePath.key(SfDir)
    val legacy = s"graft_gram_index_$key"
    spark.sql(s"DROP TABLE IF EXISTS graft_gram_index_codes_$key")
    spark.range(3).toDF("a").write.mode("overwrite").saveAsTable(legacy)
    assert(spark.catalog.tableExists(legacy))
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    assert(new java.io.File(wh, legacy).exists())
    assert(Dedup.buildGramIndex(spark, SfDir) ===
      s"graft_gram_index_codes_$key")
    assert(!spark.catalog.tableExists(legacy))
    assert(!new java.io.File(wh, legacy).exists())
  }
}
