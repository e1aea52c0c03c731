package graft

import graft.operators.Search

/** Keyword-search tests (SURVEY.md §2 #76, #78): term statistics
  * against hand-counts and the BM25 ranking properties (tf monotone,
  * idf discounts common terms, length normalization). */
class SearchSpec extends SparkTestBase {
  import spark.implicits._

  test("term_stats df/cf/idf match hand-computed values") {
    val docs = graft.sources.Tables.load(spark, SfDir, "documents")
      .select("doc_id", "text")
      .as[(Long, String)].collect()
    val n = docs.length
    val tokenized = docs.map { case (_, t) =>
      t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    }
    val want = tokenized.flatten.groupBy(identity).map { case (term, all) =>
      val df = tokenized.count(_.contains(term))
      val idf = math.log(1.0 + ((n - df).toDouble + 0.5) / (df.toDouble + 0.5))
      term -> (df.toLong, all.length.toLong,
        BigDecimal(idf).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = Search.termStats(spark, SfDir)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got == want)
  }

  test("bm25 ranking: higher tf wins at equal length; scores positive") {
    val rows = Search.bm25Search(spark, SfDir)
      .as[(Long, Long, Double, Long)].collect()
    assert(rows.length == math.min(Search.TopK, 50))
    assert(rows.map(_._1).toSeq == (1L to rows.length).toSeq, "dense ranks")
    assert(rows.forall(_._3 > 0.0), "all top-k scores positive")
    val scores = rows.map(_._3)
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      "scores non-increasing by rank")
  }

  test("bm25 saturates tf and normalizes length (synthetic corpus)") {
    import org.apache.spark.sql.functions._
    // build a corpus where doc 1 has the query term once, doc 2 five
    // times at the same length, doc 3 once in a much longer doc
    val pad = (1 to 20).map(i => s"w$i").mkString(" ")
    val longPad = (1 to 200).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"vector $pad"),
      (2L, ("vector " * 5) + pad.split(" ").take(16).mkString(" ")),
      (3L, s"vector $longPad"),
      (4L, pad)
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val tmp = tempDir("bm25spec")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Search.bm25Search(spark, tmp)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => r._2 -> r._3).toMap
    assert(out(2L) > out(1L), "tf 5 beats tf 1 at comparable length")
    assert(out(1L) > out(3L), "short doc beats long doc at equal tf")
    assert(!out.contains(4L) || out(4L) == 0.0, "no-match doc scores 0")
    // saturation: five occurrences score less than 5x one occurrence
    assert(out(2L) < 5.0 * out(1L), "tf saturates below linear")
  }

  test("hybrid_search: RRF scores reconstruct from the source ranks " +
    "and every fused doc comes from a source list") {
    import org.apache.spark.sql.functions.col
    val out = Search.hybridSearch(spark, SfDir).collect()
    assert(out.length === Search.HybridTopK)
    val bmDocs = Search.bm25Search(spark, SfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    out.foreach { r =>
      val (rText, rVec) =
        (Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]))
      // provenance: at least one list contributed, and a text rank
      // implies bm25 membership
      assert(rText.isDefined || rVec.isDefined)
      rText.foreach(_ => assert(bmDocs.contains(r.getLong(1))))
      // the fused score is exactly the RRF of the carried ranks
      val expected = BigDecimal(
        rText.map(t => 1.0 / (Search.RrfK + t)).getOrElse(0.0) +
          rVec.map(v => 1.0 / (Search.RrfK + v)).getOrElse(0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(2) === expected)
    }
    // fused order is descending and rnk is 1..K
    assert(out.map(_.getLong(0)).toSeq === (1L to out.length).toSeq)
    assert(out.map(_.getDouble(2)).toSeq.reverse.sorted.reverse ===
      out.map(_.getDouble(2)).toSeq)
  }
}
