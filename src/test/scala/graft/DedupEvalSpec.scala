package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Dedup, Dimensional}

/** Round-15 batch D (SURVEY.md §2 #189-192): LSH evaluation,
  * stickiness, item-item CF and containment dedup. */
class DedupEvalSpec extends SparkTestBase {
  import spark.implicits._

  test("lsh_eval: metric algebra holds; df cap loses no ground-truth positive here") {
    val r = Dedup.lshEval(spark, SfDir).collect().head
    val (nPos, nCand, tp) = (r.getAs[Long]("n_pos"),
      r.getAs[Long]("n_cand"), r.getAs[Long]("tp"))
    assert(tp <= math.min(nPos, nCand))
    assert(r.getAs[Long]("fp") === nCand - tp)
    assert(r.getAs[Long]("fn") === nPos - tp)
    // brute-force ground truth (no df cap) over the bounded corpus:
    // the capped index must surface every J>=1/2 pair at this SF
    val docs = spark.read.parquet(s"$SfDir/documents.parquet")
      .filter(col("text").isNotNull)
      .select("doc_id", "text").as[(Long, String)].collect()
    def shingles(t: String): Set[String] = {
      val toks = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> shingles(t) }
      .filter(_._2.nonEmpty)
    val brute = (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      (a, sa) = sets(i); (b, sb) = sets(j)
      inter = (sa & sb).size
      if inter * Dedup.EvalJacNum >= (sa.size + sb.size - inter)
    } yield 1).size.toLong
    assert(nPos === brute)
  }

  test("stickiness matches a plain-Scala rolling-distinct recompute") {
    val ud = graft.sources.Tables.load(spark, SfDir, "events")
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000"))
      .distinct().as[(Long, Long)].collect()
    val byDay = ud.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val out = Dimensional.stickiness(spark, SfDir).collect()
    assert(out.length === byDay.size)
    out.foreach { r =>
      val d = r.getAs[Long]("day")
      val dau = byDay(d).size.toLong
      val wau = (d - 6 to d).flatMap(byDay.getOrElse(_, Set.empty))
        .toSet.size.toLong
      assert(r.getAs[Long]("dau") === dau, s"day $d")
      assert(r.getAs[Long]("wau") === wau, s"day $d")
      assert(r.getAs[Long]("stickiness_ppm") === dau * 1000000L / wau)
      assert(dau <= wau)
    }
  }

  test("item_cf: scores match a direct recompute, ordering deterministic") {
    val lines = spark.read.parquet(s"$SfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey").distinct()
      .as[(Long, Long)].collect()
    val cnt = lines.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val support = lines.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = support.toSeq.map { case ((a, b), s) =>
      val sim = BigDecimal(s.toDouble / math.sqrt((cnt(a) * cnt(b)).toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (a, b, s, sim)
    }.sortBy { case (a, b, _, sim) => (-sim, a, b) }.take(20)
    val got = Analytics.itemCf(spark, SfDir).collect()
      .map(r => (r.getAs[Long]("pa"), r.getAs[Long]("pb"),
        r.getAs[Long]("support"), r.getAs[Double]("cosine_sim")))
    assert(got.toSeq === expected.map(e => (e._1, e._2, e._3, e._4)))
  }

  test("containment flags a planted sub-document pair Jaccard misses") {
    val dir = tempDir("graft_contain")
    // within the ±ContainBlkSpan length-block fan-out (Δchars ≤ ~100)
    val short = "market analysts watch quarterly earnings reports"
    val long = "the quick brown fox jumps over the lazy dog " +
      short + " " + short
    Seq(
      (1L, long, "en", "news", long.length.toLong),
      (2L, short, "en", "news", short.length.toLong),
      (3L, "completely unrelated text about gardening tulips",
        "en", "news", 47L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.containmentPairs(spark, dir).collect()
    val pair = rows.find(r => r.getAs[Long]("a") == 1L
      && r.getAs[Long]("b") == 2L)
    assert(pair.isDefined, "short-inside-long pair not flagged")
    val p = pair.get
    // the short doc is (nearly) fully contained; Jaccard would be low
    assert(p.getAs[Double]("cont_b") >= 0.9)
    val jac = p.getAs[Long]("inter").toDouble /
      (p.getAs[Long]("na") + p.getAs[Long]("nb") -
        p.getAs[Long]("inter")).toDouble
    assert(jac < Dedup.ContainMin)
    assert(!rows.exists(r => r.getAs[Long]("b") == 3L))
  }

  test("containment block cap drops an oversized 90%-one-block " +
    "population from the length-banded screen, small blocks " +
    "unaffected (VERDICT r16 #3)") {
    val dir = tempDir("graft_contain_cap")
    // 12 near-identical docs land in ONE (en, news, blk) block —
    // fixed-width suffixes keep every n_chars equal, and the shared
    // prefix keeps pairwise containment >= 0.8 (the quadratic shape
    // the cap exists for). Two much longer docs form a small healthy
    // block (|delta blk| = 9 > span, so no cross-block candidates)
    // holding a genuine containment pair.
    val base = "market analysts watch quarterly earnings reports"
    val hot = (10L to 21L).map(i => (i, f"$base copy ${i}%02d", "en",
      "news", (base.length + 8).toLong))
    val small1 = "abcdefghij " * 21
    val small2 = small1.dropRight(2)
    val docs = hot ++ Seq(
      (1L, small1, "en", "news", small1.length.toLong),
      (2L, small2, "en", "news", small2.length.toLong))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def hotPair(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("a") >= 10L && r.getAs[Long]("b") >= 10L
    def smallPair(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("a") == 1L && r.getAs[Long]("b") == 2L
    // default cap (4096): nothing dropped — the hot block pairs
    // normally, proving the guard (not the band) removes them below
    val uncapped = Dedup.containmentPairs(spark, dir).collect()
    assert(uncapped.count(hotPair) == 12 * 11 / 2,
      "hot block should pair fully when under the cap")
    assert(uncapped.exists(smallPair))
    // cap 10 < hot population 12: the oversized block is excluded
    // (logged at guard build), the small block is untouched
    val capped = Dedup.containmentPairsWith(spark, dir, 10L).collect()
    assert(!capped.exists(hotPair),
      "oversized block must be dropped from the capped screen")
    assert(capped.exists(smallPair))
  }

  test("containment_content catches a quote inside a far longer " +
    "article the length-band form structurally misses") {
    val dir = tempDir("graft_contain_content")
    val quote = "market analysts watch quarterly earnings reports " +
      "closely every single season"
    // filler of UNIQUE tokens so no filler bigram repeats anywhere
    // (df=1 → never an anchor); length delta vs the quote is ~600
    // chars, far outside containmentPairs' ±(span+1)*20 ≈ 120 window
    val filler = (1 to 80).map(i => s"filler$i").mkString(" ")
    val article = filler + " " + quote + " " +
      (81 to 160).map(i => s"filler$i").mkString(" ")
    Seq(
      (1L, article, "en", "news", article.length.toLong),
      (2L, quote, "en", "news", quote.length.toLong),
      (3L, "completely unrelated text about gardening tulips",
        "en", "news", 47L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the length-band form cannot see the pair
    val banded = Dedup.containmentPairs(spark, dir).collect()
    assert(!banded.exists(r => r.getAs[Long]("a") == 1L
      && r.getAs[Long]("b") == 2L),
      "length-band form unexpectedly surfaced the asymmetric pair")
    // the content-keyed form must flag it with full quote containment
    val rows = Dedup.containmentContent(spark, dir).collect()
    val pair = rows.find(r => r.getAs[Long]("a") == 1L
      && r.getAs[Long]("b") == 2L)
    assert(pair.isDefined, "quote-inside-article pair not flagged")
    val p = pair.get
    // every distinct quote bigram appears in the article verbatim
    assert(p.getAs[Double]("cont_b") === 1.0)
    // ... while symmetric Jaccard is tiny (the measure #22 uses)
    val jac = p.getAs[Long]("inter").toDouble /
      (p.getAs[Long]("na") + p.getAs[Long]("nb") -
        p.getAs[Long]("inter")).toDouble
    assert(jac < 0.2)
    assert(!rows.exists(r => r.getAs[Long]("a") == 3L
      || r.getAs[Long]("b") == 3L))
  }
}
