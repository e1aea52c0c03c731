package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dimensional, Search, TrainExport}

/** Round-15 batch G (SURVEY.md §2 #201-203): Kaplan-Meier survival,
  * keyword extraction, feature hashing. The KM test constructs a
  * churn-rich synthetic stream (the driver corpus censors almost
  * everyone) and checks the estimator against a plain-Scala KM. */
class SurvivalFeatureSpec extends SparkTestBase {
  import spark.implicits._

  private def eventsDir(rows: Seq[(Long, Long, Long)]): String = {
    // (event_id, day, user) → events.parquet rows at midday
    val base = java.time.Instant.parse("2024-01-01T12:00:00Z")
      .toEpochMilli * 1000L
    val dir = tempDir("graft_surv")
    rows.toDF("event_id", "day", "user_id")
      .select(col("event_id"),
        timestamp_micros(col("day") * 86400000000L + base).as("ts"),
        col("user_id"), lit("click").as("event_type"),
        lit(1.0).as("value"), lit("p").as("props"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("KM estimator matches a plain-Scala Kaplan-Meier on a churn-rich stream") {
    // users: id 1..20, user u active days 0..min(u, 15); corpus max
    // day 15 → users with u < 15 churn at t = u, the rest censored
    val rows = for {
      u <- 1L to 20L
      d <- 0L to math.min(u, 15L)
    } yield (u * 100 + d, d, u)
    val dir = eventsDir(rows)
    val got = Dimensional.survivalCurve(spark, dir).collect()
      .map(r => r.getAs[Long]("t") ->
        (r.getAs[Long]("n_at_risk"), r.getAs[Long]("n_churn"),
          r.getAs[Long]("n_censored"), r.getAs[Double]("survival")))
      .toMap
    // reference KM
    val lifetimes = (1L to 20L).map(u => (math.min(u, 15L), u < 15L))
    val byT = lifetimes.groupBy(_._1).view.mapValues { vs =>
      (vs.count(_._2).toLong, vs.count(!_._2).toLong)
    }.toMap
    val ts = byT.keys.toSeq.sorted
    var lnSum = BigDecimal(0)
    var dead = false
    ts.foreach { t =>
      val (d, c) = byT(t)
      val atRisk = ts.filter(_ >= t).map(s => byT(s)._1 + byT(s)._2).sum
      val surv =
        if (dead || d == atRisk) { dead = true; 0.0 }
        else {
          if (d > 0)
            lnSum += BigDecimal(math.log(1.0 - d.toDouble / atRisk))
              .setScale(9, BigDecimal.RoundingMode.HALF_UP)
          BigDecimal(math.exp(lnSum.toDouble))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      assert(got(t) === ((atRisk, d, c, surv)), s"t=$t")
    }
    // survival is monotone non-increasing
    val sv = ts.map(got(_)._4)
    assert(sv.zip(sv.tail).forall { case (a, b) => b <= a + 1e-9 })
  }

  test("keyword extraction: scores exact, rare terms beat common ones") {
    val out = Search.keywordExtract(spark, SfDir).collect()
    val byDoc = out.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (_, rs) =>
      assert(rs.length <= Search.KeywordsPerDoc)
      val ranked = rs.sortBy(_.getAs[Long]("rnk"))
      val scores = ranked.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => b <= a })
    }
    val n = spark.read.parquet(s"$SfDir/documents.parquet")
      .filter(col("text").isNotNull).count()
    out.foreach { r =>
      val idf9 = BigDecimal(math.log(n.toDouble / r.getAs[Long]("df")))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      val score = (BigDecimal(r.getAs[Long]("tf")) * idf9)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("score") === score)
    }
  }

  test("feature hashing: mass conserved, buckets within width") {
    val rows = TrainExport.featureHashing(spark, SfDir).collect()
    val nEvents = spark.read.parquet(s"$SfDir/events.parquet").count()
    assert(rows.map(_.getAs[Long]("n_rows")).sum === nEvents * 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("bucket") >= 0
        && r.getAs[Long]("bucket") < TrainExport.HashBuckets)
      assert((r.getAs[Long]("has_collision") == 1L) ===
        (r.getAs[Long]("n_values") > 1L))
    }
  }
}
