package graft

import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin

/** Two-level as-of decomposition (round 14): proven equal to the
  * single-window merge sort — on the testdata shape AND on a
  * 90%-one-key corpus with equal-timestamp build pile-ups (the tie
  * machinery must survive the block summaries). The value gate is
  * the asof_join/asof_tolerance/scd2_lookup oracles (hash-exact). */
class AsOfTwoLevelSpec extends SparkTestBase {
  import spark.implicits._

  private val dayUs = 86400L * 1000000L

  private def tsOf(us: Long) = new java.sql.Timestamp(us / 1000L)

  /** Hot key 7 with dense builds+probes across many days, including
    * equal-ts build ties; cold keys with probe-only days (carry must
    * cross build-free blocks). Deterministic arithmetic times. */
  private lazy val (probe, build) = {
    val probes = (0 until 3000).map { i =>
      val uid = if (i % 10 < 9) 7L else 100L + (i % 7)
      (i.toLong, uid, tsOf(i.toLong * 2777L * 1000000L))
    }.toDF("event_id", "user_id", "ts")
    val builds = (0 until 1200).flatMap { i =>
      val uid = if (i % 10 < 9) 7L else 100L + (i % 7)
      val us = i.toLong * 6917L * 1000000L
      // every 5th build has an equal-ts twin — the tie policy
      // (buildOrder winner) must survive the two-level summaries
      val base = Seq((uid, tsOf(us), (i % 97).toDouble))
      if (i % 5 == 0) base :+ ((uid, tsOf(us), (i % 89).toDouble + 0.5))
      else base
    }.toDF("user_id", "ts", "v")
    (probes, builds)
  }

  test("two-level as-of equals the single window (skewed, with ties)") {
    val a = AsOfJoin.asOfImpl(probe, build, "user_id", "ts",
        Seq("v"), Seq(col("v")), twoLevel = true)
      .select("event_id", "v").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val b = AsOfJoin.asOfImpl(probe, build, "user_id", "ts",
        Seq("v"), Seq(col("v")), twoLevel = false)
      .select("event_id", "v").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(a === b)
    // the corpus exercises both the null (pre-first-build) and the
    // cross-block carry paths
    assert(a.values.exists(_.isEmpty) || a.size < 3000,
      "no early probes") // early probes may all match at this density
    assert(a.values.count(_.nonEmpty) > 2000)
  }

  test("carry crosses build-free day blocks") {
    // one build on day 0; probes on days 3 and 5 only
    val p2 = Seq((1L, 1L, tsOf(3L * dayUs + 17L)),
      (2L, 1L, tsOf(5L * dayUs + 23L))).toDF("event_id", "user_id", "ts")
    val b2 = Seq((1L, tsOf(1000L), 42.0)).toDF("user_id", "ts", "v")
    val out = AsOfJoin.asOf(p2, b2, "user_id", "ts", Seq("v"))
      .select("event_id", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out === Map(1L -> 42.0, 2L -> 42.0))
  }

  test("a probe with a null key stays in the output on both routes") {
    val p3 = Seq((1L, None, tsOf(dayUs)), (2L, Some(1L), tsOf(dayUs)))
      .toDF("event_id", "user_id", "ts")
    val b3 = Seq((1L, tsOf(1000L), 5.0)).toDF("user_id", "ts", "v")
    for (twoLevel <- Seq(true, false)) {
      val out = AsOfJoin.asOfImpl(p3, b3, "user_id", "ts", Seq("v"), Nil,
          twoLevel).select("event_id", "v").collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toMap
      assert(out === Map(1L -> None, 2L -> Some(5.0)), s"twoLevel=$twoLevel")
    }
  }
}
