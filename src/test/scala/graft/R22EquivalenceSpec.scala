package graft

import org.apache.spark.sql.functions._

/** Round-22 operator-rewrite equivalence pins, on the real sf0.001
  * corpus: each rewritten query must equal its round-21 form
  * row-for-row (the value gate is the DuckDB oracle; these pin the
  * two FORMS to each other so the rewrite can never change what the
  * query computes). */
class R22EquivalenceSpec extends SparkTestBase {

  test("dedup_curve: hoisted-norm cosine equals the kernel form") {
    import graft.operators.Similarity
    def curve(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    // reference: the CosineSim-kernel pair scan over the same sample
    val e = Similarity.emb(spark, SfDir)
      .filter(col("vec_id") < Similarity.CurveSample)
    val pairs = e.select(col("vec_id").as("ia"), col("vec").as("va"))
      .join(e.select(col("vec_id").as("ib"), col("vec").as("vb")),
        col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        round(graft.functions.VectorFunctions.cosine(col("va"), col("vb")),
          6).as("c"))
      .localCheckpoint()
    val ref = Similarity.CurveThresholds.map { t =>
      val q = pairs.filter(col("c") >= t)
      val nDocs = q.select(col("ia").as("v"))
        .union(q.select(col("ib").as("v"))).distinct().count()
      (t, q.count(), nDocs)
    }
    val got = curve(Similarity.dedupCurve(spark, SfDir))
    assert(got === ref)
    assert(got.exists(_._2 > 0))
  }

  test("triangle_count closing plan carries the merge-intersect kernel, not array_intersect") {
    // the tally checkpoint truncates triangleCount's own explain, so
    // assert on the extracted pre-checkpoint triple stream — both
    // gate branches
    val adjO = graft.operators.Components.orientedAdjacency(spark, SfDir)
    Seq(0L, Long.MaxValue).foreach { gate =>
      val tris = graft.operators.Components.triangleTriples(adjO,
        mEdges = gate)
      val plan = tris.queryExecution.analyzed.toString()
      assert(plan.toLowerCase.contains("sortedlongintersect"))
      assert(!plan.toLowerCase.contains("array_intersect"))
    }
    // and the two branches agree with each other on the real corpus
    val bc = graft.operators.Components.triangleTriples(adjO, 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val sh = graft.operators.Components
      .triangleTriples(adjO, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(bc === sh)
    assert(bc.nonEmpty)
  }

  test("itemset_3: combinations form equals the triple self-join") {
    val now = graft.operators.Analytics.itemset3(spark, SfDir)
      .collect().toSeq
    // round-21 reference form, inline
    val lines = graft.operators.Components.basketLines(spark, SfDir)
    val a = lines.select(col("l_orderkey"), col("l_partkey").as("pa"))
    val b = lines.select(col("l_orderkey"), col("l_partkey").as("pb"))
    val c = lines.select(col("l_orderkey"), col("l_partkey").as("pc"))
    val ref = a.join(b, "l_orderkey").filter(col("pa") < col("pb"))
      .join(c, "l_orderkey").filter(col("pb") < col("pc"))
      .groupBy("pa", "pb", "pc")
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("pa").asc, col("pb").asc,
        col("pc").asc)
      .limit(20).collect().toSeq
    assert(now === ref)
    assert(now.nonEmpty)
  }
}
