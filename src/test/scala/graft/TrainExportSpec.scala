package graft

import org.apache.spark.sql.functions._
import graft.operators.{Components, Dedup, TrainExport}
import graft.sources.Tables

/** Training-set export operators (#121-123): leakage-freedom of the
  * cluster split, round-trip + ordering of the shuffle export, and
  * the temperature-rebalance arithmetic of the mixture sample. */
class TrainExportSpec extends SparkTestBase {

  test("cluster_split: no near-dup pair straddles a split (and the " +
    "property is non-vacuous)") {
    val split = TrainExport.clusterSplit(spark, SfDir).cache()
    val docs = Tables.load(spark, SfDir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs)
      .filter(col("jac") >= Components.EdgeThreshold)
      .select("a", "b")
    // leakage check: join each edge's two endpoints to their splits
    val sa = split.select(col("doc_id").as("a"), col("split").as("sa"))
    val sb = split.select(col("doc_id").as("b"), col("split").as("sb"))
    val straddling = pairs.join(sa, "a").join(sb, "b")
      .filter(col("sa") =!= col("sb")).count()
    assert(straddling === 0L)
    // non-vacuous: the corpus has at least one genuine near-dup pair,
    // and a DOC-level hash split would sometimes separate them (the
    // failure mode this operator exists to rule out is reachable)
    assert(pairs.count() > 0L)
    // every doc appears exactly once with a valid label
    val n = docs.count()
    assert(split.count() === n)
    assert(split.filter(!col("split").isin("train", "val", "test"))
      .count() === 0L)
    // all members of each component share the component's label
    val comps = split.groupBy("comp_id")
      .agg(countDistinct("split").as("nsp"))
    assert(comps.filter(col("nsp") =!= 1).count() === 0L)
    split.unpersist()
  }

  test("corpus_shuffle: shards partition the corpus, stats match the " +
    "closed form, and the written files are physically key-ordered") {
    val docs = Tables.load(spark, SfDir, "documents")
    val out = TrainExport.corpusShuffle(spark, SfDir).collect()
    assert(out.map(_.getLong(1)).sum === docs.count())
    assert(out.length === TrainExport.NumShards)
    // deterministic: a second run (which rewrites the shards) agrees
    val again = TrainExport.corpusShuffle(spark, SfDir).collect()
    assert(out.toSeq === again.toSeq)
    // physical ordering contract: a shard file's rows, as the query's
    // export step writes them, come back in shuffle-key order WITHOUT
    // any sort on the read path, and pos is the contiguous 1..n rank
    // the closed form assigns
    val root = java.nio.file.Paths.get(tempDir("shufflespec"))
    TrainExport.exportShards(spark, SfDir, s"$root/shards")
    val one = spark.read.parquet(s"$root/shards/shard=0")
      .select("skey", "pos").collect()
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    assert(one.nonEmpty)
    assert(one.map(_.getLong(0)).toSeq ===
      one.map(_.getLong(0)).sortBy(identity).toSeq)
    assert(one.map(_.getLong(1)).toSeq === (1L to one.length).toSeq)
  }

  test("mixture_sample: temperature rebalance flattens the head and " +
    "hits the budget") {
    val docs = Tables.load(spark, SfDir, "documents")
    val n = docs.count()
    val out = TrainExport.mixtureSample(spark, SfDir).collect()
    val byLang = out.map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3))).toSeq
    // thresholds are valid 1e-6-grid rates; kept ⊆ population
    assert(byLang.forall { case (_, nl, thr, kept) =>
      thr >= 0L && thr <= TrainExport.MixScale && kept <= nl })
    // budget: realized total within 20% of the target N/2 (hash
    // uniformity at 500 docs)
    val kept = byLang.map(_._4).sum.toDouble
    val target = n * TrainExport.MixFraction
    assert(math.abs(kept - target) / target < 0.20,
      s"kept=$kept target=$target")
    // temperature property: keep rate is monotone DECREASING in
    // language size (α = 0.5 ⇒ rate ∝ 1/√n below saturation) — the
    // head is downsampled hardest, the tail least
    val byN = byLang.sortBy(_._2)
    assert(byN.map(_._3).reverse === byN.map(_._3).reverse.sorted,
      s"thresholds not inverse-ordered with n: $byN")
    // and the rebalance is real: the head's rate is materially below
    // the tail's
    assert(byN.last._3 < byN.head._3)
    // determinism
    val again = TrainExport.mixtureSample(spark, SfDir).collect()
    assert(out.toSeq === again.toSeq)
  }

  test("balance_buckets: buckets partition the corpus and token " +
    "totals are near-equal (snake schedule)") {
    val docs = Tables.load(spark, SfDir, "documents")
    val out = TrainExport.balanceBuckets(spark, SfDir).collect()
    assert(out.length === TrainExport.NumBuckets)
    assert(out.map(_.getLong(1)).sum === docs.count())
    // balance: every bucket's token total within max-doc-tokens of
    // every other (the snake bound per 2B-doc round, telescoped)
    val sums = out.map(_.getLong(2))
    val maxDoc = out.map(_.getLong(3)).max
    assert(sums.max - sums.min <= maxDoc,
      s"imbalance ${sums.max - sums.min} > max doc $maxDoc")
    // determinism
    val again = TrainExport.balanceBuckets(spark, SfDir).collect()
    assert(out.toSeq === again.toSeq)
  }
}
