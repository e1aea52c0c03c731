package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFunctions

/** End-to-end corpus curation (SURVEY.md §2 #81): the composed
  * pipeline a training-data team actually ships — quality gate →
  * language filter → exact dedup → per-source cap → split assignment
  * → release accounting — built entirely from the already-verified
  * stage operators, demonstrating that the pieces compose into one
  * Catalyst plan (single job, no intermediate materialization).
  *
  * Scale shape (§5): ONE corpus scan computes the per-doc quality,
  * language, and content-hash columns (codegen'd kernels + sha2) and
  * reduces each doc to a scalars-only metadata row (~40 B/doc),
  * materialized via localCheckpoint — every later stage (dedup
  * keep-set, cap, split, accounting) runs off that table, so the
  * lazy-plan alternative of re-scanning and re-tokenizing the corpus
  * once per consuming branch (8 scans in the composed plan) never
  * happens. The cap rides the bounded-heap TopKAgg (O(cap) state per
  * source); split assignment is a pure per-row projection; the final
  * accounting is one map-side-combined aggregate. Nothing in the
  * composition adds state proportional to a hot group.
  */
object Curation {

  /** Quality gate: minimum whitespace-token count (the short-doc
    * filter every mix applies). */
  val MinTokens = 20
  /** Languages admitted to the mix. */
  val Langs: Seq[String] = Seq("en", "es")

  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"),
        TextFunctions.tokenCounts(col("text")).getField("ws")
          .cast("long").as("n_tok"),
        TextFunctions.langId(col("text")).as("pred_lang"))
    // stage 1+2: quality + language gates, then reduce every
    // surviving doc to scalars (text itself is not needed past the
    // content hash) and materialize — the single corpus scan
    val meta = docs
      .filter(col("n_tok") >= MinTokens && col("pred_lang").isin(Langs: _*))
      .select(col("doc_id"), col("source"), col("n_tok"),
        sha2(col("text"), 256).as("h"))
      .localCheckpoint()
    // stage 3: exact dedup — keep the min doc_id per content hash
    val keeps = meta
      .groupBy("h").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val deduped = meta.join(keeps, "doc_id")
    // stage 4: per-source cap, same deterministic hash order as #65
    val capped = deduped
      .groupBy(col("source"))
      .agg(graft.functions.AggFunctions.topK(
        -Sampling.hashKey(col("doc_id")).cast("double"), col("doc_id"),
        Sampling.GroupCapN).as("top"))
      .select(col("source"), explode(col("top")).as("t"))
      .select(col("source"), col("t.id").as("doc_id"))
      .join(deduped.select("doc_id", "n_tok"), "doc_id")
    // stage 5+6: split assignment + release accounting
    capped
      .withColumn("split", Sampling.splitLabel(col("doc_id")))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
      .orderBy("source", "split")
  }

  /** #125 Curation audit — per-document drop lineage: for EVERY
    * document, which pipeline stage removed it (or `kept`). The
    * operational counterpart of [[curationPipeline]]'s release
    * accounting: "why is my document not in the training set?" is
    * the first question a data owner asks, and at 100 TB you cannot
    * answer it by re-running the pipeline with print statements. The
    * verdict is the FIRST failing stage in pipeline order —
    * `quality` (token gate) → `language` → `duplicate` (not the
    * min-id keeper of its content-hash group) → `source_cap` (lost
    * the per-source deterministic-hash lottery) → `kept`, so the
    * audit composes exactly with the pipeline's own keep set: the
    * `kept` rows here ARE its release. Fully oracled per doc.
    *
    * Scale: identical shape to the pipeline itself (one scan to
    * scalars, hash-keyed dedup, bounded-heap cap) plus two id-keyed
    * left joins of keep-markers back to the metadata table. */
  def curationAudit(spark: SparkSession, dir: String): DataFrame = {
    val meta = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextFunctions.tokenCounts(col("text")).getField("ws")
          .cast("long").as("n_tok"),
        TextFunctions.langId(col("text")).as("pred_lang"),
        sha2(col("text"), 256).as("h"))
      .localCheckpoint()
    val gated = meta.filter(col("n_tok") >= MinTokens &&
      col("pred_lang").isin(Langs: _*))
    // keep-markers are ID SETS, unique by construction: dup_ok comes
    // straight off the per-hash min (one row per distinct content),
    // cap_ok is deduplicated after the bounded-heap explode. Marker
    // uniqueness is a correctness requirement of the left joins below
    // — a marker with duplicate ids would multiply audit rows (and
    // under a pathological id-duplicated corpus, quadratically)
    val dupKeeps = gated.groupBy("h").agg(min(col("doc_id")).as("keep_id"))
    val dupOk = dupKeeps
      .select(col("keep_id").as("doc_id"), lit(1L).as("dup_ok"))
    val deduped = gated.join(dupOk.select("doc_id"), "doc_id")
    val capOk = deduped.groupBy(col("source"))
      .agg(graft.functions.AggFunctions.topK(
        -Sampling.hashKey(col("doc_id")).cast("double"), col("doc_id"),
        Sampling.GroupCapN).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.id").as("doc_id"), lit(1L).as("cap_ok"))
      .dropDuplicates("doc_id")
    meta.join(dupOk, Seq("doc_id"), "left")
      .join(capOk, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("pred_lang"),
        when(col("n_tok") < MinTokens, "quality")
          .when(!col("pred_lang").isin(Langs: _*), "language")
          .when(col("dup_ok").isNull, "duplicate")
          .when(col("cap_ok").isNull, "source_cap")
          .otherwise("kept").as("verdict"))
      .orderBy("doc_id")
  }

  /** Keep the top `ceil(3n/5)` (60%) of each language by quality. */
  val QualityKeepNum = 3L
  val QualityKeepDen = 5L
  /** Score-block granularity for the two-level rank (score ∈ [0,1]
    * → 21 blocks at 0.05 width). */
  val QualityScoreBlocks = 20

  /** #207 Quality-gate threshold sweep — the keep-rate curve read
    * BEFORE fixing a quality cutoff (the quality-side twin of #175's
    * dedup curve): for stopword-ratio thresholds 0%..50% in 5%
    * steps, how many documents and characters survive. Every
    * membership test is the cross-multiplied INTEGER comparison
    * 20·n_stop ≥ t20·n_tok (t20 = threshold in twentieths — no
    * float ratio anywhere), so the curve is engine-exact. One scan →
    * per-doc integer stats → an 11-cell threshold explode over the
    * per-doc rows → map-side-combined aggregate. */
  def qualityCurve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        TextFunctions.qualityStruct(col("text")).as("s"))
      .select(col("doc_id"), col("n_chars"),
        col("s.n_tok").as("n_tok"), col("s.n_stop").as("n_stop"))
    docs
      .select(col("n_chars"), col("n_tok"), col("n_stop"),
        explode(sequence(lit(0L), lit(10L))).as("t20h"))
      .groupBy((col("t20h") * 5L).as("threshold_pct"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_stop") * 20L >= col("t20h") * col("n_tok"))
          .cast("long")).as("n_kept"),
        sum(when(col("n_stop") * 20L >= col("t20h") * col("n_tok"),
          col("n_chars")).otherwise(0L)).as("kept_chars"))
      .select(col("threshold_pct"), col("n_docs"), col("n_kept"),
        col("kept_chars"),
        expr("n_kept * 1000000 div n_docs").as("keep_ppm"))
      .orderBy("threshold_pct")
  }

  /** #126 Per-language quality-percentile gate: keep the top 60% of
    * each language by stopword-ratio score — the relative-quality
    * curation move ("keep the best X% per language", FineWeb-style)
    * as opposed to [[curationPipeline]]'s absolute token gate.
    *
    * Exact-rank semantics without the naive plan's failure mode: a
    * `row_number() OVER (PARTITION BY lang ...)` sorts an entire
    * language in one task — the hot-partition shape that made
    * one-window sessionize 20× slower under skew, and English IS the
    * hot key of every multilingual corpus. Instead the rank is
    * [[Rank.twoLevelRank]]: local row_number inside each (lang,
    * score-block) — bounded windows, parallel across blocks — plus
    * broadcast cumulative block offsets (langs × 21 rows). `floor`
    * is monotone in score, so offset + local rank ≡ the global
    * (score DESC, doc_id ASC) rank, and the DuckDB oracle verifies
    * exactly that equivalence with its single-window form. Keep count is integer arithmetic
    * (`floor((3n+4)/5)` = ceil(0.6n)) — no float membership test. */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextFunctions.qualityStruct(col("text")).as("s"))
      .select(col("doc_id"), col("lang"),
        round(col("s").getField("n_stop").cast("double") /
          col("s").getField("n_tok").cast("double"), 6).as("score"))
    Rank.twoLevelRank(scored, Seq("lang"),
        floor(col("score") * QualityScoreBlocks).cast("long"),
        blkAscending = false, Seq(col("score").desc, col("doc_id").asc),
        "rnk", "n")
      .select(col("doc_id"), col("lang"), col("score"), col("rnk"),
        when(col("rnk") <= floor((lit(QualityKeepNum) * col("n") +
            (QualityKeepDen - 1L)) / lit(QualityKeepDen.toDouble))
          .cast("long"), 1L).otherwise(0L).as("kept"))
      .orderBy("doc_id")
  }
}
