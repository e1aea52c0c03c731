package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Statistical text analysis over the documents corpus: the two
  * filters every published pretraining-data pipeline runs before
  * training — rule-based heuristics (Gopher / C4 style) and n-gram
  * language-model perplexity scoring (CCNet / KenLM style) — plus
  * PMI collocation mining over the same bigram counts. All are
  * engine-exact: the rules are pure integer arithmetic (every ratio
  * threshold is a cross-multiplied integer comparison, never a float
  * divide), and the LM's per-bigram log-probs are quantized to 9 dp
  * before the exact decimal per-doc sum (the drift_psi discipline —
  * a raw double Σ would be partition-order dependent).
  *
  * Reference anchor: the news-title corpus the reference ingests
  * (news_data_to_gcp.py) is exactly the kind of scraped text these
  * gates screen before downstream use; the brief names quality
  * scoring and text analysis as first-class 100 TB pipeline ops.
  */
object LmFilter {

  // ---- Gopher-style rule thresholds (SURVEY §2 #152) ----
  /** Word-count window (Gopher: 50..100k words; scaled to the
    * 10-99-token testdata titles so both tails actually fire). */
  val MinWords = 20L
  val MaxWords = 90L
  /** Mean word length in [3, 10] chars (Gopher rule, exact:
    * 3·n_tok ≤ Σlen ≤ 10·n_tok). */
  val MinMeanLen = 3L
  val MaxMeanLen = 10L
  /** Must contain ≥ 2 distinct function words (Gopher's stop-word
    * presence rule; list restricted to the corpus' closed vocab). */
  val StopWords: Seq[String] = Seq("the", "a", "and", "of", "to")
  val MinStopHits = 2L
  /** Top-token share ≤ 20% (Gopher repetition rule, exact:
    * 5·max_tf ≤ n_tok). */
  val RepMul = 5L

  /** Rule-based document quality audit — one row per document with
    * its measured statistics and a first-failed-rule verdict
    * (`word_count` → `word_length` → `stopword` → `repetition` →
    * `kept`), the same drop-lineage contract as `curation_audit`
    * (#125): "why was my document filtered?" is one query.
    *
    * Scale shape: one token-grain explode → (doc, token) hash
    * aggregate → doc-grain aggregate. Both shuffles are key-hashed
    * at grains that partial-aggregate map-side (a 10⁹-copy
    * boilerplate token collapses in the mapper); no windows, no
    * driver state. All four rules are integer comparisons, so the
    * verdict is bit-identical on any engine and any partitioning. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val toks = docs.select(col("doc_id"),
      explode(filter(split(lower(trim(col("text"))), "\\s+"),
        t => t =!= "")).as("tok"))
    // (doc, token) grain: tf per distinct token — max_tf, the
    // distinct-stopword count, and the char totals all derive from it
    val perTok = toks.groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    val stats = perTok.groupBy("doc_id").agg(
      sum(col("tf")).as("n_tok"),
      max(col("tf")).as("max_tf"),
      sum(col("tf") * length(col("tok"))).as("sum_len"),
      sum(col("tok").isInCollection(StopWords).cast("long")).as("n_stop"))
    stats.select(col("doc_id"), col("n_tok"), col("sum_len"),
        col("max_tf"), col("n_stop"),
        when(col("n_tok") < MinWords || col("n_tok") > MaxWords,
            lit("word_count"))
          .when(col("sum_len") < lit(MinMeanLen) * col("n_tok") ||
              col("sum_len") > lit(MaxMeanLen) * col("n_tok"),
            lit("word_length"))
          .when(col("n_stop") < MinStopHits, lit("stopword"))
          .when(col("max_tf") * RepMul > col("n_tok"), lit("repetition"))
          .otherwise(lit("kept")).as("verdict"))
      .orderBy("doc_id")
  }

  // ---- Bigram-LM perplexity (SURVEY §2 #153) ----
  /** Keep documents whose mean bigram negative log-likelihood is at
    * most this (nats/bigram); sits at the corpus median (~3.39-3.40
    * at every SF), so both verdicts occur everywhere. */
  val NllKeepMax = 3.40

  /** Minimum pair count for [[pmiCollocations]] — PMI is noise for
    * rare pairs (one co-occurrence of two rare words maxes the
    * score); the classic count gate. */
  val PmiMinCount = 10L

  /** #169 Collocation mining — top-20 bigrams by pointwise mutual
    * information (PMI = ln(c₂·N / (ctx₁·ctx₂)), the phrase-mining
    * score): which word pairs co-occur far more than chance. Shares
    * the bigram-count machinery with [[lmPerplexity]]; all ratio
    * operands are exact longs (products bounded: counts² < 2⁶³ at
    * any realistic corpus), ln applied to the one deterministic
    * double ratio and rounded to 6 dp — the bm25/psi discipline.
    * Model tables are vocab-bounded; the only corpus-scale work is
    * the bigram explode + hash aggregate. */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    // the pinned shared bigram-type model (round 15) — steady state
    // touches no corpus-scale data at all
    val c2 = bigramCounts(spark, dir)
    // N as a broadcast one-row aggregate riding the plan (round 21):
    // the `.head()` driver action was one extra job per call for a
    // scalar the scoring join can carry as a column — same exact long
    val nRow = c2.agg(sum(col("c2")).as("__N"))
    val ctx1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val ctx2 = c2.groupBy("w2").agg(sum(col("c2")).as("cr"))
    val scored = c2.filter(col("c2") >= PmiMinCount)
      .join(ctx1, "w1").join(ctx2, "w2")
      .crossJoin(broadcast(nRow))
      .select(col("w1"), col("w2"), col("c2"),
        round(log((col("c2") * col("__N")).cast("double") /
          (col("c1") * col("cr")).cast("double")), 6).as("pmi"))
    // partitionBy(lit(0)): runs over the 20 survivors only
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
    scored.orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(20)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select("rnk", "w1", "w2", "c2", "pmi")
      .orderBy("rnk")
  }

  /** Corpus-keyed bigram-type counts (w1, w2, c2) — the shared MODEL
    * grain of #153 lm_perplexity and #169 pmi_collocations (round 15:
    * each re-exploded the corpus per call to rebuild it). Vocab²-
    * bounded, pinned once per corpus (a CorpusCache frame). */
  private[graft] def bigramCounts(spark: SparkSession,
      dir: String): DataFrame =
    graft.CorpusCache.df(spark, dir, "documents", "bigram_counts") {
      bigramInstances(spark, dir)
        .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    }

  /** Broadcast gate for the bigram-scoring join (round 16, VERDICT
    * r15 #3 — the scd2 `PitBroadcastMaxChain` pattern): when the
    * trained model holds at most this many bigram TYPES, it ships
    * with the plan (~50 B/row → ≤ ~50 MB) and the corpus-scale
    * scoring stream is scored inside its own scan stage — no shuffle
    * of the instance stream at all. Above the gate (an open-domain
    * 100 TB vocab²), the keyed hash join takes over; AQE still plans
    * it. The gate reads one corpus-cached scalar, not a per-call
    * count. */
  val LmBroadcastMaxTypes = 1000000L

  /** Shared (doc, w1, w2) adjacent-pair stream for the LM and PMI
    * operators. */
  private def bigramInstances(spark: SparkSession, dir: String)
      : DataFrame = {
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        filter(split(lower(trim(col("text"))), "\\s+"),
          t => t =!= "").as("toks"))
      .select(col("doc_id"),
        explode(arrays_zip(
          slice(col("toks"), lit(1),
            greatest(size(col("toks")) - 1, lit(0))),
          slice(col("toks"), lit(2),
            greatest(size(col("toks")) - 1, lit(0))))).as("b"))
      .select(col("doc_id"), col("b.0").as("w1"), col("b.1").as("w2"))
  }

  /** Bigram language-model perplexity filter (the CCNet/KenLM
    * quality gate, self-trained): add-one-smoothed bigram model
    * counted over the corpus itself, each document scored by its
    * mean bigram negative log-likelihood, gated at [[NllKeepMax]].
    *
    * Exactness: each distinct bigram's log-prob
    * ln((c₂+1)/(ctx+V)) — a deterministic double of three integer
    * counts — is rounded to 9 dp and carried as decimal(28,9); the
    * per-doc sum is exact decimal, one terminal 6 dp round. Engine-
    * portable by the drift_psi/bm25 precedent (ln only ever inside a
    * value that is quantized before summation).
    *
    * Scale shape: the model is two hash aggregates at bigram-type
    * grain (bounded by vocab², partial-aggregated map-side — the
    * "the the"-style head bigrams collapse in the mapper), pinned
    * once per corpus ([[bigramCounts]]) because ctx counts and
    * scoring both read it; scoring is one bigram-keyed hash join of the instance
    * stream against the model (broadcast-able when the vocab is
    * small; AQE decides) and one doc-grain aggregate. No windows, no
    * driver-side state — V is the single scalar collected, a bounded
    * model artifact like the IVF centroid count. */
  def lmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val toks = docs.select(col("doc_id"),
      filter(split(lower(trim(col("text"))), "\\s+"),
        t => t =!= "").as("toks"))
    // adjacent-pair explode: zip(toks[0..n-2], toks[1..n-1]) — the
    // ONE corpus-scale pass left per call (the scoring stream)
    val bigrams = toks.select(col("doc_id"),
        explode(arrays_zip(
          slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0)))))
          .as("b"))
      .select(col("doc_id"), col("b.0").as("w1"), col("b.1").as("w2"))
    // the pinned shared bigram-type model (round 15)
    val c2 = bigramCounts(spark, dir)
    // vocab size — |distinct unigrams| — WITHOUT a corpus-scale
    // explode: every token type either occurs in some non-final
    // position (⇒ appears as w1 in the pinned model) or only ever
    // document-finally (⇒ it is some doc's last token, a doc-grain
    // projection of the scan). The union is exactly the vocabulary
    // for ANY corpus, including single-token documents. One bounded
    // scalar, corpus-cached like every other route probe.
    def vProbe: Long = c2.select(col("w1").as("tok"))
      .unionByName(toks
        .filter(size(col("toks")) > 0)
        .select(element_at(col("toks"), -1).as("tok")))
      .agg(countDistinct(col("tok"))).head().getLong(0)
    val v = graft.CorpusCache.value(spark, dir, "documents", "lm_vocab")(
      vProbe)
    val ctx = c2.groupBy("w1").agg(sum(col("c2")).as("ctx"))
    val model = c2.join(ctx, "w1")
      .select(col("w1"), col("w2"),
        round(log((col("c2") + 1).cast("double") /
          (col("ctx") + lit(v)).cast("double")), 9)
          .cast("decimal(28,9)").as("q9"))
    // adaptive model shipping (round 16): |bigram types| is a bounded
    // corpus scalar — broadcast the model below the gate so the one
    // corpus-scale pass (the instance stream) never shuffles
    val nTypes = graft.CorpusCache.value(spark, dir, "documents",
      "lm_model_size")(c2.count())
    val modelSide =
      if (nTypes <= LmBroadcastMaxTypes) broadcast(model) else model
    val scored = bigrams.join(modelSide, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_big"),
        (-sum(col("q9"))).as("nll"))
    scored.select(col("doc_id"), col("n_big"),
        round(col("nll").cast("double") / col("n_big"), 6).as("avg_nll"))
      .withColumn("kept", (col("avg_nll") <= NllKeepMax).cast("int"))
      .orderBy("doc_id")
  }

  /** Rank cutoff for the [[zipfFit]] regression (the classic fit is
    * over the head of the distribution; the tail is censored by
    * corpus size and bends the log-log line). */
  val ZipfTopRanks = 100L

  /** #180 Zipf's-law fit per language: token frequencies ranked by
    * the [[Rank.twoLevelRank]] decomposition (the type vocabulary is
    * itself huge at 100 TB — no task sorts a language's vocab), then
    * OLS of ln(freq) on ln(rank) over the top [[ZipfTopRanks]] ranks.
    * The fitted slope (≈ −1 for natural text) is the corpus-health
    * check a tokenizer/quality pipeline reads: scraped boilerplate
    * and spam bend it far from −1.
    *
    * Exactness: both regressors are ln values of exact integers,
    * rounded to 6 dp and carried as integer micro-units — Σx, Σy,
    * Σxy, Σx², Σy² are exact long sums (bounded: 100 terms of ≤2e7
    * micro each), the OLS numerators exact decimal(38,0) products at
    * language grain, one terminal double division per statistic (the
    * ols_brand shape). Corpus-scale work is ONE token explode + hash
    * aggregate; everything after runs on ≤[[ZipfTopRanks]] rows per
    * language. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val docs = Tables.load(spark, dir, "documents")
    val counts = docs.select(col("lang"),
        explode(filter(split(lower(trim(col("text"))), "\\s+"),
          t => t =!= "")).as("tok"))
      .groupBy("lang", "tok")
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("lang")
      .agg(count(lit(1)).as("n_types"), sum(col("cnt")).as("n_tokens"))
    val ranked = Rank.twoLevelRank(counts, Seq("lang"),
      floor(log(2.0, col("cnt"))).cast("long"), blkAscending = false,
      Seq(col("cnt").desc, col("tok").asc), "rnk", "nn")
      .filter(col("rnk") <= ZipfTopRanks)
      .select(col("lang"),
        // 6 dp-rounded ln carried as exact integer micro-units: the
        // double→decimal(18,6) conversion is exact on an already-6dp
        // value, and the ×10⁶ rescale happens in DECIMAL (a double
        // ×1e6 + cast would truncate 4.599999…e6 on Spark while
        // DuckDB's double→bigint cast rounds — engine mismatch)
        (round(log(col("rnk").cast("double")), 6).cast("decimal(18,6)")
          * 1000000L).cast("long").as("x"),
        (round(log(col("cnt").cast("double")), 6).cast("decimal(18,6)")
          * 1000000L).cast("long").as("y"))
    val sums = ranked.groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast(dec).as("sx"),
        sum(col("y")).cast(dec).as("sy"),
        sum(col("x") * col("y")).cast(dec).as("sxy"),
        sum(col("x") * col("x")).cast(dec).as("sx2"),
        sum(col("y") * col("y")).cast(dec).as("sy2"))
    sums
      .select(col("lang"), col("n"),
        (col("n").cast(dec) * col("sxy") - col("sx") * col("sy"))
          .as("num"),
        (col("n").cast(dec) * col("sx2") - col("sx") * col("sx"))
          .as("den"),
        (col("sy") * col("sx2") - col("sx") * col("sxy")).as("inum"),
        (col("n").cast(dec) * col("sy2") - col("sy") * col("sy"))
          .as("sst"))
      .join(totals, "lang")
      .select(col("lang"), col("n_types"), col("n_tokens"),
        col("n").as("n_fit"),
        round(col("num").cast("double") / col("den").cast("double"), 6)
          .as("slope"),
        round(col("inum").cast("double") / col("den").cast("double")
          / 1e6, 6).as("intercept"),
        round((col("num").cast("double") / col("den").cast("double"))
          * (col("num").cast("double") / col("sst").cast("double")), 6)
          .as("r2"))
      .orderBy("lang")
  }

  /** #181 Lexical-diversity profile per document: token count, type
    * count, hapax-legomenon count, type-token ratio (exact integer
    * ppm) and Yule's K = 10⁴·(Σtf² − N)/N² — the
    * vocabulary-richness column set a curation pipeline reads next
    * to the #152 rule verdicts (a high-K doc is repetitive even when
    * no single token trips the Gopher top-token rule).
    *
    * All-integer until the one terminal division in K. Round 17:
    * every statistic is DOCUMENT-LOCAL, so the corpus-wide
    * (doc, token) explode + two-level aggregate this shipped with
    * (one shuffle of rows × tokens — the >2×-at-×200 explode-kernel
    * band) is replaced by the fused [[TextFunctions.lexStats]]
    * kernel: the doc's own term-frequency table lives in a per-row
    * hash map, one codegen'd pass per document, NO shuffle at all
    * (terminal orderBy aside) — no hot key can exist because nothing
    * groups. Values are identical (the kernel's scaladoc carries the
    * token-semantics contract); the DuckDB oracle still computes the
    * grouped form, unchanged. Docs with zero tokens stay absent, as
    * the explode form left them. */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.TextFunctions.lexStats(col("text")).as("s"))
      .filter(col("s.n_tok") > 0L)
      .select(col("doc_id"), col("s.n_tok").as("n_tok"),
        col("s.n_types").as("n_types"), col("s.hapax").as("hapax"),
        expr("s.n_types * 1000000 div s.n_tok").as("ttr_ppm"),
        round((lit(10000L) * (col("s.tf2") - col("s.n_tok")))
            .cast("double")
          / (col("s.n_tok") * col("s.n_tok")).cast("double"), 6)
          .as("yule_k"))
      .orderBy("doc_id")
  }
}
