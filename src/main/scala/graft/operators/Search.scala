package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Keyword-search operators over `documents` (SURVEY.md §2 #76, #78):
  * inverted-index term statistics and BM25 ranked retrieval — the
  * query-side counterpart of the text-analysis operators, and the
  * standard relevance filter a training-data pipeline runs to mine
  * topic-matched documents out of a 100 TB corpus.
  *
  * Scale design (§5): both operators are one explode of the token
  * stream followed by hash aggregations — the inverted-index shape.
  * The shuffle moves (term) or (doc_id, term-counts) scalars, never
  * document text; partial aggregation combines map-side, so the
  * shuffled bytes are O(distinct keys), not O(total tokens). The
  * corpus-level statistics (N, avgdl, per-term df) aggregate to ONE
  * row that broadcasts back over the scoring scan — no second pass
  * over the corpus and no driver-side collect.
  */
object Search {

  /** BM25 parameters (the standard Robertson/Lucene values). */
  val K1 = 1.2
  val B = 0.75

  /** Fixed query — mid-frequency corpus terms; [[bm25Search]] scores
    * the whole corpus against it and keeps the top [[TopK]]. */
  val QueryTerms: Seq[String] = Seq("vector", "stream", "merge")
  val TopK = 20

  /** Repo-wide tokenization (= `list_filter(string_split_regex(
    * lower(trim(text)), '\s+'), x -> x <> '')` in the oracles). */
  private def toks(c: Column): Column =
    filter(split(lower(trim(c)), "\\s+"), t => t =!= lit(""))

  /** (doc_id, term) token stream — the exploded inverted-index feed. */
  private def termStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(toks(col("text"))).as("term"))

  /** #76 Term statistics: per-term document frequency, collection
    * frequency, and BM25 idf. The groupBy partial-aggregates map-side
    * (distinct terms, not token instances, ride the shuffle); the
    * corpus size joins in as a broadcast single row. */
  def termStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    termStream(docs)
      .groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("cf"))
      .crossJoin(broadcast(n))
      .select(col("term"), col("df"), col("cf"),
        round(log(lit(1.0) +
          ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))), 6).as("idf"))
      .orderBy("term")
  }

  /** #78 BM25 ranked retrieval: score every document against
    * [[QueryTerms]], keep the global top-[[TopK]] (deterministic
    * tiebreak on doc_id). One tokenize+explode pass produces per-doc
    * (dl, tf_i); the corpus stats (N, avgdl, df_i) reduce to a single
    * broadcast row; the final top-k is TakeOrderedAndProject (per
    * partition heaps + driver merge of k rows), never a global sort.
    * All arithmetic is written to match the DuckDB oracle
    * operation-for-operation, so the scores hash-compare exactly. */
  def bm25Search(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tfCols = QueryTerms.zipWithIndex.map { case (q, i) =>
      sum(when(col("term") === lit(q), 1L).otherwise(0L)).as(s"tf$i")
    }
    // the n_docs count below touches documents, but a bare count
    // answers from parquet footer metadata, not data pages
    val perDoc = termStream(docs)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    val dfCols = QueryTerms.indices.map { i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")
    }
    val stats = perDoc
      .agg(sum(col("dl").cast("decimal(38,0)")).as("sum_dl"), dfCols: _*)
      .crossJoin(docs.agg(count(lit(1)).as("n_docs")))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
    val termScores = QueryTerms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val idf = log(lit(1.0) +
        ((col("n_docs") - col(s"df$i")).cast("double") + lit(0.5)) /
          (col(s"df$i").cast("double") + lit(0.5)))
      idf * (tf * (lit(K1) + lit(1.0))) /
        (tf + lit(K1) * (lit(1.0) - lit(B) + lit(B) *
          (col("dl").cast("double") / col("avgdl"))))
    }
    val topDocs = perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"),
        termScores.reduceLeft(_ + _).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(TopK)
    // partitionBy(lit(0)): runs over the TopK survivors only
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0))
      .orderBy(col("score").desc, col("doc_id").asc)
    topDocs
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("rnk"), col("doc_id"), round(col("score"), 6).as("score"),
        col("dl"))
      .orderBy("rnk")
  }

  /** Inverted-index pair-generation prune: terms in more documents
    * than this are stop-terms for similarity purposes (their pair
    * contribution is O(df²) and their idf weight is lowest). */
  val SimDfCap = 100L
  val SimTopPairs = 100

  /** #97 TF-IDF document similarity ("related articles"): sparse
    * cosine over tf·idf term vectors, pairs generated through the
    * inverted index (docs sharing a term), so the join shuffles
    * (term, doc, weight) scalars and each term contributes at most
    * SimDfCap² pairs — never an all-pairs product. Norms keep ALL
    * terms (exact vector length); only pair GENERATION prunes hot
    * terms. Pair dot products are decimal-exact sums → the double
    * score is engine-portable, and the DuckDB twin is exact. */
  def tfidfDocsim(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tf = termStream(docs)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = tf.join(dfT, "term").crossJoin(broadcast(n))
      .withColumn("w", col("tf").cast("double") *
        log(lit(1d) + col("n_docs").cast("double") / col("df").cast("double")))
      .select("doc_id", "term", "df", "w")
    val norms = w.groupBy("doc_id")
      .agg(sqrt(Num.dsum(col("w") * col("w"))).as("nrm"))
    val idx = w.filter(col("df") <= SimDfCap)
      .select(col("doc_id"), col("term"), col("w"))
    val pairs = idx.select(col("doc_id").as("doc_a"), col("term"),
        col("w").as("wa"))
      .join(idx.select(col("doc_id").as("doc_b"), col("term"),
        col("w").as("wb")), "term")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(Num.dsum(col("wa") * col("wb")).as("dotw"))
    pairs
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")),
        "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("dotw") / (col("na") * col("nb")), 6).as("tfidf_sim"))
      .orderBy(col("tfidf_sim").desc, col("doc_a"), col("doc_b"))
      .limit(SimTopPairs)
  }

  /** RRF constant (the standard 60) and fused output depth. */
  val RrfK = 60L
  val HybridTopK = 10

  /** #131 Hybrid retrieval — BM25 ⊕ vector cosine via reciprocal-
    * rank fusion: the standard two-tower serving shape (lexical
    * recall catches exact terms, embedding recall catches
    * paraphrases; RRF needs no score calibration because it fuses
    * RANKS — `Σ 1/(60+r)` over the lists a doc appears in). Both
    * candidate lists are the already-verified operators' top-[[TopK]]
    * (BM25 over [[QueryTerms]]; exact cosine for the query embedding,
    * vec_id 0 — at 100 TB the vector list comes from the persisted
    * IVF index, #119, same shape); the fusion itself is an id-keyed
    * full outer join of two K-row lists — driver-free, broadcast-
    * sized. Integer ranks make the fusion engine-exact: the only
    * floats are two fixed-order IEEE divisions per row. */
  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val bm = bm25Search(spark, dir)
      .select(col("doc_id"), col("rnk").as("r_text"))
    val e = Similarity.emb(spark, dir)
    val q = e.filter(col("vec_id") === 0L)
      .select(col("vec").as("qvec"))
    // partitionBy(lit(0)): runs over the TopK survivors only
    val vw = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0))
      .orderBy(col("cos").desc, col("doc_id").asc)
    val vr = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0L)
      .select(col("vec_id").as("doc_id"),
        cosine(col("vec"), col("qvec")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id").asc).limit(TopK)
      .withColumn("r_vec", row_number().over(vw).cast("long"))
      .select("doc_id", "r_vec")
    // partitionBy(lit(0)): runs over the fused HybridTopK rows
    val fw = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    bm.join(vr, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + col("r_text")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("r_vec")), lit(0.0)))
      .orderBy(col("rrf").desc, col("doc_id").asc).limit(HybridTopK)
      .withColumn("rnk", row_number().over(fw).cast("long"))
      .select(col("rnk"), col("doc_id"),
        round(col("rrf"), 6).as("rrf_score"), col("r_text"),
        col("r_vec"))
      .orderBy("rnk")
  }

  /** Keywords kept per document by [[keywordExtract]]. */
  val KeywordsPerDoc = 3

  /** #202 TF-IDF keyword extraction — each document's top
    * [[KeywordsPerDoc]] terms by tf·idf: the per-document tag/topic
    * column a corpus catalog or retrieval index materializes (#97
    * scores document PAIRS through the same weighting; this labels
    * single documents).
    *
    * Ranking is DECIMAL-exact: idf = ln(N/df) rounded to 9 dp, the
    * score tf·idf₉ an exact decimal product — ties (equal tf and df)
    * break on the token string, so the top-k set is engine-exact,
    * never a float-ordering accident. The per-doc rank window is
    * bounded by the document's own vocabulary (a document is finite
    * at any corpus size); corpus-scale work is the one explode +
    * (doc, term) and term-grain hash aggregates. */
  def keywordExtract(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .filter(col("text").isNotNull)
    // corpus size as a broadcast one-row aggregate riding the plan —
    // round 21: the previous `docs.count()` driver action was a
    // separate job (plus its own documents scan) per call just to
    // embed one scalar literal; the crossJoin keeps the same double
    // value (long count cast) inside a single scheduled query
    val nRow = docs.agg(count(lit(1)).cast("double").as("__n"))
    val tf = docs.select(col("doc_id"),
        explode(filter(split(lower(trim(col("text"))), "\\s+"),
          t => t =!= "")).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
      // pin: kept by the per-call A/B in CHANGES.md (keyword_extract)
      .localCheckpoint()
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nRow))
      .withColumn("idf9",
        round(log(col("__n") / col("df").cast("double")), 9)
          .cast("decimal(28,9)"))
      .drop("__n")
    val scored = tf.join(df, "tok")
      .withColumn("score", col("tf").cast("decimal(10,0)") * col("idf9"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("score").desc, col("tok").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= KeywordsPerDoc)
      .select(col("doc_id"), col("rnk"), col("tok").as("keyword"),
        col("tf"), col("df"),
        round(col("score").cast("double"), 6).as("score"))
      .orderBy("doc_id", "rnk")
  }
}
