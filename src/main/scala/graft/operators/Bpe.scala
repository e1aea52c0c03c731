package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.expressions.BpeTokenCount

/** Learned BPE tokenizer (SURVEY.md §2 #106): the merge table is
  * TRAINED from the corpus — the classic Sennrich loop: start from
  * raw bytes, repeatedly fuse the most frequent adjacent token pair —
  * then shipped to executors inside the [[BpeTokenCount]] expression
  * for the per-document encode.
  *
  * Scale shape: training runs on a BOUNDED deterministic sample (the
  * same bounded-model-artifact pattern as the IVF centroids and PQ
  * codebooks — at 100 TB no tokenizer trains on the full corpus;
  * GPT-2's BPE was fit on a fixed reference slice), is cached per
  * corpus, and the encode is a codegen'd scan-stage kernel — no
  * shuffle, no driver round-trips, merge table ~KBs broadcast with
  * the plan. */
object Bpe {

  /** Learned merge count (vocab = 256 bytes + NumMerges). Small by
    * real-tokenizer standards but enough to compress the test corpus
    * ~2×; the training loop is vocab-size-linear, nothing changes
    * structurally at 32k. */
  val NumMerges = 256
  /** Deterministic training-sample size (docs, by hashed-id order). */
  val SampleDocs = 512

  /** Corpus-trained merge list, rank order (rank r fuses pair
    * merges(r) into id 256+r); a [[graft.CorpusCache]] value. */
  def trainedMerges(spark: SparkSession, dir: String): Seq[Long] =
    graft.CorpusCache.value(spark, dir, "documents", "bpe_merges") {
      import spark.implicits._
      val sample = Tables.load(spark, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"), xxhash64(col("doc_id")).as("h"))
        .orderBy(col("h"), col("doc_id")).limit(SampleDocs)
        .select("text").as[String].collect()
        .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toSeq
      train(sample, NumMerges)
    }

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Whitespace-split pretokens as int sequences (byte values). */
  private[graft] def pretokens(doc: Array[Byte]): Seq[Array[Int]] = {
    val out = scala.collection.mutable.ArrayBuffer[Array[Int]]()
    var i = 0
    while (i < doc.length) {
      while (i < doc.length && isWs(doc(i))) i += 1
      val start = i
      while (i < doc.length && !isWs(doc(i))) i += 1
      if (i > start) out += Array.range(start, i).map(j => doc(j) & 0xff)
    }
    out.toSeq
  }

  /** Classic BPE training: per round count every adjacent pair across
    * the sample's pretokens, fuse the most frequent (ties broken by
    * smallest packed pair — deterministic on any sample order) into a
    * fresh id, stop early when no pair repeats. Plain-Scala driver
    * work on the bounded sample, like the k-means refinement of a
    * sampled IVF seed. */
  private[graft] def train(docs: Seq[Array[Byte]], nMerges: Int): Seq[Long] = {
    var words: Seq[Array[Int]] = docs.flatMap(pretokens)
    val merges = scala.collection.mutable.ArrayBuffer[Long]()
    var rank = 0
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      val counts = new java.util.HashMap[Long, Long]()
      words.foreach { w =>
        var j = 0
        while (j < w.length - 1) {
          counts.merge(BpeTokenCount.pack(w(j), w(j + 1)), 1L, _ + _)
          j += 1
        }
      }
      var bestPair = -1L
      var bestCount = 1L // a pair must repeat to earn a merge
      counts.forEach { (p, c) =>
        if (c > bestCount || (c == bestCount && bestPair != -1L && p < bestPair))
          { bestPair = p; bestCount = c }
      }
      if (bestPair == -1L) exhausted = true
      else {
        merges += bestPair
        val a = (bestPair >> 32).toInt
        val b = (bestPair & 0xffffffffL).toInt
        val id = 256 + rank
        words = words.map { w =>
          if (w.length < 2) w
          else {
            val out = new Array[Int](w.length)
            var wr = 0
            var rd = 0
            while (rd < w.length) {
              if (rd < w.length - 1 && w(rd) == a && w(rd + 1) == b) {
                out(wr) = id; rd += 2
              } else {
                out(wr) = w(rd); rd += 1
              }
              wr += 1
            }
            java.util.Arrays.copyOf(out, wr)
          }
        }
        rank += 1
      }
    }
    merges.toSeq
  }

  /** Column: learned-BPE token count of `text` under this corpus's
    * trained merges. */
  def bpeTokens(spark: SparkSession, dir: String, text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      BpeTokenCount(
        org.apache.spark.sql.GraftSqlBridge.expression(text),
        trainedMerges(spark, dir)))

  /** #106 Corpus tokenizer report: per source, document/byte counts,
    * the whitespace and learned-BPE token totals side by side, the
    * bytes-per-BPE-token compression the tokenizer achieves, and the
    * SeqBudget-sized training-sequence count the source fills under
    * the BPE metric — the budget numbers a training-mix plan is
    * actually costed in. Rows-only in the driver gate (the learned
    * merge table is a trained model, not SQL); BpeSpec property-tests
    * the encode against a reference implementation and pins the
    * packing arithmetic. */
  def bpeStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("source"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        graft.functions.TextFunctions.tokenCounts(col("text"))
          .getField("ws").cast("long").as("ws_tok"),
        bpeTokens(spark, dir, col("text")).as("bpe_tok"))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("sum_bytes"),
        sum(col("ws_tok")).as("ws_tokens"),
        sum(col("bpe_tok")).as("bpe_tokens"),
        round(sum(col("n_bytes")).cast("double") /
          sum(col("bpe_tok")).cast("double"), 6).as("bytes_per_tok"),
        ((sum(col("bpe_tok")) + lit(Packing.SeqBudget) - 1L) /
          lit(Packing.SeqBudget)).cast("long").as("n_seqs_bpe"))
      .orderBy("source")
  }
}
