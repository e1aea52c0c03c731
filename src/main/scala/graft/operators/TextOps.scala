package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.fnv64

/** Text-analysis queries over `documents` (SURVEY.md §2 #27-30) —
  * the reference's "text analyzed data" surface
  * (/root/reference/README.md:3) plus the brief's training-data
  * quality operators. All built-ins/codegen'd expressions; each runs
  * as a single scan + (at most) one aggregate shuffle.
  */
object TextOps {

  /** #27 Language ID: per predicted language, doc count and agreement
    * with the (random) corpus labels. */
  def langIdQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .withColumn("pred_lang", langId(col("text")))
      .groupBy("pred_lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred_lang") === col("lang"), 1L).otherwise(0L))
          .as("n_label_match"))
      .orderBy("pred_lang")

  /** #28 Quality scoring: per-doc metrics (exact int arithmetic /
    * double divisions → engine-agnostic), all ingredients from ONE
    * codegen'd QualityStats pass per document. */
  def qualityQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .withColumn("s", qualityStruct(col("text")))
      .select(col("doc_id") +: qualityColumnsFrom(col("s")): _*)
      .orderBy("doc_id")

  /** #29 Token counting: whitespace and BPE-ish subword counts,
    * rolled up per source. */
  def tokenCountQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"), tokenCounts(col("text")).as("t"))
      .select(col("source"), col("t.ws").as("ws"), col("t.bpe").as("bpe"))
      .groupBy("source")
      .agg(sum(col("ws")).as("ws_tokens"), sum(col("bpe")).as("bpe_tokens"),
        count(lit(1)).as("n_docs"))
      .orderBy("source")

  /** Email/phone patterns for PII scrubbing — kept to syntax both
    * Java regex (Spark) and RE2 (DuckDB) interpret identically. The
    * kernel's fallback path compiles EmailRe; PhoneRe is matched by
    * an exact hand scanner (see PiiScrub). */
  val EmailRe: String = graft.functions.expressions.PiiScrub.EmailRe
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** #44 PII scrub: replace emails/phones with typed placeholder
    * tokens, report per-doc match counts — the redaction pass a
    * training-data pipeline runs before tokenization. Single scan
    * through the fused codegen'd PiiScrub kernel (one byte pre-scan
    * instead of four regex automaton passes; see
    * functions/expressions/PiiScrub.scala); the synthetic corpus is
    * PII-free (counts 0), TextOpsSpec plants PII and proves removal
    * with semantics identical to the nested-regexp oracle SQL. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrubOn(Tables.load(spark, dir, "documents"))

  def piiScrubOn(docs: DataFrame): DataFrame =
    docs
      .withColumn("p", piiScrubStruct(col("text")))
      .select(col("doc_id"),
        col("p.n_emails").as("n_emails"),
        col("p.n_phones").as("n_phones"),
        col("p.clean_text").as("clean_text"))
      .orderBy("doc_id")

  /** #66 Per-document sentiment score — lexicon hit counts (codegen'd
    * single-pass kernel), normalized score in [-1, 1] as an exact
    * int/int double division, and a three-way label. The reference's
    * dashboard surfaces "intraday data and text analyzed data"
    * (/root/reference/README.md:3); this is the text-analysis score a
    * user would chart next to prices. Single scan, no shuffle. */
  def sentimentDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .withColumn("s", sentimentCounts(col("text")))
      .select(col("doc_id"),
        col("s.n_pos").cast("long").as("n_pos"),
        col("s.n_neg").cast("long").as("n_neg"),
        col("s.n_tok").cast("long").as("n_tokens"),
        ((col("s.n_pos") - col("s.n_neg")).cast("double") /
          greatest(col("s.n_tok"), lit(1)).cast("double")).as("sent_score"),
        when(col("s.n_pos") > col("s.n_neg"), "pos")
          .when(col("s.n_neg") > col("s.n_pos"), "neg")
          .otherwise("neutral").as("sent_label"))
      .orderBy("doc_id")

  /** #67 Per-ticker daily sentiment aggregate over the news mapping
    * (events ≙ news items, title ≙ event_type, ticker ≙ user_id — the
    * same mapping as newsDateParse, StockOps.scala): lexicon counts
    * per title, rolled up per (ticker, day) with an exact aggregate
    * score (sum_pos−sum_neg)/n_titles — integer sums, one double
    * division at the end, so the result is partitioning-independent.
    * One scan + one shuffle on the (ticker, day) key. */
  def sentimentDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .withColumn("s", sentimentCounts(col("event_type")))
      .groupBy(col("user_id").as("ticker_id"), to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_titles"),
        sum(col("s.n_pos").cast("long")).as("sum_pos"),
        sum(col("s.n_neg").cast("long")).as("sum_neg"))
      .withColumn("day_score",
        (col("sum_pos") - col("sum_neg")).cast("double") /
          col("n_titles").cast("double"))
      .orderBy("ticker_id", "day")

  /** #30 Document fingerprint via the codegen'd FNV-1a 64 kernel.
    * Exact test vectors in Fnv64Spec; the DuckDB oracle re-expresses
    * the fold with HUGEINT mod-2^64 arithmetic (SparkEntry). */
  def fingerprintQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), fnv64(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Lowercased whitespace tokens with empties filtered — the
    * repo-wide tokenization (= `list_filter(string_split_regex(
    * lower(trim(text)), '\s+'), x -> x <> '')` in the oracles). */
  private def toksOf(c: org.apache.spark.sql.Column) =
    filter(split(lower(trim(c)), "\\s+"), t => t =!= lit(""))

  // Chunking geometry — keep in sync with the chunk_docs oracle SQL
  // (32/8/24 are inlined there).
  val ChunkTokens = 32
  val ChunkOverlap = 8

  /** #69 Token-window chunking: split each document into ≤32-token
    * chunks overlapping by 8 (context-window prep for training /
    * embedding pipelines). One scan; the explode fans out to
    * ceil((n−overlap)/step) rows per doc with no shuffle — chunk
    * boundaries are pure arithmetic on the token array, computed once
    * per row (the array column is a real projection, not re-split per
    * chunk). Zero-token docs produce zero chunks. */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame = {
    val step = ChunkTokens - ChunkOverlap
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), toksOf(col("text")).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .filter(col("n_tok") > 0)
      .withColumn("chunk_id", explode(sequence(lit(0L),
        ceil(greatest(col("n_tok") - ChunkOverlap, lit(1L)).cast("double") /
          step) - 1)))
      .select(col("doc_id"), col("chunk_id"),
        least(col("n_tok") - col("chunk_id") * step, lit(ChunkTokens.toLong))
          .as("n_chunk_tok"),
        array_join(slice(col("toks"), (col("chunk_id") * step + 1).cast("int"),
          lit(ChunkTokens)), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** #70 Repetition scoring (Gopher-style quality signal): per doc,
    * the fraction of duplicate token trigrams. A high ratio marks
    * boilerplate/spam for the training-mix filter. One codegen'd
    * TrigramStats pass per document — no trigram strings, no
    * interpreted HOF, no shuffle (see the kernel's oracle-parity
    * contract). */
  def repetitionScore(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), trigramStats(col("text")).as("g"))
      .select(col("doc_id"),
        col("g.n_tg").cast("long").as("n_trigrams"),
        col("g.n_dup").cast("long").as("n_dup"),
        when(col("g.n_tg") > 0,
          col("g.n_dup").cast("double") / col("g.n_tg").cast("double"))
          .otherwise(0.0).as("dup_ratio"))
      .orderBy("doc_id")

  // Decontamination geometry — 8-token shingles; doc_id < 50 plays
  // the benchmark/eval set. Inlined in the contamination oracle SQL.
  val ShingleWidth = 8
  val BenchDocMax = 50L

  /** #74 Corpus card: the per-(source, language) statistics table a
    * dataset release ships — doc/token counts, length and
    * duplicate-trigram quality signals, sentiment totals, short-doc
    * share. ONE scan evaluates every kernel (tokens, trigrams,
    * sentiment) per row, then a single (source, lang) shuffle of
    * partial aggregates; at 100 TB this is the cheapest possible
    * shape for a full-corpus report. All sums decimal-exact or
    * integer → partitioning-independent, fully SQL-oracle-able. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("lang"), col("text"),
        trigramStats(col("text")).as("g"),
        sentimentCounts(col("text")).as("s"))
      .select(col("source"), col("lang"),
        col("g.n_tok").cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_chars"),
        col("s.n_pos").cast("long").as("n_pos"),
        col("s.n_neg").cast("long").as("n_neg"),
        when(col("g.n_tg") > 0,
          col("g.n_dup").cast("double") / col("g.n_tg").cast("double"))
          .otherwise(0.0).as("dup_ratio"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tokens"),
        Num.davg(col("n_chars").cast("double")).as("avg_chars"),
        sum(when(col("n_tok") < 20, 1L).otherwise(0L)).as("short_docs"),
        sum(col("n_pos")).as("sum_pos"),
        sum(col("n_neg")).as("sum_neg"),
        Num.davg(col("dup_ratio")).as("avg_dup_ratio"))
      .orderBy("source", "lang")

  /** #71 Benchmark decontamination: flag corpus documents sharing any
    * 8-token shingle with the benchmark set (docs 0-49 stand in for
    * an eval suite). Shingles are compared as 64-bit hashes from the
    * codegen'd ShingleHashes kernel — one tokenize pass + rolling
    * combine per doc, already distinct per doc, no shingle string
    * ever materialized or shuffled (the production shape; see the
    * kernel's collision note — the DuckDB oracle compares the strings
    * and agrees because a count-changing collision has probability
    * ~2^-64 per shingle pair). Tokenization follows the signature
    * kernels' shared convention: ASCII-only case folding (a doc
    * differing from a benchmark shingle ONLY in non-ASCII letter case
    * is not matched, where the full-Unicode lower() oracle would
    * match) — a documented semantic shared with MinHashSig/SimHash64,
    * not a hash-collision artifact. The benchmark hash set is bounded
    * (an
    * eval suite, not a corpus) → broadcast; the join moves only
    * (doc_id, hash) pairs. */
  def contaminationCheck(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.shingleHashes(col("text"),
          ShingleWidth)).as("sh"))
    val bench = sh.filter(col("doc_id") < BenchDocMax).select("sh").distinct()
    val corpus = sh.filter(col("doc_id") >= BenchDocMax)
    corpus.join(broadcast(bench), "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** #83 Bloom filter sizing for [[contaminationBloom]]: 2^20 bits
    * (128 KiB) over the benchmark's distinct shingle hashes with 5
    * probes — FP ≈ (1-e^(-5n/m))^5 < 1e-8 at n = 10^4 benchmark
    * shingles, and still < 1% at n = 10^5. */
  val BloomBits = 1 << 20
  val BloomHashes = 5

  /** Bloom sizing for the DESIGN-REGIME benchmark below: the
    * reference set there is millions of hashes, so the filter grows
    * to 2^26 bits (8 MiB — still broadcastable where the raw 8-byte
    * hash set is not) with 3 probes: FP < 1% at n = 5·10^6. */
  val BloomBitsLarge = 1 << 26
  val BloomHashesLarge = 3

  /** #83b Decontamination in the Bloom sketch's DESIGN regime
    * (VERDICT r9 #6): the reference set is LARGE — the even-id half
    * of the corpus's shingles, millions of 8-byte hashes at the
    * ScaleBench multiplier — so the exact join CANNOT broadcast it
    * (enforced with a SHUFFLE_HASH hint, as a too-big-for-broadcast
    * side would be at 100 TB) and must hash-shuffle every corpus
    * shingle. With `useBloom`, corpus shingles first pass the
    * broadcast 8 MiB filter, so the shuffle carries only true matches
    * plus the <1% FP sliver — the cut that makes the sketch pay for
    * its build jobs. Answer-identical either way (no false negatives;
    * FPs die in the exact join) — asserted in BloomSpec along with
    * the no-broadcast plan shape; ScaleBench mode `bloom` measures
    * the two variants head-to-head and BASELINE.md records them. */
  def contaminationAtScale(spark: SparkSession, dir: String,
      useBloom: Boolean): DataFrame = {
    val sh = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.shingleHashes(col("text"),
          ShingleWidth)).as("sh"))
    val bench = sh.filter(col("doc_id") % 2 === 0).select("sh").distinct()
      .localCheckpoint()
    val corpus = sh.filter(col("doc_id") % 2 === 1)
    val candidates =
      if (!useBloom) corpus
      else {
        // The filter is BUILT distributed (map-side OR partials), and
        // only the FINISHED 8 MiB sketch lands on the driver to
        // become a probe literal — the same finished-artifact hop
        // Spark's own injected runtime bloom filters make (scalar
        // subquery → literal). Probing a literal matters: codegen
        // hoists it into one object reference, where probing a
        // joined-in binary COLUMN re-copies the whole bitmap from the
        // row for every corpus shingle (measured: the ×50 probe went
        // from CPU-bound on 8 MiB/row memcpys to free).
        val bf = bench.agg(graft.functions.AggFunctions
          .bloomAgg(col("sh"), BloomBitsLarge, BloomHashesLarge).as("bf"))
          .head().getAs[Array[Byte]](0)
        corpus.filter(graft.functions.AggFunctions
          .bloomMightContain(lit(bf), col("sh")))
      }
    candidates.join(bench.hint("SHUFFLE_HASH"), "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** #83 Bloom-prefiltered decontamination: answer-identical to
    * [[contaminationCheck]], but corpus shingles first pass a
    * membership probe against a Bloom filter of the benchmark set —
    * built DISTRIBUTED by the mergeable [[graft.functions.expressions.BloomAgg]]
    * (partial bitsets OR-combine map-side; nothing collects) and
    * broadcast as one ~128 KiB row. No false negatives, so the
    * downstream exact join sees every true match; false positives
    * (< 1e-8 here) are removed by that same join, which is why this
    * query shares `contamination`'s DuckDB oracle verbatim.
    *
    * The 100 TB point is the regime where the reference set OUTGROWS
    * broadcast: a web-scale blocklist or seen-set of raw 8-byte
    * hashes in the GBs forces the exact join to hash-shuffle every
    * corpus shingle (O(corpus tokens) rows), while its Bloom filter
    * at the same FP budget is ~100× smaller, still broadcasts, and
    * cuts that shuffle to true matches plus the FP sliver. When the
    * raw set broadcasts anyway (this corpus: the exact join is
    * already broadcast and shuffle-free), the sketch adds its build
    * jobs without removing any work — BASELINE.md records that
    * honestly. The build-probe pair serves any bounded-reference
    * membership pre-screen (seen URLs, license blocklists, index
    * presence). */
  def contaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.shingleHashes(col("text"),
          ShingleWidth)).as("sh"))
    // the benchmark hash set is bounded — materialize it once and
    // serve BOTH the bloom build and the exact join from it (two lazy
    // consumers would each re-scan and re-shingle the benchmark docs)
    val bench = sh.filter(col("doc_id") < BenchDocMax).select("sh")
      .distinct().localCheckpoint()
    // finished-sketch-as-literal, not a crossJoined binary column:
    // see contaminationAtScale — a column probe re-copies the bitmap
    // per row
    val bf = bench.agg(graft.functions.AggFunctions
      .bloomAgg(col("sh"), BloomBits, BloomHashes).as("bf"))
      .head().getAs[Array[Byte]](0)
    val candidates = sh.filter(col("doc_id") >= BenchDocMax)
      .filter(graft.functions.AggFunctions
        .bloomMightContain(lit(bf), col("sh")))
    candidates.join(broadcast(bench), "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** #133 Corpus-wide paragraph dedup — the segment-level pass
    * CCNet-style pipelines run BEFORE document-level near-dup:
    * boilerplate segments (headers, nav, license banners) repeat
    * across millions of pages and survive doc-level MinHash. The
    * segmenter is pluggable; production splits on newlines, here the
    * single-line testdata corpus is cut into non-overlapping 10-token
    * windows (the same whitespace tokens as #29). Every segment is
    * keyed by md5; the FIRST occurrence corpus-wide (min (doc_id,
    * line_no) — a max-of-struct-style min aggregate, not a window)
    * keeps, every later copy drops. Output is the per-document audit:
    * segments seen / kept, chars kept / dropped.
    *
    * Scale: the segment explode is O(total tokens); the keeper table
    * is one hash aggregate keyed on the md5 (map-side partial combines
    * duplicate segments within a partition first); the keep test is a
    * join back on the same key — two shuffles of segment-grained rows,
    * no windows, no skew exposure (a boilerplate segment appearing 10⁹
    * times partial-aggregates to one row per map task before the
    * exchange). */
  def paragraphDedup(spark: SparkSession, dir: String): DataFrame = {
    val SegTokens = 10
    val lines = Tables.load(spark, dir, "documents")
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0),
          floor((size(col("toks")) - 1) / SegTokens).cast("int")),
        i => array_join(
          slice(col("toks"), i * SegTokens + 1, lit(SegTokens)), " ")))
        .as(Seq("pos", "para")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("line_no"),
        col("para"))
      .filter(length(col("para")) > 0)
      .withColumn("h", md5(col("para")))
    val keepers = lines
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("line_no"))).as("keep"))
      .select(col("h"), col("keep.doc_id").as("k_doc"),
        col("keep.line_no").as("k_line"))
    lines.join(keepers, "h")
      .withColumn("kept",
        (col("doc_id") === col("k_doc") && col("line_no") === col("k_line"))
          .cast("int").cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"),
        sum(col("kept")).as("n_kept"),
        sum(col("kept") * length(col("para"))).as("kept_chars"),
        sum((lit(1L) - col("kept")) * length(col("para")))
          .as("dropped_chars"))
      .orderBy("doc_id")
  }

  /** #204 Text normalization / cleaning pass — the first stage of
    * every ingestion pipeline: strip control characters, collapse
    * whitespace runs, trim, and report what changed (chars removed,
    * whitespace runs collapsed, became-empty flag) so the cleaning
    * is auditable rather than silent. Pure composed Catalyst
    * regexp/length expressions (codegen'd, no UDF); the regexes use
    * only explicit character classes both engines' regex dialects
    * (Java util.regex / RE2) treat identically. */
  def textClean(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .withColumn("no_ctrl",
        regexp_replace(col("text"), "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", ""))
      .withColumn("cleaned",
        regexp_replace(regexp_replace(col("no_ctrl"), "[ \\t\\r\\n]+", " "),
          "^ | $", ""))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("raw_chars"),
        length(col("cleaned")).cast("long").as("clean_chars"),
        (length(col("text")) - length(col("no_ctrl"))).cast("long")
          .as("ctrl_removed"),
        (length(col("no_ctrl")) - length(col("cleaned"))).cast("long")
          .as("ws_collapsed"),
        (length(col("cleaned")) === 0).cast("long").as("is_empty"))
      .orderBy("doc_id")

  /** A word-bigram shared by more than this many documents counts as
    * corpus boilerplate for [[noveltyScore]]. */
  val CommonDf = 10L

  /** #195 Cross-document novelty score — what fraction of each
    * document's distinct word-bigrams is CORPUS BOILERPLATE
    * (df > [[CommonDf]]): the "is this doc mostly template chrome"
    * signal. Complements #70's repetition_score (within-doc
    * repetition) and #133's paragraph dedup (removal); this one
    * SCORES without removing, the way quality-mix reports want it.
    *
    * Shape: one shingle explode → distinct (doc, h) → df at h grain
    * (map-side combined) → join back → doc-grain counts — all
    * key-hashed aggregates, integer ppm output. The shingle hash is
    * the portable md5 tail-32 identity. */
  def noveltyScore(spark: SparkSession, dir: String): DataFrame = {
    val dd = Tables.load(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(lower(trim(col("text"))), "\\s+"), t => t =!= "")
          .as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, size(toks) - 2)," +
          " i -> concat(toks[i], ' ', toks[i + 1]))")).as("sh"))
      .select(col("doc_id"),
        conv(substring(md5(col("sh")), 25, 8), 16, 10).cast("long")
          .as("h"))
      .distinct()
      .localCheckpoint() // pinned: df branch + the join-back
    val df = dd.groupBy("h").agg(count(lit(1)).as("df"))
    dd.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum((col("df") > CommonDf).cast("long")).as("n_common"))
      .select(col("doc_id"), col("n_shingles"), col("n_common"),
        expr("n_common * 1000000 div n_shingles")
          .as("boilerplate_ppm"))
      .orderBy("doc_id")
  }
}
