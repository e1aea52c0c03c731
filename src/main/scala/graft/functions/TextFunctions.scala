package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._
import graft.functions.expressions.{LongArrayAgree, MinHashSig, SentimentCounts, SimHash64}

/** Text-analysis kernels (SURVEY.md §2 #27-29), re-expressing the
  * reference's "text analyzed data" goal (/root/reference/README.md:3)
  * with codegen'd built-ins — no UDFs, so they run inside
  * whole-stage codegen on the 100 TB scan path.
  *
  * Every function is deterministic and has an exact DuckDB-SQL twin
  * (used by the oracle), so the driver's hash-compare is meaningful.
  */
object TextFunctions {

  /** Whitespace tokens of trimmed, lowercased text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** MinHash signature (array<long>, length k) over word w-shingles —
    * single-pass codegen'd kernel (see SignatureExpressions). */
  def minhashSig(text: Column, k: Int, w: Int): Column =
    GraftSqlBridge.column(MinHashSig(GraftSqlBridge.expression(text), k, w))

  /** 64-bit SimHash of the whitespace tokens, packed into a long. */
  def simhash64(text: Column): Column =
    GraftSqlBridge.column(SimHash64(GraftSqlBridge.expression(text)))

  /** Portable (md5-based, oracle-replicable) MinHash signature —
    * see [[graft.functions.expressions.PortableMinHashSig]]. */
  def portableMinhashSig(text: Column, k: Int): Column =
    GraftSqlBridge.column(
      graft.functions.expressions.PortableMinHashSig(
        GraftSqlBridge.expression(text), k))

  /** Portable 32-bit SimHash (md5-based, oracle-replicable) —
    * see [[graft.functions.expressions.PortableSimHash32]]. */
  def portableSimhash32(text: Column): Column =
    GraftSqlBridge.column(
      graft.functions.expressions.PortableSimHash32(
        GraftSqlBridge.expression(text)))

  /** Agreeing positions of two equal-length signature arrays
    * (MinHash estimator numerator) — codegen'd kernel. */
  def sigAgree(a: Column, b: Column): Column =
    GraftSqlBridge.column(LongArrayAgree(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(tokens(text))

  /** Fused ws + BPE-ish token counts: struct<ws, bpe> in one
    * codegen'd byte pass (see TokenCounts for the regex-twin
    * contract) — replaces a per-doc java.util.regex scan. */
  def tokenCounts(text: Column): Column =
    GraftSqlBridge.column(
      expressions.TokenCounts(GraftSqlBridge.expression(text)))

  /** BPE-ish subword count: runs of letters, runs of digits, or a
    * single other non-space char. Mirrors a byte-pair pre-tokenizer's
    * word-split regex. */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    regexp_count(lower(text), lit(BpePattern))

  /** English/Spanish stopword markers used by langId + quality. */
  val EnStop: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")
  val EsStop: Seq[String] = Seq("el", "la", "los", "de", "que", "y", "en")

  /** Heuristic language ID: CJK codepoints → zh; else whichever
    * stopword family matches first; else "und". Purely syntactic and
    * deterministic (the synthetic corpus' `lang` labels are random —
    * the operator's contract is determinism, accuracy is corpus-
    * dependent). */
  def langId(text: Column): Column = {
    val t = lower(text)
    when(t.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .when(t.rlike("(^|\\s)(" + EnStop.mkString("|") + ")(\\s|$)"), lit("en"))
      .when(t.rlike("(^|\\s)(" + EsStop.mkString("|") + ")(\\s|$)"), lit("es"))
      .otherwise(lit("und"))
  }

  /** Punctuation characters counted by qualityScore. */
  val PunctClass = "[.,!?;:]"

  /** Stopword count among whitespace tokens (higher-order filter —
    * stays in codegen, no UDF). */
  def stopwordCount(text: Column): Column = {
    val stops = EnStop ++ EsStop
    size(filter(tokens(text), t => t.isInCollection(stops)))
  }

  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, PunctClass, ""))

  /** Fused quality stats: struct<n_chars, n_tok, n_punct, n_stop> in
    * one codegen'd pass (see QualityStats for the SQL-twin
    * contract). The composed `qualityColumns` form tokenized twice
    * and ran an interpreted array-filter HOF per row. */
  def qualityStruct(text: Column): Column =
    GraftSqlBridge.column(
      expressions.QualityStats(GraftSqlBridge.expression(text)))

  /** Fused lexical-diversity moments: struct<n_tok, n_types, hapax,
    * tf2> in one codegen'd pass (see LexStats for the exact-semantics
    * contract vs the exploded (doc, token) grouped form). */
  def lexStats(text: Column): Column =
    GraftSqlBridge.column(
      expressions.LexStats(GraftSqlBridge.expression(text)))

  /** Composite quality metrics from a materialized [[qualityStruct]]
    * column; every ratio is an exact int/int double division →
    * engine-agnostic and identical to the pre-kernel composed form. */
  def qualityColumnsFrom(s: Column): Seq[Column] = Seq(
    s.getField("n_chars").as("n_chars_m"),
    s.getField("n_tok").cast("long").as("n_tokens"),
    (s.getField("n_chars").cast("double") /
      s.getField("n_tok").cast("double")).as("chars_per_token"),
    (s.getField("n_punct").cast("double") /
      s.getField("n_chars").cast("double")).as("punct_ratio"),
    (s.getField("n_stop").cast("double") /
      s.getField("n_tok").cast("double")).as("stopword_ratio"))

  /** Lexicon sentiment counts: struct<n_pos, n_neg, n_tok> over the
    * whitespace tokens — single-pass codegen'd kernel (see
    * SentimentCounts for the lexicons and SQL-twin contract). */
  def sentimentCounts(text: Column): Column =
    GraftSqlBridge.column(SentimentCounts(GraftSqlBridge.expression(text)))

  /** Trigram duplication stats: struct<n_tok, n_tg, n_dup> over the
    * repo-wide tokens — single-pass codegen'd kernel, no trigram
    * strings materialized (see TrigramStats for the oracle-parity
    * and hash-collision contract). */
  def trigramStats(text: Column): Column =
    GraftSqlBridge.column(
      expressions.TrigramStats(GraftSqlBridge.expression(text)))

  /** Fused PII scrub: struct<n_emails, n_phones, clean_text> in one
    * pass (see PiiScrub for the byte-scan fast path and the
    * oracle-nesting contract). */
  def piiScrubStruct(text: Column): Column =
    GraftSqlBridge.column(expressions.PiiScrub(GraftSqlBridge.expression(text)))

  /** Character n-gram set (distinct) — near-dup verification kernel
    * (SURVEY.md §2 #22). Empty array for strings shorter than n.
    * Codegen'd single-pass kernel (see SignatureExpressions). */
  def charNgrams(text: Column, n: Int): Column =
    GraftSqlBridge.column(
      expressions.CharNgrams(GraftSqlBridge.expression(text), n))

  /** Distinct word-shingle hashes (decontamination kernel, §2 #71) —
    * one tokenize pass + rolling combine, no shingle strings. */
  def shingleHashes(text: Column, w: Int): Column =
    GraftSqlBridge.column(
      expressions.ShingleHashes(GraftSqlBridge.expression(text), w))

  /** Jaccard similarity of two precomputed distinct n-gram arrays:
    * |A∩B| / |A∪B| as exact int/int double division. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = (size(a) + size(b)).cast("double") - inter
    when(uni > 0d, inter / uni).otherwise(lit(0d))
  }

  /** Distinct char n-grams as SORTED packed long codes — the round-21
    * gram representation: bijective with [[charNgrams]]' string sets
    * (16 bits per UTF-16 char, n ≤ 4), so sizes, intersections and
    * Jaccards are bit-identical while pair kernels run as primitive
    * merges instead of per-pair string hash sets. */
  def charNgramCodes(text: Column, n: Int): Column =
    GraftSqlBridge.column(
      expressions.CharNgramCodes(GraftSqlBridge.expression(text), n))

  /** |A∩B| of two sorted distinct code arrays (linear merge). */
  def intersectCount(a: Column, b: Column): Column =
    GraftSqlBridge.column(expressions.SortedLongIntersectCount(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** A∩B of two sorted distinct long arrays (linear merge) — the
    * array-returning sibling of [[intersectCount]]: what
    * `array_intersect(a, b)` computes for such inputs, without the
    * per-pair OpenHashSet build and per-element hashing. */
  def sortedIntersect(a: Column, b: Column): Column =
    GraftSqlBridge.column(expressions.SortedLongIntersect(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** `a` declared without null elements, each row checked — for code
    * arrays read back from a table (see AssertNonNullElements). */
  def assertNonNullElements(a: Column): Column =
    GraftSqlBridge.column(expressions.AssertNonNullElements(
      GraftSqlBridge.expression(a)))

  /** [[jaccard]] over sorted code arrays — same exact int/int double
    * division, merge-count numerator. */
  def jaccardCodes(a: Column, b: Column): Column = {
    val inter = intersectCount(a, b).cast("double")
    val uni = (size(a) + size(b)).cast("double") - inter
    when(uni > 0d, inter / uni).otherwise(lit(0d))
  }
}
