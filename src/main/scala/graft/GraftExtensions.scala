package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.expressions._

/** SQL surface of the graft kernels: every custom Catalyst expression
  * is exposed as a SQL function, so `spark.sql("SELECT cosine_sim(a,b)
  * …")` works the same as the Column API (SURVEY.md §4 — Spark-native
  * extension point, re-expressing the reference's "querying" purpose,
  * /root/reference/README.md:3).
  *
  * Two entry points, same registration list:
  *  - config `spark.sql.extensions=graft.GraftExtensions` at session
  *    build time (cluster deployment path);
  *  - `GraftFunctions.register(spark)` on a live session (notebook /
  *    test path).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftFunctions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions.expressions", null, name, usage, "")

  /** Scalar parameter extraction with real errors: a NULL literal
    * must not unbox to 0 (silently changing semantics), a BIGINT
    * literal must not ClassCastException, and a non-literal must say
    * so — `eval().asInstanceOf[Int]` did all three. */
  private def intArg(e: Expression, fn: String, param: String): Int = {
    require(e.foldable, s"$fn: $param must be a literal")
    e.eval() match {
      case n: Number => n.intValue
      case null =>
        throw new IllegalArgumentException(s"$fn: $param must not be NULL")
      case x => throw new IllegalArgumentException(
        s"$fn: $param must be an integer literal, got $x")
    }
  }
  /** (name, doc, builder) for every graft SQL function. */
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim",
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two double arrays"),
      (es: Seq[Expression]) => CosineSim(es(0), es(1))),
    ("dot_product",
      info("dot_product", "dot_product(a, b) - dot product of two double arrays"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))),
    ("fnv64",
      info("fnv64", "fnv64(s) - FNV-1a 64-bit fingerprint of a string"),
      (es: Seq[Expression]) => Fnv64(es(0))),
    ("portable_minhash_sig",
      info("portable_minhash_sig",
        "portable_minhash_sig(s, k) - k-element md5-based MinHash signature over word 2-shingles"),
      (es: Seq[Expression]) => PortableMinHashSig(es(0),
        intArg(es(1), "portable_minhash_sig", "k"))),
    ("portable_simhash32",
      info("portable_simhash32",
        "portable_simhash32(s) - md5-based 32-bit SimHash of the whitespace tokens"),
      (es: Seq[Expression]) => PortableSimHash32(es(0))),
    ("char_ngrams",
      info("char_ngrams", "char_ngrams(s, n) - distinct lowercase character n-grams"),
      (es: Seq[Expression]) => CharNgrams(es(0), intArg(es(1), "char_ngrams", "n"))),
    ("sig_agree",
      info("sig_agree", "sig_agree(a, b) - agreeing positions of two long-array signatures"),
      (es: Seq[Expression]) => LongArrayAgree(es(0), es(1))),
    ("portable_sign_band_keys",
      info("portable_sign_band_keys",
        "portable_sign_band_keys(vec, bands, bits, dim) - md5-based sign-LSH band keys of a double vector"),
      (es: Seq[Expression]) => PortableSignBandKeys(es(0),
        intArg(es(1), "portable_sign_band_keys", "bands"),
        intArg(es(2), "portable_sign_band_keys", "bits"),
        intArg(es(3), "portable_sign_band_keys", "dim"))),
    ("sentiment_counts",
      info("sentiment_counts",
        "sentiment_counts(s) - struct(n_pos, n_neg, n_tok) lexicon sentiment counts"),
      (es: Seq[Expression]) => SentimentCounts(es(0))),
    ("shingle_hashes",
      info("shingle_hashes",
        "shingle_hashes(s, w) - distinct 64-bit hashes of the word w-shingles"),
      (es: Seq[Expression]) => ShingleHashes(es(0),
        intArg(es(1), "shingle_hashes", "w"))),
    ("top_k",
      info("top_k",
        "top_k(value, id, k) - aggregate: k largest (value, id) pairs, bounded-heap state"),
      // cast up front so integer/decimal value and id columns work
      // from SQL (TopKAgg itself type-checks at analysis)
      (es: Seq[Expression]) => TopKAgg(
        org.apache.spark.sql.catalyst.expressions.Cast(es(0),
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.catalyst.expressions.Cast(es(1),
          org.apache.spark.sql.types.LongType),
        intArg(es(2), "top_k", "k")).toAggregateExpression()),
    ("pii_scrub",
      info("pii_scrub",
        "pii_scrub(s) - struct(n_emails, n_phones, clean_text): emails/phones counted and masked in one pass"),
      (es: Seq[Expression]) => PiiScrub(es(0))),
    ("quality_stats",
      info("quality_stats",
        "quality_stats(s) - struct(n_chars, n_tok, n_punct, n_stop) quality-scoring ingredients in one pass"),
      (es: Seq[Expression]) => QualityStats(es(0))),
    ("lex_stats",
      info("lex_stats",
        "lex_stats(s) - struct(n_tok, n_types, hapax, tf2): per-document lexical-diversity moments in one pass, no token explode"),
      (es: Seq[Expression]) => LexStats(es(0))),
    ("trigram_stats",
      info("trigram_stats",
        "trigram_stats(s) - struct(n_tok, n_tg, n_dup): token-trigram duplication stats, no trigram strings materialized"),
      (es: Seq[Expression]) => TrigramStats(es(0))),
    ("token_counts",
      info("token_counts",
        "token_counts(s) - struct(ws, bpe): whitespace and BPE-pretokenizer token counts in one pass"),
      (es: Seq[Expression]) => TokenCounts(es(0))),
    ("bloom_agg",
      info("bloom_agg",
        "bloom_agg(h, bits, k) - aggregate: Bloom filter over bigint hashes, OR-merged map-side -> self-describing binary"),
      (es: Seq[Expression]) => BloomAgg(es(0),
        intArg(es(1), "bloom_agg", "bits"),
        intArg(es(2), "bloom_agg", "k")).toAggregateExpression()),
    ("bloom_might_contain",
      info("bloom_might_contain",
        "bloom_might_contain(filter, h) - membership probe, no false negatives"),
      (es: Seq[Expression]) => BloomMightContain(es(0), es(1))),
    ("quantize_i8",
      info("quantize_i8",
        "quantize_i8(v) - symmetric int8 quantization of a double array (codes in [-127,127])"),
      (es: Seq[Expression]) => QuantizeI8(es(0))),
    ("rp_coords",
      info("rp_coords",
        "rp_coords(v) - 8 exact integer random-projection (JL) coordinates of a double array in one pass"),
      (es: Seq[Expression]) => RpCoords(es(0))),
    ("vec_moments",
      info("vec_moments",
        "vec_moments(v) - aggregate: per-dimension embedding moments (n, integer micro-unit sum/sum2, min, max, zero count) with O(dims) state, no explode"),
      (es: Seq[Expression]) => VecMomentsAgg(es(0)).toAggregateExpression()),
    ("int_cosine",
      info("int_cosine",
        "int_cosine(a, b) - cosine of two int-code arrays via exact integer dot/norms"),
      (es: Seq[Expression]) => IntCosine(es(0), es(1))),
    ("freq_sketch",
      info("freq_sketch",
        "freq_sketch(key, capacity) - aggregate: Misra-Gries heavy hitters over bigint keys -> struct(items array<struct<item,est>>, max_err); exact while distinct keys <= capacity"),
      (es: Seq[Expression]) => FreqSketchAgg(es(0),
        intArg(es(1), "freq_sketch", "capacity")).toAggregateExpression()),
    ("pq_adc",
      info("pq_adc",
        "pq_adc(codes, lut, k) - PQ asymmetric-distance score: sum of lut[m*k+codes[m]] over the m sub-codebooks"),
      (es: Seq[Expression]) => PqAdc(es(0), es(1),
        intArg(es(2), "pq_adc", "k"))),
    ("image_meta",
      info("image_meta",
        "image_meta(bin) - struct(format, width, height, channels) parsed from a PNG/JPEG container header; NULL if unrecognized"),
      (es: Seq[Expression]) => ImageMeta(es(0))),
    ("audio_meta",
      info("audio_meta",
        "audio_meta(bin) - struct(codec, channels, sample_rate, bits, n_frames) parsed from a RIFF/WAVE header; NULL if unrecognized"),
      (es: Seq[Expression]) => AudioMeta(es(0))),
    ("video_meta",
      info("video_meta",
        "video_meta(bin) - struct(brand, timescale, duration, n_tracks) parsed from an ISO-BMFF (MP4) box tree; NULL if unrecognized"),
      (es: Seq[Expression]) => VideoMeta(es(0))),
    ("byte_histogram",
      info("byte_histogram",
        "byte_histogram(bin, bins) - normalized byte-value histogram as array<double> of `bins` frequencies (bins divides 256); NULL for empty input"),
      (es: Seq[Expression]) => ByteHistogram(es(0),
        intArg(es(1), "byte_histogram", "bins"))),
    ("dsum",
      info("dsum",
        "dsum(x) - aggregate: exact order-independent sum of doubles (rounded once to 6 dp, 128-bit accumulator) -> double"),
      (es: Seq[Expression]) => org.apache.spark.sql.catalyst.expressions.Cast(
        DecimalSum128(
          org.apache.spark.sql.catalyst.expressions.UnscaledValue(
            org.apache.spark.sql.catalyst.expressions.Cast(es(0),
              org.apache.spark.sql.types.DecimalType(18, 6))))
          .toAggregateExpression(),
        org.apache.spark.sql.types.DoubleType))
  )

  /** Register every graft function on a live session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, i, builder) =>
      GraftSqlBridge.registerFunction(spark, name, i, builder)
    }
}
