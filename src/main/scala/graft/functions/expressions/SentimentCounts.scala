package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Lexicon-based sentiment counts (SURVEY.md §2 #66) — the scoring
  * kernel behind the reference's "text analyzed data" dashboard
  * promise (/root/reference/README.md:3): for each text, the number
  * of positive-lexicon tokens, negative-lexicon tokens, and total
  * whitespace tokens, as one struct.
  *
  * One tight JVM loop per row (shared byte-level tokenizer with the
  * signature kernels — one XXH64 per lowercased token, compared
  * against the pre-hashed lexicons), invoked from generated code via
  * a static call. The composed higher-order-function form
  * (`size(filter(split(...), isInCollection))` twice) is interpreted
  * and re-tokenizes per lexicon; this runs once per row inside
  * whole-stage codegen — the difference between one pass and four
  * over a 100 TB corpus.
  *
  * Tokenization matches the repo-wide convention (lowercase,
  * whitespace-split — identical to `string_split_regex(lower(trim(
  * text)), '\s+')` in the DuckDB oracle for non-blank text), so the
  * counts are exactly SQL-expressible and hash-checkable.
  */
case class SentimentCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = SentimentCounts.Schema
  override def nullSafeEval(v: Any): Any =
    SentimentCounts.compute(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.SentimentCounts.compute($c);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SentimentCounts {
  val Schema: StructType = StructType(Seq(
    StructField("n_pos", IntegerType, nullable = false),
    StructField("n_neg", IntegerType, nullable = false),
    StructField("n_tok", IntegerType, nullable = false)))

  /** Financial-news lexicon, tuned to the synthetic corpus vocabulary
    * (lexicons are corpus-tuned by nature; the operator's contract is
    * determinism + exact SQL expressibility, not linguistic
    * coverage). Referenced verbatim by the DuckDB oracles — keep the
    * three definitions in sync. */
  val PosWords: Seq[String] =
    Seq("good", "great", "gain", "up", "fast", "big", "purchase", "signup")
  val NegWords: Seq[String] =
    Seq("bad", "poor", "loss", "down", "slow", "small", "error")

  private def wordHash(w: String): Long = {
    val b = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      b.length, 0)
  }
  private val PosH: Array[Long] = PosWords.map(wordHash).toArray
  private val NegH: Array[Long] = NegWords.map(wordHash).toArray

  /** Single-pass kernel: token XXH64s (shared tokenizer,
    * [[ShingleHashes.tokenHashes]]) matched against the pre-hashed
    * lexicons by linear scan (|lexicon| ≤ 8 longs — cheaper than any
    * set structure). Hash-equality equals string-equality up to XXH64
    * collisions (~2^-64 per pair; the oracle compares strings, so a
    * collision would surface as a hash mismatch — none possible on
    * these vocabularies, verified by the unit test vectors). */
  def compute(text: UTF8String): InternalRow = {
    val th = ShingleHashes.tokenHashes(text)
    var pos = 0
    var neg = 0
    var i = 0
    while (i < th.length) {
      val h = th(i)
      var j = 0
      while (j < PosH.length) { if (h == PosH(j)) pos += 1; j += 1 }
      j = 0
      while (j < NegH.length) { if (h == NegH(j)) neg += 1; j += 1 }
      i += 1
    }
    new GenericInternalRow(Array[Any](pos, neg, th.length))
  }
}
