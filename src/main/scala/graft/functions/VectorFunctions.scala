package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.functions.expressions.{CosineSim, DotProduct, Fnv64, IntCosine, PqAdc, PortableSignBandKeys, QuantizeI8, RpCoords}

/** Column-level vector API over the custom Catalyst kernels plus the
  * random-hyperplane LSH used by the similarity operators
  * (SURVEY.md §2 #23-26). Everything is deterministic: hyperplanes
  * are derived from md5 inside the kernel. */
object VectorFunctions {

  private def c(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftSqlBridge.column(e)
  private def e(col: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    GraftSqlBridge.expression(col)

  /** Cast array<float> (parquet embeddings) to array<double> so both
    * engines (Spark kernel, DuckDB oracle) accumulate in double. */
  def asDouble(col: Column): Column = col.cast(ArrayType(DoubleType))

  def dot(a: Column, b: Column): Column = c(DotProduct(e(a), e(b)))

  /** Random-projection coordinates: 8 exact integer JL-sketch
    * coordinates per vector in one scan-stage pass (see RpCoords). */
  def rpCoords(v: Column): Column = c(RpCoords(e(v)))
  def cosine(a: Column, b: Column): Column = c(CosineSim(e(a), e(b)))
  def fnv64(a: Column): Column = c(Fnv64(e(a)))

  /** Symmetric int8 quantization: array<double> → array<int> codes in
    * [-127, 127] (scale = max|v|/127; the scale cancels in cosine, so
    * it is never stored). 4× smaller than float32 on disk/shuffle. */
  def quantizeI8(v: Column): Column = c(QuantizeI8(e(v)))

  /** Cosine over int8 codes: exact integer dot/norms, one double
    * division — order-independent and engine-portable. */
  def intCosine(a: Column, b: Column): Column = c(IntCosine(e(a), e(b)))

  /** PQ asymmetric-distance score: Σ_m lut[m*k + codes[m]] — the
    * M-table-reads candidate scan that never touches a float vector
    * (see PqAdc scaladoc). */
  def pqAdc(codes: Column, lut: Column, k: Int): Column =
    c(PqAdc(e(codes), e(lut), k))

  /** PORTABLE sign-LSH band keys — integer md5-affine hyperplanes +
    * 6 dp-quantized components + exact integer dots, so bucket
    * membership is replicable in any engine with `md5` (see
    * PortableSignBandKeys). The production LSH operators (#24, #26)
    * run on this form so their full pipelines are DuckDB-oracled.
    * Use with `posexplode` → (band, key). */
  def portableSignBandKeys(vec: Column, bands: Int, bits: Int,
      dim: Int = 64): Column =
    c(PortableSignBandKeys(e(vec), bands, bits, dim))
}
