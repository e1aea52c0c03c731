package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.operators.Similarity

/** Int8-quantization tests (SURVEY.md §2 #77): kernel values against
  * hand computation, scale-cancellation property, and quantized-ANN
  * recall vs the float-exact baseline. */
class QuantSpec extends SparkTestBase {
  import spark.implicits._

  test("QuantizeI8 codes match hand computation") {
    val rows = Seq(
      (1L, Seq(1.0, -1.0, 0.5, 0.0)),   // max|v|=1 -> s=1/127
      (2L, Seq(0.0, 0.0, 0.0)),          // all-zero vector
      (3L, Seq(-2.0, 1.0))               // negative max magnitude
    ).toDF("id", "v")
    val got = rows.select(col("id"), quantizeI8(col("v")).as("q"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(got(1L) == Seq(127, -127, 64, 0)) // 0.5/(1/127)=63.5 -> floor(64.0)=64
    assert(got(2L) == Seq(0, 0, 0))
    assert(got(3L) == Seq(-127, 64))         // 1/(2/127)=63.5 -> 64
  }

  test("IntCosine equals exact rational cosine and handles zero norms") {
    val rows = Seq(
      (1L, Seq(1, 2, 3), Seq(1, 2, 3)),   // identical -> 1.0
      (2L, Seq(1, 0), Seq(0, 1)),          // orthogonal -> 0.0
      (3L, Seq(0, 0), Seq(1, 1))           // zero norm -> null
    ).toDF("id", "a", "b")
    val got = rows.select(col("id"), intCosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(1L).contains(1.0))
    assert(got(2L).contains(0.0))
    assert(got(3L).isEmpty)
  }

  test("quantized cosine is scale-invariant (codes ignore vector norm)") {
    val v = Seq(0.3, -0.7, 0.12, 0.9)
    val rows = Seq((1L, v, v.map(_ * 1000.0))).toDF("id", "a", "b")
    val got = rows.select(
      intCosine(quantizeI8(col("a")), quantizeI8(col("b"))).as("c"))
      .as[Double].head()
    // identical codes give dot == na == nb, but sqrt(n)*sqrt(n) is
    // only n to within 1 ulp — compare with a tolerance
    assert(math.abs(got - 1.0) < 1e-12,
      s"same direction must quantize identically, got $got")
  }

  test("ann_quant recall vs ann_brute is high (int8 barely moves top-5)") {
    val brute = Similarity.annBrute(spark, SfDir)
      .select("q_id", "cand_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.annQuant(spark, SfDir)
      .select("q_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect quant).size.toDouble / brute.size
    info(s"ann_quant recall = $recall")
    assert(recall >= 0.8, s"int8 recall $recall too low")
  }

  test("int8 codes store ~4x smaller than float32 embeddings on parquet") {
    val e = graft.sources.Tables.load(spark, SfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val tmp = tempDir("quantstore")
    e.coalesce(1).write.mode("overwrite").parquet(s"$tmp/float32")
    e.select(col("vec_id"),
        quantizeI8(col("embedding").cast("array<double>")).as("codes"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/int8")
    def bytes(p: String): Long =
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.length()).sum
    val f32 = bytes(s"$tmp/float32"); val i8 = bytes(s"$tmp/int8")
    info(s"float32=$f32 B, int8=$i8 B, ratio=${f32.toDouble / i8}")
    // random floats are incompressible (~4 B/dim); the [-127,127]
    // codes bit-pack to ~1 B/dim — parquet should realize most of 4x
    assert(f32.toDouble / i8 >= 2.5, s"storage ratio only ${f32.toDouble / i8}")
    // and the stored codes serve the same search results
    val stored = spark.read.parquet(s"$tmp/int8")
    val q = stored.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("codes").as("qq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("cand_id").asc)
    val fromStore = stored.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        intCosine(col("qq"), col("codes")).as("cos"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "cand_id")
      .as[(Long, Long, Long)].collect().toSet
    val direct = graft.operators.Similarity.annQuant(spark, SfDir)
      .select("q_id", "rnk", "cand_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(fromStore == direct, "stored codes reproduce the quantized ANN")
  }

  test("quantize_i8 / int_cosine are on the SQL surface") {
    GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT int_cosine(quantize_i8(array(1.0d, 2.0d)), " +
        "quantize_i8(array(2.0d, 4.0d))) AS c").as[Double].head()
    assert(math.abs(got - 1.0) < 1e-12)
  }
}
