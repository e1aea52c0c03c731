package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.VectorFunctions._

/** Embedding similarity operators over `embeddings` (SURVEY.md §2
  * #23-26): the exact cosine kernel, brute-force ANN as the exact
  * baseline, and sign-LSH bucketed variants as the 100 TB path.
  *
  * Scale design (§5): the brute-force variant broadcasts only the
  * (tiny) query set — the candidate corpus streams through
  * partitions; the LSH variants shuffle O(rows × bands) bucket keys
  * and compare only within buckets. No unbounded cartesian product.
  */
object Similarity {

  // 8 tables × 5-bit keys (40 hyperplanes): tuned for a near-isotropic
  // corpus where true top-5 neighbors sit at cos≈0.4 (sign-agreement
  // p≈0.63) → expected recall 1-(1-p^5)^8 ≈ 0.55 while probing ~20%
  // of the corpus. Clustered real-world embeddings (higher p) push
  // recall toward 1 at the same cost. L and r are per-corpus knobs.
  val LshBands = 8
  val LshBitsPerBand = 5
  val EmbBucketCap = 512
  val Dim = 64

  private[graft] def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("vec"), col("label"))

  /** #23 Exact cosine kernel on aligned pairs (vec_id, vec_id+1) via
    * the codegen'd CosineSim expression; DuckDB-oracled. */
  def cosinePairs(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val a = e.select(col("vec_id").as("vec_a"), col("vec").as("va"))
    val b = e.select(col("vec_id").as("vec_b"), col("vec").as("vb"))
    a.join(b, col("vec_a") + 1 === col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .orderBy("vec_a")
  }

  /** Sample cap + thresholds for [[dedupCurve]] — the curve is a
    * TUNING report, computed exactly on a deterministic id-prefix
    * sample so its cost is sample², independent of corpus size (the
    * production dedup pass at the chosen threshold is the LSH/IVF
    * family, #24/#93). Thresholds sit across the corpus' observed
    * cosine range so every row discriminates. */
  val CurveSample = 2000L
  val CurveThresholds: Seq[Double] = Seq(0.30, 0.35, 0.40, 0.45, 0.50)

  /** #175 Dedup threshold-tuning curve: for each candidate cosine
    * threshold, the exact number of qualifying pairs and of distinct
    * vectors involved — the "how aggressive is this cutoff" curve a
    * curation team reads before committing a dedup pass. Pairs are
    * scored once — the codegen cosine kernel's value from per-vector
    * norms, 6 dp-rounded before every threshold compare, so
    * membership is engine-exact (R22EquivalenceSpec pins it to the
    * kernel's pair scan) — then a
    * threshold-spine left join keeps zero rows visible. Broadcast
    * self-join over the bounded sample; output |thresholds| rows. */
  def dedupCurve(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).filter(col("vec_id") < CurveSample)
    // Norms hoisted OUT of the O(sample²) pair loop (round 22,
    // VERDICT r21 #2): the CosineSim kernel re-accumulates BOTH row
    // norms per pair — 3·d multiplies per kernel call. Each side's
    // sqrt(Σx²) is computed once per VECTOR instead (DotProduct(v,v)
    // accumulates the same products in the same element order, and
    // sqrt of that same double is the kernel's own na/nb), leaving
    // the pair loop one dot product plus a multiply/divide —
    // bit-identical before the 6 dp round, including the den == 0 →
    // null → filtered-out path.
    // spread the streamed side over the session's cores before the
    // broadcast pair loop (round 21, JobProfile): the sample reads
    // from 8 input splits, so the O(sample²) cosine scan ran on 8
    // tasks with the other cores idle; repartitioning the 2000-row
    // lean side is a ~100 KB shuffle. defaultParallelism —
    // scale-adaptive, not a local constant.
    val a = e.select(col("vec_id").as("ia"), col("vec").as("va"),
        sqrt(dot(col("vec"), col("vec"))).as("na"))
      .repartition(spark.sparkContext.defaultParallelism)
    val b = e.select(col("vec_id").as("ib"), col("vec").as("vb"),
        sqrt(dot(col("vec"), col("vec"))).as("nb"))
    val den = col("na") * col("nb")
    val cos = when(den === 0d, lit(null))
      .otherwise(dot(col("va"), col("vb")) / den)
    val pairs = a.join(broadcast(b), col("ia") < col("ib"))
      .select(col("ia"), col("ib"), round(cos, 6).as("c"))
      .filter(col("c") >= CurveThresholds.min)
      // pin: kept by the per-call A/B in CHANGES.md (dedup_curve)
      .localCheckpoint()
    val spine = spark.createDataFrame(
      CurveThresholds.map(Tuple1(_))).toDF("threshold")
    val q = pairs.select(col("ia"), col("ib"), col("c"),
        explode(array(CurveThresholds.map(lit): _*)).as("threshold"))
      .filter(col("threshold") <= col("c"))
    val nPairs = q.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val nDocs = q.select(col("threshold"), col("ia").as("vec"))
      .unionByName(q.select(col("threshold"), col("ib").as("vec")))
      .distinct()
      .groupBy("threshold").agg(count(lit(1)).as("n_docs"))
    spine.join(nPairs, Seq("threshold"), "left")
      .join(nDocs, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("threshold")
  }

  /** #25 Brute-force ANN: top-5 cosine neighbors for query vectors
    * (vec_id < 8). The query side is broadcast; ranking is a per-query
    * window with deterministic tiebreak. */
  def annBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("vec").as("qvec"))
    val scored = e.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosine(col("qvec"), col("vec")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  // Near-dup banding is TIGHTER than ANN banding: a near-duplicate
  // (cos ≥ 0.9, sign-agreement p ≈ 0.91) survives a 12-bit band with
  // p^12 ≈ 0.32, so 8 bands give ~95% recall — while the number of
  // chance bucket collisions (the candidate-pair cost) drops by
  // 2^7 vs the 5-bit ANN keys. ANN keys stay loose because they must
  // recall moderate-cosine neighbors, not just twins.
  val NearDupBitsPerBand = 12

  /** Append (band, key) per band via the single-call
    * PortableSignBandKeys kernel (one codegen'd static call per row —
    * the per-plane literal-expression form costs seconds of Janino
    * compile time in every stage that embeds it). PORTABLE since
    * round 13: integer md5-affine hyperplanes + 6 dp-quantized
    * components + exact integer dot signs, so bucket membership —
    * and therefore the ENTIRE ann_lsh / dedup_embed pipeline — is
    * hash-verifiable against the DuckDB oracle (the move that
    * converted dedup_minhash/dedup_simhash from rows-only to
    * hash-exact in round 11). */
  private def withBands(df: DataFrame, vecCol: String = "vec",
      bits: Int = LshBitsPerBand): DataFrame =
    df.select(col("*"),
        posexplode(portableSignBandKeys(col(vecCol), LshBands, bits, Dim)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "key")

  /** #26 LSH ANN: queries probe only the buckets sharing one of their
    * band keys; exact re-rank inside the candidate set. The bucket
    * probe and the distinct both move only (q_id, cand_id) id pairs —
    * the 64-dim vectors are joined back afterwards (queries broadcast;
    * the corpus side is an id-keyed join the planner broadcasts at
    * small SF and hash-shuffles at scale). Fully DuckDB-oracled since
    * round 13: portable integer banding makes the candidate set
    * engine-exact, and the re-rank cosine is 6 dp-rounded — recall vs
    * annBrute is additionally asserted in SimilaritySpec. */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cands = withBands(e.select(col("vec_id"), col("vec")))
      .select(col("vec_id"), col("band"), col("key"))
    val qside = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("vec").as("qvec"))
    val queries = withBands(qside, "qvec")
      .select(col("q_id"), col("band"), col("key"))
    val idPairs = broadcast(queries).join(cands, Seq("band", "key"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"))
      .distinct()
    // 6 dp-round BEFORE ranking (the kmeansRefine discipline, ADVICE
    // r13): ordering on the raw double would silently rely on Spark's
    // cosine being bit-identical to DuckDB's — rounding both engines
    // first makes the rank (and its cand_id tiebreak) engine-exact.
    val matched = idPairs
      .join(broadcast(qside.select(col("q_id"), col("qvec"))), "q_id")
      .join(e.select(col("vec_id").as("cand_id"), col("vec")), "cand_id")
      .select(col("q_id"), col("cand_id"),
        round(cosine(col("qvec"), col("vec")), 6).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("cand_id").asc)
    matched.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("cand_id"), col("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  // IVF parameters: C cells seeded from a deterministic pseudo-random
  // sample then refined with Lloyd iterations, nprobe cells probed
  // per query.
  val IvfCells = 32
  val IvfProbe = 10
  val IvfKmeansIters = 8
  // Recall levers (VERDICT r3 #6). Probing is what bounds IVF recall
  // here — candidates are exact-scored on full vectors, so PQ residual
  // scoring would trade accuracy for memory we don't need at this
  // vector width; the standard recall fixes are instead:
  //  - multi-assignment: index every vector in its IvfAssign nearest
  //    cells (2× index entries, same query cost shape), so a vector
  //    near a cell boundary is findable from both sides;
  //  - adaptive probing: beyond the fixed IvfProbe nearest cells, also
  //    probe cells whose centroid similarity is within IvfProbeMargin
  //    of the query's best cell (hard cap IvfProbeMax keeps the scan
  //    fraction bounded) — queries that land between cells probe
  //    wider, central queries stay cheap.
  // Tuned on the isotropic test corpus (grid-searched round 7):
  // 8 Lloyd iterations + 3× assignment + 10-of-32 probe with a 0.12
  // adaptive margin give recall 0.95-1.0 vs ann_brute (was 0.65-0.75
  // at 2 iters / 2× / 6 cells). Isotropic embeddings are IVF's
  // worst case — neighbor/query cell assignments correlate weakly, so
  // a high recall target forces a high scanned fraction (~2/3 here);
  // on clustered real-world embeddings the SAME margin-probing scans
  // far less because queries sit inside well-separated cells. The
  // cost SHAPE (rows × C broadcast product, cell-keyed probe join)
  // is unchanged by these knobs.
  val IvfAssign = 3
  val IvfProbeMargin = 0.12
  val IvfProbeMax = 14

  /** Lloyd's k-means refinement of an IVF centroid set, expressed as
    * DataFrame ops: assign (broadcast centroids → per-vector argmax),
    * recompute (element-wise mean via posexplode + decimal-exact avg
    * so the result is partition-order independent → deterministic on
    * any cluster). Empty cells drop out. Cost per iteration is one
    * broadcast pass over the corpus + one (cell, dim)-keyed shuffle
    * of scalars — at 100 TB centroids train on a sampled slice, but
    * the plan shape is identical. */
  def kmeansRefine(e: DataFrame, seedCentroids: DataFrame,
      iters: Int): DataFrame = {
    // assignment argmax on the 6 dp-ROUNDED cosine (c_id tiebreak):
    // a full-precision argmax would let a boundary vector whose top-2
    // cells sit within float-noise of each other flip cells between
    // engines and cascade into every later iteration's means — the
    // round-13 discipline that makes the whole Lloyd loop (and the
    // semantic_dedup oracle built on it) engine-exact. Recall impact
    // is nil: a ≤1e-6 cosine gap is far below any meaningful
    // cluster-quality difference.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(round(col("cs"), 6).desc,
        col("c_id").asc)
    var c = seedCentroids
    for (_ <- 1 to iters) {
      val assigned = e.crossJoin(broadcast(c))
        .select(col("vec_id"), col("vec"), col("c_id"),
          cosine(col("vec"), col("cvec")).as("cs"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      c = assigned
        .select(col("c_id"), posexplode(col("vec")))
        .groupBy("c_id", "pos")
        .agg(graft.operators.Num.davg(col("col")).as("m"))
        .groupBy("c_id")
        .agg(collect_list(struct(col("pos"), col("m"))).as("pm"))
        .select(col("c_id"),
          expr("transform(array_sort(pm), x -> x.m)").as("cvec"))
    }
    c
  }

  /** Deterministic seed sample + Lloyd refinement over an arbitrary
    * training slice, a corpus artifact per `variant`: the centroid set
    * is a bounded model (C × dim doubles — here 32×64), trained once
    * per corpus and reused by every probe query, exactly like a
    * production IVF index; its driver-side materialization is bounded
    * by C, never by data size (the slice form exists for the append
    * path, whose centroids must be trained on the BASE corpus only —
    * the whole point of append-without-retrain). With [[ModelStore]]
    * enabled the trained table persists once per corpus and later
    * sessions LOAD it (round 17, VERDICT r16 #5) instead of re-running
    * Lloyd. */
  private[graft] def trainCentroidsOf(spark: SparkSession, e: DataFrame,
      dir: String, variant: String, iters: Int): DataFrame = {
    import spark.implicits._
    val cached = graft.CorpusCache.value(spark, dir, "embeddings",
        "centroids" + variant) {
      ModelStore.table(spark, dir,
        "centroids" + variant.replace('#', '_'), "embeddings") {
        lloydTrain(e, iters)
      }.as[(Long, Seq[Double])].collect().toSeq
    }
    cached.toDF("c_id", "cvec")
  }

  /** The raw training plan behind [[trainCentroidsOf]] — seed sample
    * plus Lloyd refinement, NO cache and NO store (also the body the
    * ArtifactSpec concurrent-publisher race drives directly, so both
    * racing threads genuinely retrain). */
  private[graft] def lloydTrain(e: DataFrame, iters: Int): DataFrame = {
    val seed = e
      // PORTABLE pseudo-random sample order (round 13): the md5
      // tail-32 of the id string, not Murmur3 `hash` — so the
      // DuckDB semantic_dedup oracle can replay seed selection
      // exactly. Same spread properties; nothing else changes.
      .select(col("vec_id").as("c_id"), col("vec").as("cvec"),
        conv(substring(md5(col("vec_id").cast("string")), 25, 8),
          16, 10).cast("long").as("h"))
      // c_id tiebreak: hash alone is not a total order, and the
      // limit boundary must be run-independent
      .orderBy(col("h"), col("c_id")).limit(IvfCells).drop("h")
    kmeansRefine(e.select(col("vec_id"), col("vec")), seed, iters)
      .select(col("c_id"), col("cvec"))
  }

  /** Deterministic seed sample + Lloyd refinement, cached per corpus. */
  def trainedCentroids(spark: SparkSession, dir: String,
      iters: Int = IvfKmeansIters): DataFrame =
    trainCentroidsOf(spark, emb(spark, dir), dir, "#" + iters, iters)

  /** #26b IVF ANN: partition the corpus into centroid cells, probe
    * each query's nprobe nearest cells, exact re-rank inside. The
    * only cross product is rows × C (broadcast, C bounded); the probe
    * join is hash-partitioned on cell id. Rows-only; recall gated in
    * SimilaritySpec. */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    annIvfWith(spark, dir, IvfAssign, IvfProbe, IvfProbeMargin, IvfProbeMax)

  /** The index-build half of IVF: every vector lands in its `assign`
    * nearest cells (broadcast centroid argmax — the only cross
    * product is rows × C). Output is the persistable posting layout
    * `(cell, vec_id, vec)`. */
  private[graft] def ivfAssignCells(e: DataFrame, centroids: DataFrame,
      assign: Int): DataFrame = {
    // 6 dp-rounded argmax (round 15): the same engine-portability
    // discipline as kmeansRefine's assignment — raw-float cell ranks
    // can flip between engines for boundary vectors, and the rank
    // decides the INDEX layout, so the full ann_ivf oracle needs the
    // rounded order. Recall-neutral (a ≤1e-6 cosine gap).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(round(col("cs"), 6).desc,
        col("c_id").asc)
    e.crossJoin(centroids)
      .select(col("vec_id"), col("vec"), col("c_id"),
        cosine(col("vec"), col("cvec")).as("cs"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= assign)
      .select(col("c_id").as("cell"), col("vec_id"), col("vec"))
  }

  /** Parametrized IVF probe (the public operator uses the tuned
    * defaults above; tests/experiments can widen or narrow). */
  def annIvfWith(spark: SparkSession, dir: String, assign: Int,
      probe: Int, margin: Double, probeMax: Int,
      iters: Int = IvfKmeansIters): DataFrame = {
    val e = emb(spark, dir)
    val centroids = broadcast(trainedCentroids(spark, dir, iters))
    val assigned = ivfAssignCells(e, centroids, assign)
    ivfSearch(e, centroids, assigned, probe, margin, probeMax)
  }

  /** The query half of IVF over any posting set (freshly assigned or
    * read back from a persisted index): probe each query's cells,
    * dedup multi-assigned candidates, exact-cosine re-rank. */
  private[graft] def ivfSearch(e: DataFrame, centroids: DataFrame,
      assigned: DataFrame, probe: Int, margin: Double,
      probeMax: Int): DataFrame =
    ivfServe(e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("vec").as("qvec")),
      centroids, assigned, probe, margin, probeMax)

  /** [[ivfSearch]] with the probe set supplied by the CALLER — the
    * serving entry point (round 18, VERDICT r17 next-round #7): a
    * probe micro-batch from a stream runs through exactly the code
    * path the batch queries are oracled on. `queryVecs` must carry
    * (q_id, qvec). */
  private[graft] def ivfServe(queryVecs: DataFrame, centroids: DataFrame,
      assigned: DataFrame, probe: Int, margin: Double,
      probeMax: Int): DataFrame = {
    // probe selection on the 6 dp-ROUNDED centroid cosine (round 15):
    // rank, best-cell anchor and the adaptive margin all compare
    // rounded values, so the probed cell SET is engine-exact and the
    // tuned ann_ivf query carries a full DuckDB oracle (previously
    // rows-only). round() is decimal half-up in both engines →
    // bit-identical doubles; `best - margin` is then one identical
    // float op on each side.
    val qw = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cs").desc, col("c_id").asc)
    val qb = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
    val probes = queryVecs
      .crossJoin(centroids)
      .select(col("q_id"), col("qvec"), col("c_id"),
        round(cosine(col("qvec"), col("cvec")), 6).as("cs"))
      .withColumn("rn", row_number().over(qw))
      .withColumn("best", max(col("cs")).over(qb))
      .filter(col("rn") <= probe ||
        (col("cs") >= col("best") - margin &&
          col("rn") <= probeMax))
      .select(col("q_id"), col("qvec"), col("c_id").as("cell"))
    val scored = probes.join(assigned, "cell")
      .filter(col("q_id") =!= col("vec_id"))
      // multi-assignment can surface the same candidate from two
      // probed cells — collapse before the exact score
      .dropDuplicates("q_id", "vec_id")
      .select(col("q_id"), col("vec_id").as("cand_id"),
        round(cosine(col("qvec"), col("vec")), 6).as("cos"))
    // rank on the rounded score (the ann_brute discipline — ties
    // break by cand_id identically on both engines)
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rnk", row_number().over(rw).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("cand_id"),
        col("cos").as("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  /** #35 exhaustive configuration: probe EVERY cell. With all C cells
    * probed, each indexed vector is a candidate regardless of its
    * cell assignment, and the exact cosine re-rank makes the result
    * identical to [[annBrute]] — which is what turns the IVF
    * machinery (assignment window, probe join, dedup, re-rank) into a
    * hash-verifiable query: `ann_ivf_exact` shares ann_brute's DuckDB
    * oracle verbatim. The production `ann_ivf` keeps its tuned
    * nprobe &lt; C recall/cost trade (rows-only + recall spec); this row
    * proves the machinery it rides is lossless. */
  def annIvfExact(spark: SparkSession, dir: String): DataFrame =
    annIvfWith(spark, dir, assign = 1, probe = IvfCells, margin = 0.0,
      probeMax = IvfCells)

  /** #119 Persisted IVF index: build once as tables, query many times
    * — the 100 TB deployment shape, where index construction is a
    * batch job (Lloyd training + the rows × C assignment pass over
    * the full corpus) and every later query session reads back only
    * `centroids` (broadcast, C rows) plus the cell-keyed postings it
    * probes. Layout: `<root>/centroids.parquet` (c_id, cvec) and
    * `<root>/postings.parquet` (cell, vec_id, vec) — postings
    * REPARTITIONED BY CELL so each probe touches whole files, the
    * same locality a partitioned table gives a pruned scan. Doubles
    * are parquet-exact, so a round-tripped index is bit-identical to
    * the in-memory one (asserted in SimilaritySpec and by the
    * `ann_indexed` oracle). */
  def buildIvfIndex(spark: SparkSession, dir: String, root: String,
      assign: Int = IvfAssign, iters: Int = IvfKmeansIters): Unit = {
    val e = emb(spark, dir)
    val centroids = broadcast(trainedCentroids(spark, dir, iters))
    centroids.write.mode("overwrite").parquet(s"$root/centroids.parquet")
    ivfAssignCells(e, centroids, assign)
      .repartition(col("cell"))
      .write.mode("overwrite").parquet(s"$root/postings.parquet")
  }

  /** Query the PERSISTED index with the tuned probe settings —
    * bit-identical to [[annIvf]] (same trained centroids, same
    * postings, read back through parquet). Rows-only like annIvf;
    * equality with the in-memory path is a SimilaritySpec assert. */
  def annIvfIndexedTuned(spark: SparkSession, dir: String): DataFrame =
    searchIndex(spark, dir, IvfProbe, IvfProbeMargin, IvfProbeMax)

  /** `ann_indexed`: exhaustive probe of the PERSISTED index — every
    * cell probed ⇒ brute-force result (see [[annIvfExact]]), which
    * hash-verifies the full persistence round trip (build → parquet
    * → read → probe): a lost or corrupted posting row, a truncated
    * vector, or a float/double fidelity break all surface as oracle
    * mismatches. */
  def annIndexed(spark: SparkSession, dir: String): DataFrame =
    searchIndex(spark, dir, IvfCells, 0.0, IvfCells)

  private def searchIndex(spark: SparkSession, dir: String, probe: Int,
      margin: Double, probeMax: Int): DataFrame = {
    val (centroids, postings) = ivfIndexTables(spark, dir)
    ivfSearch(emb(spark, dir), broadcast(centroids), postings, probe,
      margin, probeMax)
  }

  /** The `ann_indexed` query's index, a
    * [[graft.sources.StagePath.derived]] copy of the embeddings. v2:
    * centroid derivation changed in round 13 (portable seed hash +
    * rounded-argmax Lloyd), and the version in the name orphans an
    * index a previous build left, which the mtime key alone cannot
    * catch (the corpus didn't change; the model code did). */
  private def indexRoot(dir: String, tag: String)(
      build: String => Unit): String =
    graft.sources.StagePath.derived(dir, Seq("embeddings"),
      s"ivf_index_v2$tag")(build)

  /** The persisted #119 index tables (built first if absent) — also
    * the STATIC side of the streaming serving twin
    * [[graft.streaming.EventStream.annServe]]. */
  def ivfIndexTables(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val root = indexRoot(dir, "")(buildIvfIndex(spark, dir, _))
    (spark.read.parquet(s"$root/centroids.parquet"),
      spark.read.parquet(s"$root/postings.parquet"))
  }

  /** Every third vector is "new" in the append scenario. */
  val AppendMod = 3L

  /** #124 Incremental index append — the daily life of a production
    * vector index: the corpus grows, and re-training + re-building
    * the whole index per batch is a non-starter at 100 TB. Here the
    * index is BUILT on the base corpus only (vec_id % 3 ≠ 0 — its
    * centroids never see the new batch), then the batch (vec_id % 3
    * = 0) is assigned to the FROZEN centroid set and appended to the
    * postings table with `mode(append)` — existing posting files are
    * untouched (asserted in SimilaritySpec), the commit adds only
    * the new batch's cell-partitioned files, exactly how a versioned
    * table grows.
    *
    * Correctness gate: the exhaustive probe over the MERGED postings
    * must equal brute force over the FULL corpus — shared
    * AnnExactTopkSql oracle — so a lost appended row, a base file
    * clobbered by the append, or a drifted centroid assignment all
    * surface as a hash mismatch. (Recall of the tuned probe over an
    * appended index is the spec's business; this query certifies the
    * append MACHINERY is lossless.) */
  def annAppend(spark: SparkSession, dir: String): DataFrame = {
    val root = indexRoot(dir, "_append") { root =>
      val e = emb(spark, dir)
      val base = e.filter(pmod(col("vec_id"), lit(AppendMod)) =!= 0L)
      val batch = e.filter(pmod(col("vec_id"), lit(AppendMod)) === 0L)
      val centroids = broadcast(trainCentroidsOf(spark, base,
        dir, "#append", IvfKmeansIters))
      centroids.write.parquet(s"$root/centroids.parquet")
      ivfAssignCells(base, centroids, IvfAssign)
        .repartition(col("cell"))
        .write.parquet(s"$root/postings.parquet")
      // the append: frozen centroids, new rows only, additive commit
      ivfAssignCells(batch, centroids, IvfAssign)
        .repartition(col("cell"))
        .write.mode("append").parquet(s"$root/postings.parquet")
    }
    val centroids =
      broadcast(spark.read.parquet(s"$root/centroids.parquet"))
    val postings = spark.read.parquet(s"$root/postings.parquet")
    ivfSearch(emb(spark, dir), centroids, postings, IvfCells, 0.0,
      IvfCells)
  }

  /** #120 Filtered (hybrid) ANN: top-k under a metadata predicate —
    * here each query's neighbors within its OWN label class (the
    * curation shape: "near-dups from the same source/language only").
    * The per-query predicate becomes the JOIN KEY (broadcast hash
    * join on label), so only same-label pairs are ever scored — at
    * 100 TB this is a label-partitioned probe, and a LITERAL
    * predicate instead would push into the parquet scan before any
    * scoring. Exact within the filtered set ⇒ fully oracled. */
  def annFiltered(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("vec").as("qvec"),
        col("label").as("q_label"))
    val scored = e.join(broadcast(queries),
        col("label") === col("q_label") &&
          col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosine(col("qvec"), col("vec")).as("cos"))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rnk", row_number().over(rw).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  /** The (label, pos, m) dimension means — shared by the reporting
    * query and the cached assignment model, so the model build does
    * not pay the report's presentation sort / support-count join. */
  private def centroidDims(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir)
      .select(col("label"), posexplode(col("vec")))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg(graft.operators.Num.davg(col("col")).as("m"))

  /** #72 Per-label embedding centroids (prototype vectors — class
    * means for classifier init / nearest-centroid labeling / drift
    * monitoring). Long form (label, pos, m): one decimal-exact mean
    * per (label, dimension), the same partition-order-independent
    * recompute shape as [[kmeansRefine]]'s assignment step, plus the
    * per-label support count. One explode pass + one (label, pos)
    * shuffle of scalars — no vector ever rides a shuffle. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val n = emb(spark, dir).groupBy("label")
      .agg(count(lit(1)).as("n_vecs"))
    centroidDims(spark, dir)
      .join(broadcast(n), "label")
      .select("label", "pos", "m", "n_vecs")
      .orderBy("label", "pos")
  }

  /** #73 Nearest-centroid assignment + confusion matrix: classify
    * every vector by its cosine-nearest label centroid (from
    * [[labelCentroids]]) and aggregate (true, predicted) counts with
    * a decimal-exact mean cosine — the pseudo-labeling / label-drift
    * report a training pipeline runs after computing prototypes. The
    * centroid table is |labels| rows → broadcast; the argmax is the
    * bounded rows×|labels| broadcast-product + per-vector window, the
    * same shape as [[annIvf]]'s assignment step. */
  // Label centroids: the bounded corpus-artifact pattern of
  // [[trainedCentroids]] — |labels| rows × dim doubles, computed once
  // per corpus, reused by every assignment query. The collect is
  // bounded by label cardinality, never by data size.
  def centroidAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cached = graft.CorpusCache.value(spark, dir, "embeddings",
        "label_centroids") {
      ModelStore.table(spark, dir, "label_centroids", "embeddings") {
        centroidDims(spark, dir)
          .groupBy(col("label").as("c_label"))
          .agg(expr("transform(array_sort(collect_list(struct(pos, m))), t -> t.m)")
            .as("cvec"))
      }.as[(Int, Seq[Double])].collect().toSeq
    }
    val cvecs = cached.toDF("c_label", "cvec")
    val e = emb(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("cs").desc, col("c_label").asc)
    e.crossJoin(broadcast(cvecs))
      .select(col("vec_id"), col("label"), col("c_label"),
        cosine(col("vec"), col("cvec")).as("cs"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("label").as("true_label"), col("c_label").as("pred_label"))
      .agg(count(lit(1)).as("n_vecs"),
        graft.operators.Num.davg(col("cs")).as("avg_cos"))
      .orderBy("true_label", "pred_label")
  }

  /** Within-cluster similarity floor for [[semanticDedup]]. A
    * per-corpus knob: real duplicate-bearing corpora run 0.9+; the
    * synthetic test corpus is near-isotropic (max pairwise cosine
    * ≈ 0.48), so the shipped default sits where the operator's
    * drop/keep mechanics are actually exercised. */
  val SemThreshold = 0.4
  /** Within-cell pair cap (same role as EmbBucketCap). */
  val SemCellCap = 1024

  /** #93 Semantic dedup (SemDeDup shape): cluster embeddings with
    * the trained IVF centroids, then mark any vector that has a
    * more-similar-than-threshold SMALLER-id neighbor in its own
    * cluster as a drop. The pair search is cluster-scoped — shuffle
    * keys are cell ids, pairs are generated ids-only inside capped
    * cells, vectors join back by id — so the cost is
    * Σ_cells |cell|², never corpus², and each cell's pair explosion
    * is bounded by the cap. Fully DuckDB-oracled since round 13: the
    * portable seed hash + rounded-argmax Lloyd loop make the trained
    * cells engine-exact, so the oracle replays the ENTIRE k-means
    * (8 unrolled iterations) + cell-scoped pair search in SQL;
    * SimilaritySpec additionally checks the verdicts against a
    * brute-force pair scan of the whole corpus. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id"), col("vec"))
    val centroids = broadcast(trainedCentroids(spark, dir))
    // rounded-argmax assignment — same engine-exactness discipline as
    // kmeansRefine (see its comment); required for the DuckDB oracle.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(round(col("cs"), 6).desc,
        col("c_id").asc)
    val assigned = e.crossJoin(centroids)
      .select(col("vec_id"), col("c_id"),
        cosine(col("vec"), col("cvec")).as("cs"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("c_id").as("cell"))
    val idPairs = Dedup.bucketPairs(
      assigned.select(col("vec_id").as("doc_id"), lit(0).as("band"),
        col("cell").as("key")), SemCellCap)
    // 6 dp-round BEFORE the threshold gate and the argmax (the
    // kmeansRefine / dedupCurve discipline, ADVICE r13): a boundary
    // pair whose raw cosines differ only past 6 dp must pass/fail and
    // rank identically on both engines.
    val scored = idPairs
      .join(e.select(col("vec_id").as("a"), col("vec").as("va")), "a")
      .join(e.select(col("vec_id").as("b"), col("vec").as("vb")), "b")
      .select(col("a"), col("b"),
        round(cosine(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= SemThreshold)
    // verdict for the LARGER id of each qualifying pair: duplicate of
    // its most-similar smaller-id cluster-mate (id tiebreak)
    val verdicts = scored.groupBy(col("b").as("vec_id"))
      .agg(max(struct(col("cos"), (-col("a")).as("na"))).as("best"))
      .select(col("vec_id"), (-col("best.na")).as("dup_of"),
        col("best.cos").as("max_cos"))
    assigned.join(verdicts, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"),
        col("max_cos"),
        when(col("dup_of").isNull, "keep").otherwise("drop").as("verdict"))
      .orderBy("vec_id")
  }

  /** #24 Embedding-cosine near-dup: all vectors banded, candidate
    * pairs generated inside capped buckets as (a, b) ids ONLY — a
    * 512-byte vector does not ride the bucket shuffle or the pair
    * explode (that materializes |pairs|×2 vector copies). The two
    * vector join-backs are id-keyed joins the planner broadcasts at
    * small SF and hash-shuffles at scale. Fully DuckDB-oracled since
    * round 13 (portable banding, 6 dp-rounded cosine). */
  def dedupEmbed(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id"), col("vec"))
    val banded = withBands(e, "vec", NearDupBitsPerBand)
      .select(col("vec_id").as("doc_id"), col("band"), col("key"))
    val idPairs = Dedup.bucketPairs(banded, EmbBucketCap)
    idPairs
      .join(e.select(col("vec_id").as("a"), col("vec").as("va")), "a")
      .join(e.select(col("vec_id").as("b"), col("vec").as("vb")), "b")
      .select(col("a"), col("b"),
        round(cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("a"), col("b"))
      .limit(100)
  }

  /** #77 Int8-quantized ANN: the same top-5 contract as [[annBrute]],
    * but every vector is first quantized to int8 codes (QuantizeI8 —
    * 4× smaller than float32) and ranking runs on the exact-integer
    * IntCosine kernel. This is the memory-bound scale path: at 100 TB
    * the quantized corpus is what fits in cache/shuffle, and the
    * integer arithmetic is deterministic across engines, so unlike
    * every float ANN variant this one has a full DuckDB oracle.
    * SimilaritySpec asserts top-5 recall vs the float-exact
    * [[annBrute]] ranking. Plan shape is identical to annBrute
    * (queries broadcast, corpus streams); an IVF/LSH front end from
    * the existing kernels composes on top unchanged. */
  // Product quantization (SURVEY.md §2 #92): M sub-codebooks of K
  // centroids each — a vector stores M small codes (here 8 ints;
  // bytes on disk) instead of Dim floats, a 32× cut at Dim=64/M=8,
  // and candidates are scored from a per-query lookup table without
  // touching any float vector. The standard IVF companion when even
  // int8 is too big to scan at 100 TB. K=32 measured recall 0.9 vs
  // ann_brute on the isotropic corpus (K=16: 0.725; widening the
  // re-rank shortlist alone moved nothing — quantization error, not
  // shortlist depth, was the binding constraint).
  val PqM = 8
  val PqSubDim: Int = Dim / PqM
  val PqK = 32
  val PqIters = 4
  /** ADC shortlist size before exact re-rank (the FAISS pattern:
    * PQ ranks cheaply, floats re-rank a bounded shortlist). */
  val PqShortlist = 64

  /** (vec_id, m, sv): the M sub-vectors of each embedding. */
  private def subVectors(e: DataFrame, vecCol: String = "vec"): DataFrame =
    e.select(col("*"), posexplode(array((0 until PqM).map(m =>
        expr(s"slice($vecCol, ${m * PqSubDim + 1}, $PqSubDim)")): _*)))
      .withColumnRenamed("pos", "m")
      .withColumnRenamed("col", "sv")
      .drop(vecCol)

  /** Lloyd-trained PQ sub-codebooks (L2 geometry), a bounded corpus
    * artifact like [[trainedCentroids]] (M×K×subDim doubles, 8×16×8 =
    * 1024): assignment by
    * argmax(sv·c - |c|²/2) ≡ argmin ‖sv-c‖², recompute by
    * decimal-exact dimension means — deterministic on any cluster.
    * Training shape: iters × (rows×M sub-vectors ⋈ broadcast M×K
    * codebook + one (m, cid, pos) scalar shuffle); at 100 TB
    * codebooks train on a sampled slice, same plan. */
  def trainedPqCodebooks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cached = graft.CorpusCache.value(spark, dir, "embeddings",
        "pq_codebooks") {
      ModelStore.table(spark, dir, "pq_codebooks", "embeddings") {
      val e = emb(spark, dir).select(col("vec_id"), col("vec"))
      val sub = subVectors(e)
      // PORTABLE seed order (round 15, the trainCentroidsOf idiom):
      // md5 tail-32 of the id string instead of Murmur3 `hash`, so
      // the DuckDB ann_pq/ann_ivfpq oracles replay seed selection
      // exactly. Same spread; the seed set is shared across all m.
      val seedW = org.apache.spark.sql.expressions.Window
        .partitionBy("m").orderBy(
          conv(substring(md5(col("vec_id").cast("string")), 25, 8),
            16, 10).cast("long"),
          col("vec_id"))
      var cb = sub.withColumn("rn", row_number().over(seedW))
        .filter(col("rn") <= PqK)
        .select(col("m"), (col("rn") - 1).as("cid"), col("sv").as("cvec"))
      val aw = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id", "m").orderBy(col("score").desc, col("cid").asc)
      for (_ <- 1 to PqIters) {
        val cn = cb.withColumn("cn2", dot(col("cvec"), col("cvec")))
        // assignment argmax on the 6 dp-ROUNDED L2 score — the
        // kmeansRefine discipline, making the whole sub-codebook
        // training engine-exact (round 15)
        val assigned = sub.join(broadcast(cn), "m")
          .withColumn("score",
            round(dot(col("sv"), col("cvec")) - col("cn2") / 2d, 6))
          .withColumn("rn", row_number().over(aw))
          .filter(col("rn") === 1)
        cb = assigned
          .select(col("m"), col("cid"), posexplode(col("sv")))
          .groupBy("m", "cid", "pos")
          .agg(graft.operators.Num.davg(col("col")).as("mu"))
          .groupBy("m", "cid")
          .agg(expr("transform(array_sort(collect_list(struct(pos, mu)))," +
            " x -> x.mu)").as("cvec"))
      }
      cb.select(col("m"), col("cid"), col("cvec"))
      }.as[(Int, Int, Seq[Double])].collect().toSeq
    }
    cached.toDF("m", "cid", "cvec")
  }

  // corpus-keyed PQ index artifacts (round 21): encoding the corpus
  // against the trained codebooks — and filing codes under their IVF
  // cells — is the FAISS "add" phase, a deterministic derivative of
  // (corpus, ModelStore codebooks) exactly like the persisted IVF
  // postings of #119 ann_indexed. Built once per corpus as pinned
  // CorpusCache frames, so cold mode
  // (SPARK_GRAFT_COLD=1) clears and re-pays the build like every
  // other model artifact. Previously ann_pq AND ann_ivfpq re-encoded
  // all vectors (subvector join + per-(vec,m) argmax window +
  // collect_list fold) on every call — the bulk of both cells.

  /** Corpus encoded to PQ codes: per vector the M best sub-codes
    * plus the reconstruction norm² (Σ_m |c_{m,code}|²), both needed
    * by the ADC scorer. The sums fold over the m-sorted struct list,
    * so the double accumulation order is fixed. */
  private def pqEncoded(spark: SparkSession, dir: String): DataFrame =
    graft.CorpusCache.df(spark, dir, "embeddings", "pq_encoded") {
      // cn2 rides as EXACT integer micro-units (round 15): the
      // reconstruction norm² is then an order-free integer sum — the
      // same value on any partitioning and in the DuckDB oracle's
      // unordered SUM (whole-number doubles < 2^53 add exactly).
      val cbn = broadcast(trainedPqCodebooks(spark, dir)
        .withColumn("cn2", dot(col("cvec"), col("cvec")))
        .withColumn("cn2i",
          round(dot(col("cvec"), col("cvec")) * 1e6).cast("long")))
      val aw = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id", "m").orderBy(col("score").desc, col("cid").asc)
      subVectors(emb(spark, dir).select(col("vec_id"), col("vec")))
        .join(cbn, "m")
        // 6 dp-rounded argmax — same discipline as the training loop
        .withColumn("score",
          round(dot(col("sv"), col("cvec")) - col("cn2") / 2d, 6))
        .withColumn("rn", row_number().over(aw))
        .filter(col("rn") === 1)
        .groupBy("vec_id")
        .agg(
          expr("transform(array_sort(collect_list(struct(m, cid, cn2i)))," +
            " x -> x.cid)").as("codes"),
          (expr("aggregate(transform(array_sort(collect_list(struct(m, cid," +
            " cn2i))), x -> x.cn2i), 0L, (a, x) -> a + x)").cast("double")
            / 1e6).as("rnorm2"))
    }

  /** Broadcast-able PQ query side: per query the flat ADC lookup
    * table lut[m*K + cid] = q_m · c_{m,cid} (cells of centroids
    * dropped during training read as -1e300 via the map fill — no
    * stored code can reference them), plus the float vector and its
    * norm for the exact re-rank. Bounded by |queries| × M×K doubles. */
  private def pqQuerySide(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cbn = trainedPqCodebooks(spark, dir)
      .withColumn("cn2", dot(col("cvec"), col("cvec")))
    val qs = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("vec").as("qvec"))
    // LUT entries as whole micro-units (round 15): the ADC sum over M
    // entries is then EXACT in any fold order — portable to the
    // DuckDB oracle's unordered SUM; pqAdc's double accumulation of
    // whole numbers < 2^53 is lossless.
    val lut = subVectors(qs, "qvec")
      .join(broadcast(cbn), "m")
      .select(col("q_id"),
        (col("m") * PqK + col("cid")).as("idx"),
        round(dot(col("sv"), col("cvec")) * 1e6).as("lv"))
      .groupBy("q_id")
      .agg(map_from_entries(collect_list(struct(col("idx"), col("lv"))))
        .as("lm"))
      .select(col("q_id"),
        expr(s"transform(sequence(0, ${PqM * PqK - 1})," +
          " i -> coalesce(try_element_at(lm, i), -1e300D))").as("lut"))
    lut.join(
      qs.select(col("q_id"), col("qvec"),
        sqrt(dot(col("qvec"), col("qvec"))).as("qn")), "q_id")
  }

  /** ADC score → PqShortlist → exact re-rank → ranked top-5. Input:
    * candidate rows (q_id, qvec, qn, lut, vec_id, codes, rnorm2) —
    * the full corpus for [[annPq]], the probed cells for
    * [[annIvfPq]]. */
  private def pqRank(e: DataFrame, candidates: DataFrame): DataFrame = {
    // approx = (exact integer ADC micros / 1e6) / (qn·√rnorm2), then
    // 6 dp-rounded BEFORE the shortlist rank (round 15) — the probe
    // shortlist is engine-exact, so ann_pq/ann_ivfpq carry full
    // DuckDB oracles (previously rows-only)
    val scored = candidates
      .withColumn("approx",
        when(col("rnorm2") > 0d && col("qn") > 0d, round(
          graft.functions.VectorFunctions.pqAdc(col("codes"), col("lut"), PqK)
            / 1e6 / (col("qn") * sqrt(col("rnorm2"))), 6)))
    val sw = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("approx").desc_nulls_last,
        col("vec_id").asc)
    val shortlist = scored.withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= PqShortlist)
      .select(col("q_id"), col("qvec"), col("vec_id").as("cand_id"))
    val reranked = shortlist
      .join(e.select(col("vec_id").as("cand_id"), col("vec")), "cand_id")
      .select(col("q_id"), col("cand_id"),
        round(cosine(col("qvec"), col("vec")), 6).as("cos"))
    // rank on the rounded score (the ann_brute discipline)
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("cand_id").asc)
    reranked.withColumn("rnk", row_number().over(rw).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("cand_id"),
        col("cos").as("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  /** #92 PQ ANN: ADC-scored shortlist + exact re-rank, same top-5
    * contract as [[annBrute]]. The rank scan reads M codes per
    * candidate (no float vectors in the hot path); the float join-back
    * touches only PqShortlist rows per query. Rows-only (k-means
    * model); recall vs annBrute gated in SimilaritySpec. */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val qside = broadcast(pqQuerySide(spark, dir))
    pqRank(e, pqEncoded(spark, dir).crossJoin(qside)
      .filter(col("vec_id") =!= col("q_id")))
  }

  /** The IVF∘PQ candidate set (q_id, …, codes, rnorm2): corpus codes
    * cell-indexed by the trained IVF centroids (multi-assignment),
    * queries probing their adaptive nprobe cells — so the ADC scan
    * reads ~nprobe/C of the codes instead of all of them. Exposed so
    * the spec can assert the scan fraction. */
  private[graft] def ivfPqCandidates(spark: SparkSession,
      dir: String): DataFrame = {
    val e = emb(spark, dir)
    val centroids = broadcast(trainedCentroids(spark, dir))
    // index side: each vector's codes filed under its IvfAssign
    // nearest cells (same assignment as annIvf — boundary vectors are
    // findable from both sides)
    // 6 dp-rounded assignment/probe ranks — the ivfSearch discipline
    // (round 15), so the IVF half of ann_ivfpq replays in SQL too
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(round(col("cs"), 6).desc,
        col("c_id").asc)
    // the cell-filed code postings are the IVFPQ index add-phase —
    // a corpus artifact like pqEncoded
    val cellCodes = graft.CorpusCache.df(spark, dir, "embeddings",
        "ivfpq_cell_codes") {
      val assigned = e.crossJoin(centroids)
        .select(col("vec_id"), col("c_id"),
          cosine(col("vec"), col("cvec")).as("cs"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= IvfAssign)
        .select(col("c_id").as("cell"), col("vec_id"))
      assigned.join(pqEncoded(spark, dir), "vec_id")
    }
    // query side: the same adaptive cell probing as annIvf
    val qside = broadcast(pqQuerySide(spark, dir))
    val qw = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cs").desc, col("c_id").asc)
    val qb = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
    val probes = qside.select(col("q_id"), col("qvec"))
      .crossJoin(centroids)
      .select(col("q_id"), col("c_id"),
        round(cosine(col("qvec"), col("cvec")), 6).as("cs"))
      .withColumn("rn", row_number().over(qw))
      .withColumn("best", max(col("cs")).over(qb))
      .filter(col("rn") <= IvfProbe ||
        (col("cs") >= col("best") - IvfProbeMargin &&
          col("rn") <= IvfProbeMax))
      .select(col("q_id"), col("c_id").as("cell"))
    probes.join(cellCodes, "cell")
      .filter(col("q_id") =!= col("vec_id"))
      // multi-assignment can surface the same candidate from two
      // probed cells — collapse before the ADC scan
      .dropDuplicates("q_id", "vec_id")
      .join(qside, "q_id")
  }

  /** #103 IVF∘PQ ANN (the FAISS IVFPQ composition): trained IVF cells
    * in front of the PQ ADC scan, so at 100 TB the rank pass reads
    * 1/nprobe of the code corpus — the missing rung between [[annPq]]
    * (full ADC scan) and [[annIvf]] (full-vector probe). Same top-5
    * contract; rows-only (k-means model); recall + scan-fraction
    * gated in SimilaritySpec. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame =
    pqRank(emb(spark, dir), ivfPqCandidates(spark, dir))

  def annQuant(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
      .select(col("vec_id"), quantizeI8(col("vec")).as("qv"))
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qv").as("qq"))
    val scored = e.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        intCosine(col("qq"), col("qv")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("cand_id"),
        round(col("cos"), 6).as("cos_q"))
      .orderBy("q_id", "rnk")
  }

  /** #142 Per-dimension embedding statistics — the feature-health
    * card every vector corpus needs before indexing or training:
    * mean/std (a dead dimension has σ ≈ 0; a dominant one distorts
    * every cosine), min/max (quantization ranges for the int8/PQ
    * paths #77/#92), and NaN/zero counts. ONE custom-aggregate pass
    * ([[graft.functions.expressions.VecMomentsAgg]], round 17): each
    * vector folds into O(dims) mergeable per-task state inside the
    * scan stage — no rows×dims explode ever materializes (the
    * posexplode + dim-keyed hash aggregate this replaced shipped the
    * full exploded row volume through an exchange; at ×100 that row
    * stream WAS the 2.9× cost), and a 1000-executor aggregation
    * ships one ~3 KB buffer per task. Output = |dims| rows from
    * exploding the single result array. Mean/var ride exact INTEGER
    * micro-unit moments (VERDICT r16 #4 — the realized_vol
    * discipline): each value is quantized once to vu = round(v·10⁶)
    * (a long; the aggregate's rounding is proven equal to both
    * engines' round in its scaladoc), Σvu and Σvu² are exact
    * order-free long sums, and the terminal doubles divide by
    * 10⁶/10¹² with the SAME expression tree as the oracle, so every
    * rounding is shared. OVERFLOW BOUND
    * (ANSI: a breach throws, never silently wraps): Σvu² ≤
    * n·(10⁶·max|v|)² must stay < 2⁶³ — for unit-normalized
    * embeddings (max|v| ≤ 1) that is n ≤ 9.2·10⁶ rows per dimension
    * per sum; the committed corpora are ≤ 4·10⁵ at ×200 (|v| ≤ 0.58
    * ⇒ 69× headroom). Past that regime, shard the sum (a (dim,
    * pmod(vec_id, B)) two-level ladder raises the bound ×B) before
    * reaching for decimal. min/max are raw doubles; the whole card
    * stays DuckDB-oracle-exact. */
  def embedStats(spark: SparkSession, dir: String): DataFrame = {
    // ONE custom-aggregate pass (round 17b): VecMomentsAgg folds each
    // vector into O(dims) mergeable state inside the scan stage — no
    // rows×dims explode, no exploded-row hash aggregate; the |dims|
    // result array (≤64 rows) is what gets exploded. Values are
    // contract-identical to the explode + groupBy("dim") form (the
    // exact-equality argument lives in the aggregate's scaladoc and
    // is pinned by SimilarityVecSpec + the unchanged DuckDB oracle).
    val sx = col("su").cast("double") / lit(1000000.0)
    // raw array<float> straight off the scan: float→double widening
    // is exact inside the aggregate, so the asDouble projection (a
    // second 64-element array per row) is skipped entirely
    Tables.load(spark, dir, "embeddings")
      .agg(graft.functions.AggFunctions.vecMoments(col("embedding"))
        .as("ms"))
      .select(explode(col("ms")).as("m"))
      .select(col("m.dim").as("dim"), col("m.n").as("n"),
        col("m.su").as("su"), col("m.suu").as("suu"),
        col("m.min_v").as("min_v"), col("m.max_v").as("max_v"),
        col("m.n_zero").as("n_zero"))
      .select(col("dim"), col("n"),
        round(sx / col("n").cast("double"), 6).as("mean"),
        // greatest(…, 0): the exact Σvu/Σvu² make the variance
        // mathematically ≥ 0, but the terminal double ops can land a
        // last-ulp negative on a constant dimension — identical on
        // both engines, so the guard is too
        round(sqrt(greatest((col("suu").cast("double") / lit(1.0e12)
            - sx * sx / col("n").cast("double"))
          / (col("n") - 1).cast("double"), lit(0.0))), 6).as("std"),
        round(col("min_v"), 6).as("min_v"),
        round(col("max_v"), 6).as("max_v"), col("n_zero"))
      .orderBy("dim")
  }

  /** Output dimensionality of [[randomProjection]]. */
  val RpDims = 8L

  /** #179 Random-projection dimensionality reduction (Achlioptas ±1 /
    * JL sketch): project each embedding onto [[RpDims]] hyperplanes
    * whose signs are a pure md5-affine function of (input-dim,
    * output-dim) — no trained matrix, no model artifact, the
    * projection any worker can recompute from the pair of indices.
    * The cheap front-end of the ANN/dedup family: 8 exact integer
    * coordinates per vector (inputs 6 dp-quantized, coordinates exact
    * ±sums of micro-units — fully oracled, unlike any float sketch).
    *
    * Scale (round 17): ONE scan-stage pass — the fused
    * [[graft.functions.expressions.RpCoords]] kernel emits the 8
    * exact coordinates per vector (its class-load sign table replays
    * the identical md5-affine derivation byte-for-byte), so the
    * posexplode(rows × dim) ⋈ broadcast-signs fan-out (rows × dim × 8
    * intermediate rows) and the (vec, j)-grain exchange are gone;
    * only the 8-element result array explodes. Values identical;
    * the DuckDB oracle still builds the sign table relationally,
    * unchanged. */
  def randomProjection(spark: SparkSession, dir: String): DataFrame = {
    emb(spark, dir)
      .select(col("vec_id"), rpCoords(col("vec")).as("cs"))
      .select(col("vec_id"),
        posexplode(col("cs")).as(Seq("proj_dim", "coord")))
      .select(col("vec_id"), col("proj_dim").cast("long").as("proj_dim"),
        col("coord"))
      .orderBy("vec_id", "proj_dim")
  }

  /** #179's bounded-output measurement twin (round 18, VERDICT r17
    * next-round #4): the SAME scan + [[rpCoords]] kernel + 8-way
    * explode as [[randomProjection]], collapsed to ONE moment-card
    * row per projected dimension — count, exact integer coordinate
    * sum, min/max, positive count. `random_projection`'s bench cell
    * is dominated by its contract's ordered full-corpus driver fetch
    * (1.6M rows at ×100 — a harness artifact, adjudicated in
    * BASELINE's perf-endgame block); this twin returns 8 rows, so its
    * cell measures the kernel honestly. Σ|coord| ≤ rows·128·10⁶·
    * max|v| ≈ 4·10¹⁴ at ×200 — far inside long.
    *
    * Scale: scan-stage kernel + an 8-group map-side-combined
    * aggregate; ships 8 rows per task, no exchange wider than the
    * final 8-key shuffle. */
  def rpMoments(spark: SparkSession, dir: String): DataFrame = {
    emb(spark, dir)
      .select(rpCoords(col("vec")).as("cs"))
      .select(posexplode(col("cs")).as(Seq("proj_dim", "coord")))
      .groupBy(col("proj_dim").cast("long").as("proj_dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("coord")).as("su"),
        min(col("coord")).as("min_c"),
        max(col("coord")).as("max_c"),
        // when/otherwise(0) mirrors the oracle's CASE … ELSE 0 END:
        // an all-NULL coord group (the RpCoords all-null-vector path)
        // must count 0, not NULL (ADVICE r18 #3)
        sum(when(col("coord") > 0L, 1L).otherwise(0L)).as("n_pos"))
      .orderBy("proj_dim")
  }

  /** Own-centroid cosine floor for [[embedOutliers]] (6 dp-rounded
    * compare — sf-calibrated: the synthetic corpus' own-label cosine
    * runs ≈[−0.30, 0.47], so 0 flags the ~7% mislabeled-looking
    * tail). */
  val OutlierCosMax = 0.0

  /** #187 Embedding-outlier screen: every vector's cosine to its OWN
    * label centroid, flagged when below [[OutlierCosMax]] — the
    * "probably mislabeled / off-distribution" report a labeling or
    * embedding pipeline reads before training a classifier (the
    * cross-label twin is #73's confusion matrix; #113 runs the same
    * screen on binary payloads). Membership compares the 6 dp-rounded
    * cosine on both engines; the mean is an exact decimal sum of the
    * rounded values.
    *
    * Scale: |labels|-row broadcast centroid table (the bounded #72
    * model artifact), one label-keyed broadcast join, label-grain
    * map-side aggregate. */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val cvecs = centroidDims(spark, dir)
      .groupBy(col("label").as("c_label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m)))," +
        " t -> t.m)").as("cvec"))
    emb(spark, dir)
      .join(broadcast(cvecs), col("label") === col("c_label"))
      .select(col("label"), round(cosine(col("vec"), col("cvec")), 6)
        .as("cs6"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum((col("cs6") < OutlierCosMax).cast("long")).as("n_outliers"),
        min(col("cs6")).as("min_cos"),
        round(Num.dsum(col("cs6")) / count(lit(1)).cast("double"), 6)
          .as("avg_cos"))
      .orderBy("label")
  }
}
