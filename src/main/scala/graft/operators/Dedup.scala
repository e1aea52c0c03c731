package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFunctions

/** Deduplication operators over `documents` (SURVEY.md §2 #19-22).
  *
  * Scale design (§5): every near-dup variant is banded LSH — compute
  * a per-doc signature in one projection pass, explode ×bands,
  * hash-shuffle on (band, key), generate pairs only inside buckets,
  * with a per-bucket cap (frequent-bucket pruning, the standard
  * guard against degenerate buckets at web scale). Shuffled bytes are
  * O(rows × bands), never O(rows²); no crossJoin anywhere.
  */
object Dedup {

  /** #19 Exact dedup: group on content hash, keep the smallest id.
    * One shuffle on the 128-bit hash — at 100 TB this shuffles ~32
    * bytes/doc, not the documents themselves. md5 over sha-256
    * (round 11): half the digest arithmetic per byte, and 128 bits
    * keeps the corpus-level collision expectation < 2^-64 of a pair
    * even at trillions of documents — the same digest every
    * production content-dedup pipeline (CC dumps, crawl curation)
    * settles on. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .select("content_hash", "keep_id", "dup_count")
      .orderBy("keep_id")

  // Near-dup signatures are the portable kernels (round 11): a 32-bit
  // value from the md5 hex tail (md5 is native in Spark AND DuckDB)
  // feeds the banding/bucketing/scoring arithmetic, all of it
  // built-in codegen functions or arithmetic-only kernels — which
  // makes the ENTIRE near-dup pipeline (shingling, permutation
  // minima, band keys, bucket caps, pair scoring, ranking) hash-exact
  // against an independent engine.
  val PortableK = 16 // permutations
  val PortableBands = 8 // r = 2 rows per band
  /** Smallest prime above 2^32 — the permutation modulus. */
  val PortableP: Long = graft.functions.expressions.PortableHash.P
  /** Affine coefficients (single source of truth: the kernel). */
  val PortableA: Seq[Long] =
    graft.functions.expressions.PortableHash.A.take(PortableK).toSeq
  val PortableB: Seq[Long] =
    graft.functions.expressions.PortableHash.B.take(PortableK).toSeq
  val BucketCap = 64 // frequent-bucket pruning bound
  val TopPairs = 1000

  /** Candidate pairs from banded buckets. Input must have columns
    * (doc_id, band, key) — one row per doc per band. Shuffle on
    * (band, key); emit a<b pairs inside buckets of size [2, cap]
    * (frequent-bucket pruning); distinct because a pair can collide
    * in several bands. Shuffled bytes = O(rows × bands × 24B). */
  private[operators] def bucketPairs(banded: DataFrame,
      cap: Int = BucketCap): DataFrame =
    banded.groupBy("band", "key")
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, cap))
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()

  /** bucketPairs variant that carries a per-doc payload column (the
    * signature) through the bucket, so downstream pair scoring needs
    * no join-back — and, crucially, no second or third evaluation of
    * the signature kernel (each branch of a self-join DAG would
    * recompute it from the raw text). Input: (doc_id, band, key,
    * <payload>). Output: (a, b, <payload>_a, <payload>_b), one row
    * per colliding (pair, band) — callers dedup with a groupBy on
    * (a, b) after scoring. Worth it when payload is small (a K-long
    * signature); for fat payloads (embedding vectors) use the
    * ids-only bucketPairs + join-back instead. */
  private[operators] def bucketPairsWith(banded: DataFrame,
      payload: String): DataFrame =
    banded.groupBy("band", "key")
      // no sort_array: list order is irrelevant — the a<b filter and
      // the callers' groupBy(a, b) make the pair set deterministic
      .agg(collect_list(struct(col("doc_id"), col(payload))).as("xs"))
      .filter(size(col("xs")).between(2, BucketCap))
      .select(explode(col("xs")).as("x"), col("xs"))
      .select(col("x"), explode(col("xs")).as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col(s"x.$payload").as(s"${payload}_a"),
        col(s"y.$payload").as(s"${payload}_b"))

  /** #20 MinHash+LSH near-dup over the corpus: the registered
    * `dedup_minhash` query. */
  def minhashLshPortable(spark: SparkSession, dir: String): DataFrame =
    minhashLshOn(Tables.load(spark, dir, "documents"))

  /** #20 ranked candidate list (bounded output for inspection). */
  def minhashLshOn(docs: DataFrame): DataFrame =
    minhashPairs(docs)
      .orderBy(col("est_jaccard").desc, col("a"), col("b"))
      .limit(TopPairs)

  /** All LSH candidate pairs with estimated Jaccard — unbounded,
    * for apply-dedup and threshold policies. One scan of the corpus:
    * the single-pass [[graft.functions.expressions.PortableMinHashSig]]
    * signature is computed once per doc and carried through the
    * bucket shuffle (K=16 longs), band keys are the literal r-slice
    * values (no re-hash, so DuckDB groups on the identical key), and
    * the agreement count runs in-bucket via the arithmetic-only
    * LongArrayAgree kernel — no join-backs, which would re-run the
    * signature kernel on every branch of the self-join DAG.
    * est_jaccard = agree/K (a power-of-two division, exact in binary
    * in both engines). */
  def minhashPairs(docs: DataFrame): DataFrame = {
    val withSig = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        TextFunctions.portableMinhashSig(col("text"), PortableK).as("sig"))
      .filter(size(col("sig")) === PortableK)
    val banded = withSig
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(PortableBands - 1))).as("band"))
      .select(col("doc_id"), col("sig"), col("band"),
        concat_ws(",", slice(col("sig"), col("band") * 2 + 1, lit(2)))
          .as("key"))
    bucketPairsWith(banded, "sig")
      .select(col("a"), col("b"),
        TextFunctions.sigAgree(col("sig_a"), col("sig_b")).as("agree"))
      // a pair can collide in several bands; agree is deterministic
      // per pair, so max == the single value
      .groupBy("a", "b").agg(max(col("agree")).as("agree"))
      .select(col("a"), col("b"),
        (col("agree").cast("double") / PortableK).as("est_jaccard"))
  }

  /** End-to-end near-dedup: drop every doc that near-duplicates
    * (est_jaccard ≥ threshold) ANY doc with a smaller id. One
    * anti-join of the corpus against the drop-set; no transitive
    * closure pass. Note this is stricter than a sequential greedy
    * keep-first scan: for a chain a~b, b~c (no a~c pair) greedy would
    * re-admit c after dropping b, whereas this policy drops both b and
    * c. The one-shot set-difference is the scalable choice — greedy
    * re-admission is inherently sequential (each verdict depends on
    * all prior verdicts) and cannot be expressed as a bounded number
    * of shuffles. */
  def applyNearDedup(docs: DataFrame, threshold: Double): DataFrame = {
    val drops = minhashPairs(docs)
      .filter(col("est_jaccard") >= threshold)
      .select(col("b").as("doc_id")).distinct()
    docs.join(drops, Seq("doc_id"), "left_anti")
  }

  /** Whitespace word tokens of lower(trim(text)) — the split both
    * engines express identically. */
  private def portableToks(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(lower(trim(col("text"))), "\\s+"),
          t => t =!= "").as("toks"))

  /** 32-bit portable hash of a string column: the md5 hex tail
    * (chars 25-32) as a long — `conv(substr(md5(x),25,8),16,10)`
    * in Spark ≡ `('0x'||substr(md5(x),25,8))::UBIGINT` in DuckDB. */
  private def h32(c: Column): Column =
    conv(substring(md5(c), 25, 8), 16, 10).cast("long")

  /** Portable MinHash signatures — the SQL-built form: word
    * 2-shingles → h32 → K affine permutation minima mod P, all
    * built-in functions. This is the SEMANTIC REFERENCE the DuckDB
    * oracle mirrors token for token; the operators use the
    * single-pass [[graft.functions.expressions.PortableMinHashSig]]
    * kernel instead (~3× at sf0.1: no explode shuffle, no md5 hex
    * string / conv parse per shingle), and PortableSignatureSpec
    * pins kernel ≡ this form. */
  private[graft] def minhashPortableSigsSql(docs: DataFrame): DataFrame = {
    val sh = portableToks(docs)
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks)-2), i -> concat_ws(' ', toks[i], toks[i+1]))"))
        .as("sh"))
      .select(col("doc_id"), h32(col("sh")).as("h"))
    val aggs = (0 until PortableK).map(i =>
      min((col("h") * PortableA(i) + PortableB(i)) % PortableP).as(s"mh_$i"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until PortableK).map(i => col(s"mh_$i")): _*).as("sig"))
  }

  /** Portable SimHash32 — the SQL-built form (reference for the
    * kernel-equivalence spec; see [[minhashPortableSigsSql]]). */
  private[graft] def simhashPortableSigsSql(docs: DataFrame): DataFrame = {
    val h = portableToks(docs)
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .select(col("doc_id"), h32(col("t")).as("h"))
    val sums = (0 until 32).map(b =>
      sum(shiftrightunsigned(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1)
        .as(s"s_$b"))
    h.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(b =>
          when(col(s"s_$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
  }

  /** #21 oracled: 32-bit portable SimHash — per-token h32, per-bit
    * balance sums (±1 votes, ties set the bit), 4×8-bit band keys,
    * in-bucket Hamming. Signature via the single-pass
    * [[graft.functions.expressions.PortableSimHash32]] kernel;
    * every downstream step is integer arithmetic both engines
    * evaluate identically. */
  def simhashPortable(spark: SparkSession, dir: String): DataFrame = {
    val sig = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), graft.functions.TextFunctions
        .portableSimhash32(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
    val banded = sig
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("doc_id"), col("sig"), col("band"),
        expr("shiftrightunsigned(sig, band * 8) & 255").as("key"))
    bucketPairsWith(banded, "sig")
      .select(col("a"), col("b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int")
          .as("hamming"))
      .groupBy("a", "b").agg(min(col("hamming")).as("hamming"))
      .orderBy(col("hamming").asc, col("a"), col("b"))
      .limit(500)
  }

  /** #22 N-gram Jaccard over blocked candidate pairs: block on
    * (lang, source, n_chars/20 bucket) — never all-pairs — then exact
    * trigram-set Jaccard, ranked. SQL-expressible, so this one has a
    * full DuckDB oracle. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(Tables.load(spark, dir, "documents"))
      .orderBy(col("jac").desc, col("a"), col("b"))
      .limit(200)

  /** All blocked candidate pairs with exact trigram Jaccard —
    * unbounded, the edge source for [[Components.dedupComponents]]. */
  def ngramJaccardPairs(docs: DataFrame): DataFrame = {
    val d = docs
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        floor(col("n_chars") / lit(20)).as("blk"),
        TextFunctions.charNgramCodes(col("text"), 3).as("grams"))
    // The probe side fans out to its own and both ADJACENT length
    // blocks, so a ≤20-char pair straddling a block boundary (19 vs
    // 21 chars) is still generated — an equi-join on blk alone would
    // silently miss it, and within one block the ≤20 filter could
    // never fire. Each qualifying pair matches exactly one of the
    // three keys (b's blk is fixed), so no distinct is needed.
    val a = d.select(col("doc_id").as("a"), col("lang"), col("source"),
        col("blk"), col("n_chars").as("nc_a"), col("grams").as("grams_a"))
      .withColumn("jblk",
        explode(array(col("blk") - 1, col("blk"), col("blk") + 1)))
      .drop("blk")
    val b = d.select(col("doc_id").as("b"), col("lang"), col("source"),
      col("blk").as("jblk"), col("n_chars").as("nc_b"),
      col("grams").as("grams_b"))
    a.join(b, Seq("lang", "source", "jblk"))
      .filter(col("a") < col("b") && abs(col("nc_a") - col("nc_b")) <= 20)
      .withColumn("jac", TextFunctions.jaccardCodes(col("grams_a"), col("grams_b")))
      .select("a", "b", "jac")
  }

  /** The (lang, source, blk)-bucketed gram index behind
    * [[incrementalDedupBucketed]]: written ONCE per corpus (keyed by
    * the MD5 dir digest, the BucketedWarehouse pattern), after which
    * every batch run's join reads pre-bucketed index files with NO
    * exchange on the corpus side — the ingest shuffle is paid once,
    * not per batch. */
  def buildGramIndex(spark: SparkSession, dir: String): String = {
    // `_codes` versions the PHYSICAL grams representation (ADVICE
    // r21): round 21 changed grams_a from array<string> to packed
    // long codes, and a warehouse table persisted by the old code
    // would otherwise be served to jaccardCodes/SortedLongIntersect-
    // Count, whose getLong over a string array reads garbage — wrong
    // Jaccard verdicts with no error. A new name means an old-layout
    // table is simply never matched (and a future representation
    // change must bump the suffix again). The old-layout table under
    // the unversioned name is never read again, so a build drops it.
    val key = graft.sources.StagePath.key(dir)
    val name = s"graft_gram_index_codes_$key"
    if (spark.catalog.tableExists(name)) return name
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq(name, s"graft_gram_index_$key").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh, t))
    }
    Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("a"), col("lang"), col("source"),
        floor(col("n_chars") / lit(20)).as("jblk"),
        col("n_chars").as("nc_a"),
        TextFunctions.charNgramCodes(col("text"), 3).as("grams_a"))
      .write.mode("overwrite")
      .bucketBy(8, "lang", "source", "jblk")
      .saveAsTable(name)
    name
  }

  /** #80 at scale: [[incrementalDedup]] probing the PERSISTED
    * bucketed gram index instead of re-deriving (and re-shuffling)
    * the corpus side per run. Row-identical output — DedupSpec
    * asserts equality and that the index side of the join plan
    * carries no Exchange (the probe side still shuffles, but it is
    * batch-sized). */
  def incrementalDedupBucketed(spark: SparkSession, dir: String,
      forceSortMerge: Boolean = false): DataFrame = {
    val name = buildGramIndex(spark, dir)
    // another process rebuilding the same warehouse dir invalidates
    // this session's cached file listing (observed as FILE_NOT_EXIST
    // mid-scan); a metadata refresh per call is cheap insurance
    spark.catalog.refreshTable(name)
    // the table declares its grams nullable-element, as every file
    // source does; the merge kernels take only non-null ones
    val t = spark.table(name).withColumn("grams_a",
      TextFunctions.assertNonNullElements(col("grams_a")))
    // default: let the planner broadcast the batch-sized probe over
    // the bucketed index (zero exchange anywhere near the corpus).
    // forceSortMerge models the big-batch regime where broadcast is
    // off the table: the SMJ then shuffles ONLY the probe side — the
    // bucketed index reads pre-partitioned (DedupSpec plan-asserts).
    val index = if (forceSortMerge) t.hint("merge") else t
    incrementalDedupAgainst(spark, dir, index)
  }

  /** #80 parameters: the "new batch" is every 7th doc_id (an
    * SF-independent ~14% slice standing in for today's crawl; 7 is
    * chosen decorrelated from the corpus generator's dup-family id
    * stride) and a batch doc is a duplicate when its best trigram
    * Jaccard against the index side reaches the threshold. */
  val IncrBatchMod = 7
  val IncrThreshold = 0.5

  /** #80 Incremental dedup: match a new batch against the historical
    * corpus — the shape a daily ingest actually runs (full-corpus
    * re-dedup per day is a non-starter at 100 TB; the index side is
    * precomputed once and the join cost scales with the BATCH).
    * The index side is the existing corpus PLUS earlier batch docs
    * (id-ordered), so within-batch duplicates are also caught —
    * without it, a crawl that fetched the same page twice today
    * would admit both copies. Blocked exactly like
    * [[ngramJaccardPairs]], but the ±1 length-block fan-out rides
    * the small batch side, not the corpus; each batch doc reports
    * its best index match (highest Jaccard, smallest doc_id on
    * ties) and a keep/drop verdict. Every batch doc appears exactly
    * once (unmatched ⇒ best_jac 0, dup_of null).
    *
    * At 100 TB the hash-join shown here shuffles the index side's
    * gram sets once per batch run — the production deployment
    * instead writes the (lang, source, blk)-keyed gram index ONCE
    * with the bucketed-warehouse layout (`sinks/BucketedWarehouse`,
    * #36), after which every daily batch joins exchange-free against
    * the persisted buckets and the per-run cost scales with the
    * batch alone. The query-side plan is identical either way. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val index = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("a"), col("lang"), col("source"),
        floor(col("n_chars") / lit(20)).as("jblk"),
        col("n_chars").as("nc_a"),
        TextFunctions.charNgramCodes(col("text"), 3).as("grams_a"))
    incrementalDedupAgainst(spark, dir, index)
  }

  /** Core of #80: probe the batch slice of `dir`'s documents against
    * an index with columns (a, lang, source, jblk, nc_a, grams_a) —
    * derived inline ([[incrementalDedup]]) or read from the persisted
    * bucketed table ([[incrementalDedupBucketed]]). */
  private def incrementalDedupAgainst(spark: SparkSession, dir: String,
      index: DataFrame): DataFrame = {
    val batch = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % IncrBatchMod === 0)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        floor(col("n_chars") / lit(20)).as("blk"),
        TextFunctions.charNgramCodes(col("text"), 3).as("grams"))
    val probes = batch
      .select(col("doc_id").as("b"), col("lang"), col("source"), col("blk"),
        col("n_chars").as("nc_b"), col("grams").as("grams_b"))
      .withColumn("jblk",
        explode(array(col("blk") - 1, col("blk"), col("blk") + 1)))
      .drop("blk")
    val best = probes.join(index, Seq("lang", "source", "jblk"))
      .filter(abs(col("nc_a") - col("nc_b")) <= 20)
      // index side = existing corpus OR an earlier batch doc (this
      // also excludes the self-pair: a == b is a batch doc, not < b)
      .filter(col("a") % IncrBatchMod =!= 0 || col("a") < col("b"))
      .select(col("b"),
        TextFunctions.jaccardCodes(col("grams_a"), col("grams_b")).as("jac"),
        col("a"))
      // best match per batch doc: max jac, min existing id on ties —
      // max of struct(jac, -a) realizes both in one agg
      .groupBy("b")
      .agg(max(struct(col("jac"), (-col("a")).as("na"))).as("m"))
      .select(col("b"), col("m.jac").as("best_jac"), (-col("m.na")).as("dup_of"))
    batch.select(col("doc_id"))
      .join(best, col("doc_id") === col("b"), "left")
      .select(col("doc_id"),
        when(col("best_jac") >= IncrThreshold, col("dup_of")).as("dup_of"),
        round(coalesce(col("best_jac"), lit(0.0)), 6).as("best_jac"),
        when(col("best_jac") >= IncrThreshold, lit("drop"))
          .otherwise(lit("keep")).as("verdict"))
      .orderBy("doc_id")
  }

  /** #136 Blocked edit-distance record linkage — the entity-resolution
    * pass a master-data pipeline runs over dirty dimension feeds.
    * Linkage is at ENTITY grain, not row grain: rows first collapse to
    * distinct (brand, name) entities (a hash aggregate — the map-side
    * combine that makes a 10⁹-row feed cost one row per distinct
    * name), carrying the instance count and a canonical key. Candidate
    * pairs form only WITHIN the brand block (the standard linkage
    * discipline — all-pairs Levenshtein is O(n²·L²) and never runs at
    * scale), pass a length-difference prefilter (|len a − len b| > k
    * lower-bounds the distance > k, so the DP never starts), then
    * banded Levenshtein with an early-exit threshold (Spark's 3-arg
    * form stops once the distance exceeds k). Emits every entity pair
    * at distance ≤ 2 with a_name < b_name.
    *
    * Scale: the self-join shuffles the ENTITY table on the block key —
    * pair count is Σ|block-vocabulary|², bounded by the name
    * vocabulary (1.6k entities at sf0.1; row count is irrelevant). A
    * hot block is a data-modeling bug (pick a finer key), not a
    * shuffle-skew one. */
  def fuzzyLinkage(spark: SparkSession, dir: String): DataFrame = {
    val MaxDist = 2
    val e = Tables.load(spark, dir, "part")
      .groupBy(col("p_brand"), col("p_name"))
      .agg(count(lit(1)).as("n"), min(col("p_partkey")).as("canon"))
    val a = e.select(col("p_brand"), col("p_name").as("a_name"),
      col("n").as("n_a"), col("canon").as("canon_a"))
    val b = e.select(col("p_brand"), col("p_name").as("b_name"),
      col("n").as("n_b"), col("canon").as("canon_b"))
    a.join(b, Seq("p_brand"))
      .filter(col("a_name") < col("b_name"))
      .filter(abs(length(col("a_name")) - length(col("b_name")))
        <= MaxDist)
      .withColumn("dist",
        levenshtein(col("a_name"), col("b_name"), MaxDist))
      .filter(col("dist") >= 0 && col("dist") <= MaxDist)
      .select(col("p_brand"), col("a_name"), col("b_name"),
        col("dist").cast("long").as("dist"),
        col("n_a"), col("n_b"), col("canon_a"), col("canon_b"))
      .orderBy("p_brand", "a_name", "b_name")
  }

  /** Document-frequency cap for [[lshEval]]'s exact-pair index: a
    * shingle shared by more than this many docs contributes no
    * discriminating signal and would square the posting join (the
    * tfidf_docsim df-cap trade, documented there). */
  val EvalDfCap = 50L
  /** Ground-truth threshold: word-bigram Jaccard ≥ 1/2 (compared as
    * 2·|∩| ≥ |∪| — integer, never a float). */
  val EvalJacNum = 2L

  /** #189 LSH quality evaluation — precision/recall of the #20
    * MinHash-LSH candidate generator against exact word-bigram
    * Jaccard ground truth: the report read BEFORE committing a band
    * configuration to a 100 TB dedup pass (the threshold-curve twin
    * is #175, which sweeps cosine cutoffs; this one grades the
    * candidate generator itself).
    *
    * Ground truth is operational, not n²: pairs surfaced by a
    * df-capped shingle inverted index (Σ df² bounded — the
    * tfidf_docsim shape), scored by FULL exact bigram Jaccard
    * (sizes from the uncapped per-doc distinct-shingle counts),
    * thresholded at J ≥ 1/2 by integer cross-multiplication. A
    * J ≥ 1/2 pair shares at least a third of either doc's shingles,
    * so at any realistic cap it cannot hide exclusively behind
    * >cap-frequency shingles on THIS corpus shape; the cap rule is
    * part of the operator's contract and the oracle recomputes it
    * identically. Candidates are the portable-signature band
    * buckets ([[minhashPairs]]' machinery, bucket-capped).
    * Every count is exact integers; rates are integer ppm. */
  // corpus-keyed eval artifacts (round 15): the exact ground-truth
  // pair set and the band candidate set are both corpus-bounded
  // build-once artifacts (the nearDupComponents pattern) — lsh_eval
  // re-derived BOTH per call (two shingle explodes + two pair joins)
  def lshEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .filter(col("text").isNotNull)
    val pos = graft.CorpusCache.df(spark, dir, "documents",
        "lsh_eval_pos") {
      // exact side: (doc, shingle-hash) at distinct grain — the md5
      // tail-32 identity BOTH engines compute natively (PortableHash)
      val dd = docs
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
        .localCheckpoint() // pin: inner, cold build only; feeds 4 branches
      val sz = dd.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val keep = dd.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") <= EvalDfCap).select("h")
      val capped = dd.join(keep, "h")
      val inter = capped.select(col("doc_id").as("a"), col("h"))
        .join(capped.select(col("doc_id").as("b"), col("h")), "h")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("i"))
      inter
        .join(sz.select(col("doc_id").as("a"), col("n").as("na")), "a")
        .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), "b")
        .filter(col("i") * EvalJacNum >= col("na") + col("nb") - col("i"))
        .select("a", "b")
    }
    // candidate side: the #20 portable band buckets, ids only
    val bandKeys = docs
      .select(col("doc_id"), graft.functions.TextFunctions
        .portableMinhashSig(col("text"), PortableK).as("sig"))
      .filter(size(col("sig")) === PortableK)
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(PortableBands - 1))).as("band"),
        col("sig"))
      .select(col("doc_id"), col("band"),
        concat_ws(",", slice(col("sig"), col("band") * 2 + 1, lit(2)))
          .as("key"))
    val cand = graft.CorpusCache.df(spark, dir, "documents",
        "lsh_eval_cand") {
      bucketPairs(bandKeys).select("a", "b").distinct()
    }
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val nPos = pos.select(count(lit(1)).as("n_pos"))
    val nCand = cand.select(count(lit(1)).as("n_cand"))
    val tp = cand.join(pos, Seq("a", "b")).select(count(lit(1)).as("tp"))
    nDocs.crossJoin(nPos).crossJoin(nCand).crossJoin(tp)
      .select(col("n_docs"), col("n_pos"), col("n_cand"), col("tp"),
        (col("n_cand") - col("tp")).as("fp"),
        (col("n_pos") - col("tp")).as("fn"),
        when(col("n_cand") > 0,
          expr("tp * 1000000 div n_cand")).as("precision_ppm"),
        when(col("n_pos") > 0,
          expr("tp * 1000000 div n_pos")).as("recall_ppm"))
  }

  /** Near-containment floor for [[containmentPairs]] (6 dp-rounded
    * compare). */
  val ContainMin = 0.8

  /** #192 Containment dedup report — the ASYMMETRIC near-dup measure
    * Jaccard misses: c(a→b) = |A∩B|/|A| is high when a short doc is
    * swallowed by a longer one (quote inside article, chunk inside
    * source) even though their Jaccard is low. The sub-document
    * duplication screen beside #20/#22/#133.
    *
    * Same (lang, source, length-block) candidate blocking as
    * [[ngramJaccardPairs]] — pair count governed by block fan-in,
    * never n² — but WITHOUT the |Δchars| ≤ 20 prefilter (containment
    * pairs are length-asymmetric by nature; the length-block probe
    * fans to ±[[ContainBlkSpan]] blocks instead). Ratios are int/int
    * double divisions rounded to 6 dp before the compare.
    *
    * CONTRACT / recall bound: the ±[[ContainBlkSpan]] probe admits
    * only pairs whose char-length difference is ≤ ~(span+1)×20
    * ≈ 120 chars — this operator detects NEAR-length containment
    * (boilerplate-wrapped copies, light edits), NOT a short quote
    * swallowed by an arbitrarily longer article. Unbounded-asymmetry
    * containment is [[containmentContent]] (round 16, VERDICT r15
    * #2): content-keyed rare-shingle anchor blocking, length-blind by
    * construction. This length-banded form stays as the near-length
    * fast path.
    *
    * SCALE BOUND (round 17, VERDICT r16 #3): the per-block pair count
    * is quadratic in block population, so one dense (lang, source,
    * length-block) block — millions of same-length news articles at
    * 100 TB — would square. Blocks whose population exceeds
    * [[ContainBlockCap]] are therefore EXCLUDED from this screen,
    * with the drop logged once per corpus at guard build (no silent
    * caps): with populations ≤ cap each doc pairs with at most
    * (2·span+1)·cap = 11·4096 ≈ 45k block-mates, so candidate pairs
    * are ≤ 45k·n — LINEAR in corpus size with a cap-sized constant
    * (§5). Docs in dropped blocks remain covered by the length-blind
    * content-keyed sibling, which is the 100 TB path for exactly this
    * density. The guard is a corpus-keyed build-once artifact (one
    * tiny (lang, source, blk)-grain aggregate); when no block exceeds
    * the cap — every committed corpus incl. ×200, where the max block
    * holds ~2.2k docs — the plan is byte-identical to the unguarded
    * form, so all oracle hashes are unchanged. */
  val ContainBlkSpan = 5

  /** Max (lang, source, length-block) population admitted to the
    * quadratic length-banded screen — see [[containmentPairs]]. */
  val ContainBlockCap = 4096L

  /** Oversized-block drop list for [[containmentPairs]] plus its
    * pinned row count (so the hot path needs no emptiness probe):
    * the (lang, source, blk) keys with population > cap. Bounded
    * grain (≤ n_docs/cap rows), built once per corpus, drop logged
    * at build; a [[graft.CorpusCache.pinned]] artifact. */
  private[graft] case class ContainGuard(drop: DataFrame, blocks: Long)

  private[graft] def containGuard(spark: SparkSession, dir: String,
      cap: Long = ContainBlockCap): ContainGuard =
    graft.CorpusCache.pinned(spark, dir, "documents",
        s"containment_guard_$cap")(
      Tables.load(spark, dir, "documents")
        .groupBy(col("lang"), col("source"),
          floor(col("n_chars") / lit(20)).as("blk"))
        .agg(count(lit(1)).as("pop"))
        .filter(col("pop") > cap)) { over =>
      val st = over.agg(count(lit(1)).as("b"),
        sum(col("pop")).as("d")).head()
      if (st.getLong(0) > 0)
        System.err.println(s"[containment] block cap $cap: dropping " +
          s"${st.getLong(0)} oversized (lang, source, blk) blocks / " +
          s"${st.getLong(1)} docs from the length-banded screen " +
          "(covered by containment_content)")
      ContainGuard(over.select("lang", "source", "blk"), st.getLong(0))
    }

  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    containmentPairsWith(spark, dir, ContainBlockCap)

  private[graft] def containmentPairsWith(spark: SparkSession,
      dir: String, cap: Long): DataFrame = {
    val d0 = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        floor(col("n_chars") / lit(20)).as("blk"),
        TextFunctions.charNgramCodes(col("text"), 3).as("grams"))
    // the guard list is almost always EMPTY — keep the common plan
    // identical to the unguarded form (no extra join) and pay the
    // broadcast anti-join only when some block actually overflows
    val guard = containGuard(spark, dir, cap)
    val d = if (guard.blocks == 0) d0
      else d0.join(broadcast(guard.drop), Seq("lang", "source", "blk"),
        "left_anti")
    val a = d.select(col("doc_id").as("a"), col("lang"), col("source"),
        col("blk"), col("grams").as("grams_a"))
      .withColumn("jblk", explode(sequence(col("blk") - ContainBlkSpan,
        col("blk") + ContainBlkSpan)))
      .drop("blk")
    val b = d.select(col("doc_id").as("b"), col("lang"), col("source"),
      col("blk").as("jblk"), col("grams").as("grams_b"))
    a.join(b, Seq("lang", "source", "jblk"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        size(col("grams_a")).cast("long").as("na"),
        size(col("grams_b")).cast("long").as("nb"),
        TextFunctions.intersectCount(col("grams_a"), col("grams_b"))
          .cast("long").as("inter"))
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("a"), col("b"), col("na"), col("nb"), col("inter"),
        round(col("inter").cast("double") / col("na").cast("double"), 6)
          .as("cont_a"),
        round(col("inter").cast("double") / col("nb").cast("double"), 6)
          .as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= ContainMin)
      .orderBy(greatest(col("cont_a"), col("cont_b")).desc,
        col("a").asc, col("b").asc)
      .limit(200)
  }

  /** Anchor df band for [[containmentContent]]: a shingle pairs docs
    * only when its document frequency is in [2, cap]. df=1 shingles
    * pair nothing; df>cap shingles are boilerplate that would square
    * the anchor join (the [[EvalDfCap]] trade). Candidate count is
    * bounded by Σ_{h: df∈band} C(df,2) ≤ cap/2 · Σ df — LINEAR in
    * corpus shingle volume with a cap-sized constant, never n². */
  val ContainAnchorDfCap = 50L

  /** #192 (content-keyed twin, round 16 — VERDICT r15 #2) Containment
    * via RARE-SHINGLE ANCHOR blocking: candidates are doc pairs that
    * share at least one word-bigram shingle with corpus df in
    * [2, [[ContainAnchorDfCap]]] — the standard sub-document blocking.
    * A 120-char quote inside a 5000-char article shares every one of
    * the quote's shingles with the article, so ANY of them being
    * corpus-rare surfaces the pair — length plays no role, which is
    * exactly the asymmetry [[containmentPairs]]'s ±120-char length
    * band structurally cannot see (its scaladoc owns that bound).
    *
    * Verification is EXACT: candidate pairs (a bounded set — see
    * [[ContainAnchorDfCap]]) are joined back to the full distinct
    * shingle index, so |A∩B| counts ALL shared shingles, not just
    * anchors, and c(a→b) = |A∩B|/|A| uses uncapped per-doc sizes.
    * Containment is over distinct word-bigram shingles here (the
    * index grain); the length-banded form measures char-3-gram
    * containment — both are c = |A∩B|/|A|, and the word grain is
    * what the anchor index already carries, so verification adds no
    * second explode. Docs under 2 tokens have no shingles and cannot
    * anchor or be contained (degenerate for a sub-document screen).
    * Ratios are int/int double divisions rounded to 6 dp before the
    * threshold/order compare (both engines agree); ties broken by
    * (a, b) so the LIMIT is deterministic. */
  def containmentContent(spark: SparkSession, dir: String): DataFrame = {
    // corpus artifact (the lsh_eval_pos pattern): the verified
    // containment pair table is a bounded build-once report — anchors,
    // candidate pairs, and exact intersections all derive from the one
    // pinned shingle index and the result is ≤ the candidate bound
    val scored = graft.CorpusCache.df(spark, dir, "documents",
        "containment_content") {
      val docs = Tables.load(spark, dir, "documents")
        .filter(col("text").isNotNull)
      // the lshEval shingle identity: distinct (doc, md5-tail-32 of
      // word bigram) — pinned once, feeds sizes, anchors, both sides
      // of the candidate join AND the exact intersection recount
      val dd = docs
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
        .localCheckpoint() // pin: inner, cold build only; feeds 6 branches
      val sz = dd.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val anchors = dd.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= ContainAnchorDfCap)
        .select("h")
      val anchored = dd.join(anchors, "h")
      val cand = anchored.select(col("doc_id").as("a"), col("h"))
        .join(anchored.select(col("doc_id").as("b"), col("h")), "h")
        .filter(col("a") < col("b"))
        .select("a", "b").distinct()
      // exact |A∩B| over the FULL index: fan each candidate pair to
      // a's shingles, keep those b also has — cost |cand| × avg doc
      // shingles, bounded because cand is
      val inter = cand
        .join(dd.select(col("doc_id").as("a"), col("h")), Seq("a"))
        .join(dd.select(col("doc_id").as("b"), col("h")), Seq("b", "h"))
        .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      inter
        .join(sz.select(col("doc_id").as("a"), col("n").as("na")), "a")
        .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), "b")
        .select(col("a"), col("b"), col("na"), col("nb"), col("inter"),
          round(col("inter").cast("double") / col("na").cast("double"), 6)
            .as("cont_a"),
          round(col("inter").cast("double") / col("nb").cast("double"), 6)
            .as("cont_b"))
        .filter(greatest(col("cont_a"), col("cont_b")) >= ContainMin)
    }
    scored
      .orderBy(greatest(col("cont_a"), col("cont_b")).desc,
        col("a").asc, col("b").asc)
      .limit(200)
  }
}
