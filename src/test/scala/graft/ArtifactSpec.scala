package graft

import org.apache.spark.sql.functions._

import graft.operators.{Analytics, Components, Dimensional, LmFilter, Num,
  Similarity}
import graft.sources.Tables

/** Round-15 artifact-equivalence contracts: every corpus-keyed pinned
  * collapse must be BIT-identical to the inline aggregate its
  * consumers previously computed — the caches are a cost move, never
  * a semantics move. Each test recomputes the inline form from the
  * raw tables and compares row sets exactly. */
class ArtifactSpec extends SparkTestBase {

  private val DayUs = 86400L * 1000000L

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("clearAll rebuilds a frame, a scalar, a model and a composite") {
    // one artifact of each shape the bench's cold mode must reach: a
    // pinned frame, a driver scalar, a trained model and a composite
    // (frame + scalars); a build shows as a job under its site's name
    def all() = (Components.basketPairs(spark, SfDir),
      Tables.rowCount(spark, SfDir, "events"),
      rows(Similarity.trainedCentroids(spark, SfDir)),
      Dimensional.scd2Artifact(spark, SfDir))
    def builds(body: => Unit): Set[String] = jobDescriptions(body)
      .filter(_.startsWith("graft:artifact:")).toSet
    val sites = Set("basket_pairs", "row_count",
      s"centroids#${Similarity.IvfKmeansIters}", "scd2_artifact")
      .map("graft:artifact:" + _)
    val (pairs, n, model, scd2) = all()
    // warm: the same pinned objects come back and nothing is built
    assert(builds {
      val (p2, n2, m2, s2) = all()
      assert((p2 eq pairs) && n2 == n && m2 == model && (s2 eq scd2))
    }.isEmpty)
    graft.CorpusCache.clearAll()
    // cold: each one is built again, to equal rows
    assert(sites.subsetOf(builds {
      val (p3, n3, m3, s3) = all()
      assert(!(p3 eq pairs) && !(s3 eq scd2) && !(s3.dim eq scd2.dim))
      assert(rows(p3) === rows(pairs) && n3 === n && m3 === model)
      assert(rows(s3.dim) === rows(scd2.dim) && s3.rows === scd2.rows &&
        s3.maxChain === scd2.maxChain)
    }))
  }

  test("clearAll reaches an operator that self-manages its " +
    "computeIfAbsent (scd2Artifact — ADVICE r16 #1)") {
    val warm1 = Dimensional.scd2Artifact(spark, SfDir)
    val warm2 = Dimensional.scd2Artifact(spark, SfDir)
    // warm: the second call must serve the SAME pinned artifact
    assert(warm2.dim eq warm1.dim)
    graft.CorpusCache.clearAll()
    // cold: a fresh build — a warm artifact leaking through would
    // understate the cold floor
    val cold = Dimensional.scd2Artifact(spark, SfDir)
    assert(!(cold.dim eq warm1.dim))
    assert(rows(cold.dim) === rows(warm1.dim))
  }

  test("ModelStore: persisted models ≡ trained, and the load path " +
    "actually reads the persisted table (VERDICT r16 #5)") {
    import graft.operators.{ModelStore, Similarity}
    // store OFF: honest in-session training (the default posture)
    graft.CorpusCache.clearAll()
    val trainedC = rows(Similarity.trainedCentroids(spark, SfDir))
    val trainedPq = rows(Similarity.trainedPqCodebooks(spark, SfDir))
    val root = ModelStore.root(SfDir)
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    sys.props("graft.modelstore") = "1"
    try {
      // first store-enabled pass: trains, PERSISTS, serves the
      // re-read — must be bit-identical to plain training
      graft.CorpusCache.clearAll()
      assert(rows(Similarity.trainedCentroids(spark, SfDir))
        === trainedC)
      assert(rows(Similarity.trainedPqCodebooks(spark, SfDir))
        === trainedPq)
      val f = ModelStore.currentTable(SfDir,
        s"centroids_${Similarity.IvfKmeansIters}")
        .getOrElse(fail("centroid model table not persisted"))
      assert(ModelStore.currentTable(SfDir, "pq_codebooks").nonEmpty)
      // second pass must LOAD, not retrain: doctor the persisted
      // table IN PLACE (same generation the pointer names) and
      // assert the doctored row is what comes back
      import spark.implicits._
      Seq((999999L, Seq.fill(4)(0.5)))
        .toDF("c_id", "cvec")
        .write.mode("overwrite").parquet(f.getPath)
      graft.CorpusCache.clearAll()
      val loaded = rows(Similarity.trainedCentroids(spark, SfDir))
      assert(loaded.size === 1 && loaded.head.contains("999999"),
        "store-enabled reload retrained instead of reading the table")
    } finally {
      sys.props.remove("graft.modelstore")
      org.apache.commons.io.FileUtils.deleteQuietly(root)
      graft.CorpusCache.clearAll()
    }
    // store OFF again: training is back (no stale persisted serve)
    assert(rows(Similarity.trainedCentroids(spark, SfDir)) === trainedC)
  }

  test("ModelStore: a stale marker (corpus regenerated after the " +
    "model was built) forces a retrain, never a stale serve " +
    "(round 18 hardening, ADVICE r17 #2)") {
    import graft.operators.{ModelStore, Similarity}
    graft.CorpusCache.clearAll()
    val trainedC = rows(Similarity.trainedCentroids(spark, SfDir))
    val root = ModelStore.root(SfDir)
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    sys.props("graft.modelstore") = "1"
    try {
      graft.CorpusCache.clearAll()
      Similarity.trainedCentroids(spark, SfDir).collect()
      val f = ModelStore.currentTable(SfDir,
        s"centroids_${Similarity.IvfKmeansIters}")
        .getOrElse(fail("persist pass incomplete"))
      val marker = new java.io.File(root,
        s"_BUILT_centroids_${Similarity.IvfKmeansIters}")
      assert(marker.exists(), "persist pass incomplete")
      // doctor the persisted table, then BACKDATE the marker below
      // the corpus mtime — the freshness guard must retrain (i.e.
      // the doctored rows must NOT come back, unlike the fresh-marker
      // doctored-serve case above which proves the load path)
      import spark.implicits._
      Seq((999999L, Seq.fill(4)(0.5))).toDF("c_id", "cvec")
        .write.mode("overwrite").parquet(f.getPath)
      assert(marker.setLastModified(1000L))
      graft.CorpusCache.clearAll()
      assert(rows(Similarity.trainedCentroids(spark, SfDir)) === trainedC,
        "stale-marker store served the doctored model instead of retraining")
      // and the retrain re-published + re-marked: a fresh marker now
      // guards a table equal to honest training
      assert(marker.lastModified() > 1000L)
    } finally {
      sys.props.remove("graft.modelstore")
      org.apache.commons.io.FileUtils.deleteQuietly(root)
      graft.CorpusCache.clearAll()
    }
  }

  // NOTE (ADVICE r19 #4): the ModelStore tests flip global sys.props
  // ('graft.modelstore', 'graft.modelstore.root') read dynamically by
  // ModelStore.enabled/configuredRoot. Safe because Test/fork runs
  // suites SEQUENTIALLY in one JVM; if testForkedParallel is ever
  // enabled these must move behind a ModelStore test hook first.
  test("ModelStore: an explicitly configured root keeps its own " +
    "permissions; the tmpdir fallback is owner-only (ADVICE r18 #2)") {
    import graft.operators.{ModelStore, Similarity}
    import java.nio.file.Files
    import java.nio.file.attribute.PosixFilePermissions
    val shared = java.nio.file.Paths.get(tempDir("graft_shared_store"))
    val groupReadable = PosixFilePermissions.fromString("rwxr-xr-x")
    Files.setPosixFilePermissions(shared, groupReadable)
    sys.props("graft.modelstore") = "1"
    sys.props("graft.modelstore.root") = shared.toString
    try {
      graft.CorpusCache.clearAll()
      Similarity.trainedCentroids(spark, SfDir).collect()
      assert(ModelStore.currentTable(SfDir,
        s"centroids_${Similarity.IvfKmeansIters}").nonEmpty,
        "model did not persist under the configured root")
      // the configured root is the operator's trust domain, possibly
      // shared with other services — chmod must NOT have touched it
      assert(Files.getPosixFilePermissions(shared) === groupReadable,
        "configured store root's permissions were rewritten")
    } finally {
      sys.props.remove("graft.modelstore.root")
      sys.props.remove("graft.modelstore")
      org.apache.commons.io.FileUtils.deleteQuietly(shared.toFile)
      graft.CorpusCache.clearAll()
    }
    // and the default fallback stays locked down: owner-only perms
    graft.CorpusCache.clearAll()
    sys.props("graft.modelstore") = "1"
    try {
      Similarity.trainedCentroids(spark, SfDir).collect()
      val own = PosixFilePermissions.fromString("rwx------")
      assert(Files.getPosixFilePermissions(
        ModelStore.storeBase.toPath) === own,
        "tmpdir-fallback store base must be owner-only")
    } finally {
      sys.props.remove("graft.modelstore")
      graft.CorpusCache.clearAll()
    }
  }

  test("ModelStore: a configured root owned by ANOTHER user is " +
    "refused loudly, never silently served (ADVICE r19 #3)") {
    import graft.operators.{ModelStore, Similarity}
    import java.nio.file.Files
    val shared = java.nio.file.Paths.get(tempDir("graft_foreign_store"))
    // simulate the hostile pre-created root: chown to a different
    // local user (works when the suite runs privileged — this
    // container — otherwise the setup itself fails and we skip)
    val foreign =
      try {
        val other = shared.getFileSystem.getUserPrincipalLookupService
          .lookupPrincipalByName("daemon")
        Files.setOwner(shared, other); true
      } catch { case _: Exception => false }
    assume(foreign, "cannot chown to a second user here — skipping")
    sys.props("graft.modelstore") = "1"
    sys.props("graft.modelstore.root") = shared.toString
    try {
      graft.CorpusCache.clearAll()
      val e = intercept[SecurityException] {
        Similarity.trainedCentroids(spark, SfDir).collect()
      }
      assert(e.getMessage.contains("daemon"),
        s"refusal must name the foreign owner: ${e.getMessage}")
    } finally {
      sys.props.remove("graft.modelstore.root")
      sys.props.remove("graft.modelstore")
      org.apache.commons.io.FileUtils.deleteQuietly(shared.toFile)
      graft.CorpusCache.clearAll()
    }
  }

  test("ModelStore: two concurrent publishers (fresh AND stale " +
    "rebuild) both serve the honest model glimpse-free; the pointer " +
    "resolves a complete table throughout and nothing but grace-" +
    "protected generations remains (VERDICT r19 #5, ADVICE r19 #1/#2)") {
    import graft.operators.{ModelStore, Similarity}
    graft.CorpusCache.clearAll()
    val trainedC = rows(Similarity.trainedCentroids(spark, SfDir))
    val root = ModelStore.root(SfDir)
    val name = s"centroids_${Similarity.IvfKmeansIters}"
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    sys.props("graft.modelstore") = "1"
    def racePair(): Unit = {
      // CorpusCache would serialize the two callers on one artifact
      // slot; go straight at the store layer so both
      // threads really run the train→publish→pointer-swap path.
      // Under the generation+pointer protocol BOTH callers must
      // succeed with the honest model — the delete-in-place protocol
      // this replaced failed exactly here (one caller's read
      // glimpsed the table the other had renamed aside).
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      val fs = (1 to 2).map { _ =>
        Future(rows(ModelStore.table(spark, SfDir, name, "embeddings") {
          Similarity.lloydTrain(Similarity.emb(spark, SfDir),
            Similarity.IvfKmeansIters)
        }))
      }
      val got = fs.map(Await.result(_, 5.minutes))
      pool.shutdown()
      assert(got.forall(_ === trainedC),
        "a concurrent publisher failed or served a non-trained model")
    }
    def pointedComplete(): java.io.File = {
      val gen = ModelStore.currentTable(SfDir, name)
        .getOrElse(fail("pointer does not resolve"))
      assert(new java.io.File(gen, "_SUCCESS").exists(),
        "pointer names an incomplete generation")
      gen
    }
    try {
      racePair() // fresh-corpus race: both train, one wins the swap
      pointedComplete()
      // stale rebuild race: backdate the pointer so BOTH callers see
      // a stale store and rebuild concurrently over the same model.
      // Superseded generations must survive (grace window protects
      // in-flight readers), the pointer must keep resolving a
      // complete table, and both callers must serve honest rows.
      assert(new java.io.File(root, s"_BUILT_$name")
        .setLastModified(1000L))
      racePair()
      pointedComplete()
      assert(new java.io.File(root, s"_BUILT_$name").lastModified() >
        1000L, "stale rebuild did not refresh the pointer")
      // hygiene: no tmp pointer files linger; every generation dir on
      // disk is COMPLETE (an in-flight/partial dir would mean a
      // writer leaked mid-publish) even if superseded ones await GC
      val entries = Option(root.listFiles()).getOrElse(Array.empty)
      assert(!entries.exists(_.getName.contains(".ptr_")),
        "tmp pointer file leaked")
      val partial = entries.filter(d => d.getName.startsWith(name + "_g") &&
        !new java.io.File(d, "_SUCCESS").exists())
      assert(partial.isEmpty,
        s"partial generation dirs leaked: ${partial.map(_.getName).toSeq}")
      // and the table the races left behind is the honest model
      graft.CorpusCache.clearAll()
      assert(rows(Similarity.trainedCentroids(spark, SfDir)) === trainedC)
    } finally {
      sys.props.remove("graft.modelstore")
      org.apache.commons.io.FileUtils.deleteQuietly(root)
      graft.CorpusCache.clearAll()
    }
  }

  test("ModelStore: grace-window GC reclaims old superseded " +
    "generations at rebuild time but never the pointed one or a " +
    "young one; a corrupt pointer is refused, never escapes the " +
    "root, and heals by retrain (round 20 store protocol)") {
    import graft.operators.{ModelStore, Similarity}
    graft.CorpusCache.clearAll()
    val trainedC = rows(Similarity.trainedCentroids(spark, SfDir))
    val root = ModelStore.root(SfDir)
    val name = s"centroids_${Similarity.IvfKmeansIters}"
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    sys.props("graft.modelstore") = "1"
    def store(): Set[String] = {
      val r = rows(ModelStore.table(spark, SfDir, name, "embeddings") {
        Similarity.lloydTrain(Similarity.emb(spark, SfDir),
          Similarity.IvfKmeansIters)
      })
      assert(r === trainedC); r
    }
    try {
      store() // publish generation 1
      val gen1 = ModelStore.currentTable(SfDir, name).get
      // fabricate GC candidates: an OLD superseded complete
      // generation (copy of gen1, backdated past the grace window),
      // a YOUNG superseded one, and an old PARTIAL one (no _SUCCESS —
      // an in-flight writer's dir, which GC must never touch even
      // when old... it has no _SUCCESS, so it is skipped)
      val oldGen = new java.io.File(root, s"${name}_gOLD.parquet")
      val youngGen = new java.io.File(root, s"${name}_gYOUNG.parquet")
      val partial = new java.io.File(root, s"${name}_gPARTIAL.parquet")
      org.apache.commons.io.FileUtils.copyDirectory(gen1, oldGen)
      org.apache.commons.io.FileUtils.copyDirectory(gen1, youngGen)
      partial.mkdirs()
      val past = System.currentTimeMillis() - ModelStore.GcGraceMs - 60000
      assert(oldGen.setLastModified(past) && partial.setLastModified(past))
      // trigger a REBUILD (stale pointer) — its entry GC runs
      assert(new java.io.File(root, s"_BUILT_$name").setLastModified(1000L))
      store()
      assert(!oldGen.exists(), "old superseded generation not reclaimed")
      assert(youngGen.exists(), "grace-protected young generation yanked")
      assert(partial.exists(), "in-flight (no _SUCCESS) dir yanked")
      assert(ModelStore.currentTable(SfDir, name).exists(
        _.getName != oldGen.getName), "pointer dangling after GC")
      // corrupt pointer: a path-escape name must resolve to None
      // (never served from outside the store root) and the next table
      // call must retrain + republish over it
      val escape = java.nio.file.Paths.get(tempDir("graft_escape"))
      java.nio.file.Files.writeString(
        new java.io.File(root, s"_BUILT_$name").toPath,
        "../../" + escape.getFileName)
      assert(ModelStore.currentTable(SfDir, name).isEmpty,
        "corrupt pointer escaped the store root")
      store() // heals: retrains and swaps in a valid pointer
      assert(ModelStore.currentTable(SfDir, name).nonEmpty)
      org.apache.commons.io.FileUtils.deleteQuietly(escape.toFile)
    } finally {
      sys.props.remove("graft.modelstore")
      org.apache.commons.io.FileUtils.deleteQuietly(root)
      graft.CorpusCache.clearAll()
    }
  }

  test("userCard equals the inline user-grain aggregates") {
    val card = Dimensional.userCard(spark, SfDir)
      .select(col("user_id"), col("f.event_type").as("channel"),
        col("last_us"), col("p_last_us"), col("p_freq"), col("p_mon"))
    val ev = Tables.load(spark, SfDir, "events")
    val inline = ev.groupBy("user_id")
      .agg(min(struct(unix_micros(col("ts")).as("us"), col("event_id"),
          col("event_type"))).as("f"),
        max(unix_micros(col("ts"))).as("last_us"))
      .select(col("user_id"), col("f.event_type").as("channel"),
        col("last_us"))
    val purch = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max(unix_micros(col("ts"))).as("p_last_us"),
        count(lit(1)).as("p_freq"),
        Num.dsumExact(col("value")).as("p_mon"))
    val want = inline.join(purch, Seq("user_id"), "left")
      .withColumn("p_freq", coalesce(col("p_freq"), lit(0L)))
      .select("user_id", "channel", "last_us", "p_last_us", "p_freq",
        "p_mon")
    assert(rows(card) === rows(want))
  }

  test("userDays equals the inline distinct (user, day)") {
    val want = Tables.load(spark, SfDir, "events")
      .select(col("user_id"),
        expr(s"unix_micros(ts) div $DayUs").as("day")).distinct()
    assert(rows(Dimensional.userDays(spark, SfDir)) === rows(want))
  }

  test("userWeekRev equals the inline (user, week) purchase collapse") {
    val want = Tables.load(spark, SfDir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"),
        expr(s"unix_micros(ts) div ${DayUs * 7L}").as("week"))
      .agg((Num.dsumExact(col("value")) * lit(1000000L))
        .cast("decimal(38,0)").as("rev_u"))
    assert(rows(Dimensional.userWeekRev(spark, SfDir)) === rows(want))
  }

  test("scd2Artifact pins scd2Dim's exact output plus true chain stats") {
    val art = Dimensional.scd2Artifact(spark, SfDir)
    val want = Dimensional.scd2Dim(spark, SfDir)
    assert(rows(art.dim) === rows(want))
    val stats = want.groupBy("ticker_id").agg(count(lit(1)).as("c"))
      .agg(sum(col("c")), max(col("c"))).head()
    assert(art.rows === stats.getLong(0))
    assert(art.maxChain === stats.getLong(1))
  }

  test("basketPairCounts equals the inline basket self-join") {
    val lines = Tables.load(spark, SfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val want = lines.select(col("l_orderkey"), col("l_partkey").as("pa"))
      .join(lines.select(col("l_orderkey"), col("l_partkey").as("pb")),
        "l_orderkey")
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("support"))
    assert(rows(Components.basketPairCounts(spark, SfDir)) === rows(want))
  }

  test("keyCounts carries exact counts and the lineitem null-FK extra") {
    val got = Analytics.keyCounts(spark, SfDir, "lineitem", "l_orderkey")
    val want = Tables.load(spark, SfDir, "lineitem")
      .groupBy(col("l_orderkey").as("k"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_partkey").isNull.cast("long")).as("n_null_part"))
    assert(rows(got) === rows(want))
    val go = Analytics.keyCounts(spark, SfDir, "orders", "o_custkey")
    val wo = Tables.load(spark, SfDir, "orders")
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("cnt"))
    assert(rows(go) === rows(wo))
  }

  test("bigramCounts equals the inline adjacent-pair type counts") {
    val toks = Tables.load(spark, SfDir, "documents")
      .select(col("doc_id"),
        filter(split(lower(trim(col("text"))), "\\s+"),
          t => t =!= "").as("toks"))
    val want = toks.select(
        explode(arrays_zip(
          slice(col("toks"), lit(1),
            greatest(size(col("toks")) - 1, lit(0))),
          slice(col("toks"), lit(2),
            greatest(size(col("toks")) - 1, lit(0))))).as("b"))
      .select(col("b.0").as("w1"), col("b.1").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    assert(rows(LmFilter.bigramCounts(spark, SfDir)) === rows(want))
  }
}
