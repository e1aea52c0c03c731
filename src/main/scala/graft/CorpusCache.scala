package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one cache for corpus artifacts: the build-once/query-many state
  * the operators derive from a corpus table (pinned collapses, graph
  * adjacencies, trained models, gate probes, percentile geometry).
  * Every rule about that state lives here and nowhere else:
  *
  *  - **key**: an artifact is named by its `site` (the operator's
  *    name for it, including any parameter its value depends on) and
  *    by its corpus, `dir/table.parquet` plus that file's mtime — a
  *    regenerated corpus at the same path is a new key, so it can never
  *    be served a stale artifact.
  *  - **unreadable mtime**: when `dir/table.parquet` has no readable
  *    mtime (a non-local path such as `file:/…` or `s3a://…`, or a
  *    table not laid out as one directory) the artifact is built on
  *    every call and never cached; a constant key would outlive a
  *    regeneration of the corpus.
  *  - **cap**: each site keeps at most [[MaxEntries]] corpora and is
  *    cleared whole when a new one would exceed that. The cap counts
  *    per site, so a long run over many corpora never evicts another
  *    site's entries; an evicted artifact is rebuilt on its next use.
  *  - **session check**: a cached `localCheckpoint`ed frame is pinned
  *    to the session (and executor blocks) that built it. [[df]] and
  *    [[pinned]] serve a cached entry only to the session that built
  *    it while its context is running, and rebuild otherwise.
  *    [[value]] holds driver values (scalars, collected models), which
  *    are session-independent.
  *  - **builds**: a build never runs inside a map update. The maps
  *    only create an empty slot per artifact; the build runs under
  *    that slot's own lock, so concurrent first callers build once and
  *    a build may call other artifacts (`basketAdjacency` →
  *    `basketPairsSym` → `basketPairs`). Warm hits run no Spark job.
  *  - **job description**: a build's jobs run under the description
  *    `graft:artifact:<site>`; the caller's description (nested builds
  *    included) is restored afterwards.
  *  - **cold mode**: [[clearAll]] drops every artifact; the next use
  *    of each pays its build.
  */
object CorpusCache {

  /** Corpora kept per site before the site is cleared — generous for
    * real use (a long-lived service sees a handful of live corpora)
    * while bounding a corpus-regeneration loop. */
  val MaxEntries = 64

  /** One artifact. Created empty by the map; filled under its lock. */
  private final class Slot {
    var built = false
    var value: Any = null
  }

  // site → (corpus key → slot)
  private val sites =
    new ConcurrentHashMap[String, ConcurrentHashMap[String, Slot]]

  /** Drop every artifact (the bench's cold mode). */
  def clearAll(): Unit = sites.clear()

  /** A session-independent driver value (scalar, collected model). */
  def value[V](spark: SparkSession, dir: String, table: String,
      site: String)(compute: => V): V =
    cached[V](spark, dir, table, site, _ => true)(compute)

  /** A pinned frame, served only to the session that built it. */
  def df(spark: SparkSession, dir: String, table: String, site: String)(
      compute: => DataFrame): DataFrame =
    pinned[DataFrame](spark, dir, table, site)(identity)(compute)

  /** A value that holds a pinned frame (`frame` reaches it) next to
    * driver values derived from it; the whole value is rebuilt when
    * the frame fails the session check. */
  def pinned[V](spark: SparkSession, dir: String, table: String,
      site: String)(frame: V => DataFrame)(compute: => V): V =
    cached[V](spark, dir, table, site, v =>
      (frame(v).sparkSession eq spark) && !spark.sparkContext.isStopped)(
      compute)

  private def cached[V](spark: SparkSession, dir: String, table: String,
      site: String, live: V => Boolean)(compute: => V): V = {
    val mtime = new java.io.File(dir, s"$table.parquet").lastModified
    if (mtime == 0L) build(spark, site)(compute)
    else {
      val slot = slotOf(site, s"$dir/$table@$mtime")
      slot.synchronized {
        if (!slot.built || !live(slot.value.asInstanceOf[V])) {
          slot.value = build(spark, site)(compute)
          slot.built = true
        }
        slot.value.asInstanceOf[V]
      }
    }
  }

  private def slotOf(site: String, corpus: String): Slot = {
    val entries = sites.computeIfAbsent(site,
      _ => new ConcurrentHashMap[String, Slot])
    val slot = entries.get(corpus)
    if (slot != null) slot
    else {
      if (entries.size >= MaxEntries) entries.clear()
      entries.computeIfAbsent(corpus, _ => new Slot)
    }
  }

  private def build[V](spark: SparkSession, site: String)(
      compute: => V): V = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft:artifact:$site")
    try compute finally sc.setJobDescription(caller)
  }
}
