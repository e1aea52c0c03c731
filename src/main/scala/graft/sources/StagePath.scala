package graft.sources

import java.io.{File, IOException}
import java.nio.file.{Files, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of the data graft writes for itself (the
  * land-then-load steps of the reference pipeline, re-expressed as
  * directories). Everything lives directly under `java.io.tmpdir`, in
  * one of two kinds, and no other code builds a path there:
  *
  *  - **[[derived]]**: a copy built from a corpus (a staged layout, a
  *    ×N view, a z-ordered table, a persisted index), kept across calls
  *    and processes. Its name is `graft_<site>_<corpus>_<stamp>`:
  *    the site, the corpus dir and the mtimes of the source tables it
  *    reads, the rule [[graft.CorpusCache]] keys artifacts by. So a
  *    regenerated corpus is a new name and is never served a stale
  *    copy. A copy is built in a hidden directory of its builder's own
  *    and published by one atomic rename, so a directory under the
  *    final name is always complete; a builder that loses the rename
  *    deletes its copy and serves the winner's, and a build that
  *    throws leaves nothing behind. A copy lives until a newer copy of
  *    the same site and corpus is published, which deletes it. A table
  *    with no readable mtime stamps as 0, so its copy is reused until
  *    deleted by hand.
  *  - **[[scratch]]**: a private directory for one call, deleted when
  *    the call returns or throws. A query that writes to reach its
  *    answer collects that answer (a per-day, per-type or per-shard
  *    aggregate) into a local frame before the delete, so two calls
  *    never share a table and no call leaves anything behind.
  *
  * Catalog tables (the bucketed warehouse, the gram index), the model
  * store and table roots a caller passes in are not graft's scratch
  * and are not written here. */
object StagePath {

  private def tmp = new File(sys.props("java.io.tmpdir"))

  /** Collision-free 16-hex key of `s`. `String.hashCode` is 32-bit and
    * collides easily (the "Aa"/"BB" family), which would let two
    * distinct corpus dirs share a name — an MD5 prefix cannot. */
  def key(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map("%02x".format(_)).mkString

  /** The copy `build` writes into the directory it is given, derived
    * from `tables` of corpus `dir` under the name `site`; built once
    * per corpus state and served from then on. Returns its path. */
  def derived(dir: String, tables: Seq[String], site: String)(
      build: String => Unit): String = {
    val stamp = tables.sorted
      .map(t => s"$t@${new File(dir, s"$t.parquet").lastModified}")
    val prefix = s"graft_${site}_${key(dir)}_"
    val copy = new File(tmp, prefix + key(stamp.mkString(",")))
    if (!copy.isDirectory) {
      val own = Files.createTempDirectory(tmp.toPath, s".$prefix")
      try {
        build(own.toString)
        try Files.move(own, copy.toPath, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: IOException if copy.isDirectory => () } // lost
      } finally FileUtils.deleteQuietly(own.toFile)
      // older copies of this site and corpus are superseded
      Option(tmp.listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith(prefix) && f != copy)
        .foreach(FileUtils.deleteQuietly)
    }
    copy.getPath
  }

  /** `body` over a directory of its own, deleted once `body` returns or
    * throws. */
  def scratch[A](site: String)(body: String => A): A = {
    val own = Files.createTempDirectory(tmp.toPath, s"graft_${site}_")
    try body(own.toString) finally FileUtils.deleteQuietly(own.toFile)
  }

  /** [[scratch]] for a query: the frame `body` returns is collected
    * before the directory goes, and served as a local frame. */
  def scratch(spark: SparkSession, site: String)(
      body: String => DataFrame): DataFrame =
    scratch(site) { d =>
      val df = body(d)
      spark.createDataFrame(df.collectAsList(), df.schema)
    }
}
