package graft.api

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one on-disk layout of every persisted store in this package (the
  * near-dup, hamming, containment, IVF and IVF+PQ indexes, the Bloom
  * seen filter and the PCA whitening model), and its one commit step.
  *
  * Layout: `path/v<N>/...`, one complete tree per version. Every build,
  * rewrite, merge, reindex, compaction and save writes a new `v<N>`
  * through [[rewrite]], which commits it by creating `v<N>/_committed`
  * ([[graft.core.Commit.createExclusive]]). Readers resolve the highest
  * `v<N>` holding that marker, so a version becomes visible at exactly
  * one create: a crash at any earlier moment leaves the previous version
  * current and the half-written `v<N>` invisible (the next writer
  * numbers past it). Hidden names (`_appends`, `_lock`) may sit beside
  * the versions; anything else at the root is an old layout.
  */
private[graft] object VersionedIndex {

  private val VersionDir = "v(\\d+)".r

  private def fsOf(spark: SparkSession, base: Path): FileSystem =
    base.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Version numbers under `base`, highest first, committed or not —
    * after failing loudly on an old layout: a `_current` pointer,
    * visible tables at the root, or a single-file seen filter. */
  private def versions(fs: FileSystem, base: Path): Seq[Long] = {
    val entries =
      try fs.listStatus(base)
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    val names = entries.map(_.getPath.getName)
    def table(n: String) = !graft.core.Commit.hidden(n) && !VersionDir.matches(n)
    if (entries.exists(e => e.isFile && e.getPath.toUri.getPath == base.toUri.getPath) ||
        names.exists(n => n == "_current" || table(n)))
      throw new IllegalStateException(s"$base holds a store in the old unversioned " +
        "layout (a _current pointer, tables at its root, or a single-file seen " +
        "filter), which is no longer read — delete it and rebuild")
    names.toSeq.collect { case VersionDir(n) => n.toLong }.sorted.reverse
  }

  /** The committed current version of `path` (the highest `v<N>` with a
    * `_committed` marker); None when nothing is committed there yet. */
  def current(spark: SparkSession, path: String): Option[String] = {
    val base = new Path(path)
    val fs = fsOf(spark, base)
    versions(fs, base).find(n => fs.exists(new Path(base, s"v$n/_committed"))).map(n => s"v$n")
  }

  /** The directory of the current version of `path`; a missing store
    * fails loudly. */
  def resolveRoot(spark: SparkSession, path: String): String =
    current(spark, path).map(v => s"$path/$v")
      .getOrElse(throw new IllegalArgumentException(s"nothing committed at $path"))

  /** One past the max of every `v<N>` present, COMMITTED OR NOT, so an
    * abandoned half-write is never reused. */
  private def nextVersion(fs: FileSystem, base: Path): String =
    s"v${(0L +: versions(fs, base)).max + 1}"

  /** Write a complete new version of `path` with `body` (given its
    * directory), then commit it; returns its name. A `body` that throws
    * leaves nothing behind: its staged version is deleted. */
  def rewrite(spark: SparkSession, path: String)(body: String => Unit): String = {
    val base = new Path(path)
    val fs = fsOf(spark, base)
    val v = nextVersion(fs, base)
    val dir = new Path(base, v)
    try body(s"$path/$v")
    catch { case t: Throwable => fs.delete(dir, true); throw t }
    if (!graft.core.Commit.createExclusive(fs, new Path(dir, "_committed")))
      throw new IllegalStateException(s"$path/$v was committed by a concurrent writer")
    v
  }

  /** Delete every version but the current one and `keep` — run only when
    * no reader may still hold an older resolution. `keep` names older
    * versions that must SURVIVE: version-pinned replay consumers (the
    * ingest `_dedup` ledger) record the version their crashed commit
    * consulted, and deleting it would wedge the otherwise-automatic
    * replay (ADVICE r16). Returns what was deleted. */
  def vacuum(spark: SparkSession, path: String,
             keep: Set[String] = Set.empty): Seq[String] = {
    val base = new Path(path)
    val fs = fsOf(spark, base)
    val live = keep ++ current(spark, path)
    val doomed = versions(fs, base).map(n => s"v$n").filterNot(live)
    doomed.foreach(n => fs.delete(new Path(base, n), true))
    doomed.sorted
  }
}
