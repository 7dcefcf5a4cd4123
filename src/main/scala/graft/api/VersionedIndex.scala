package graft.api

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Versioned-directory index layout with an atomic `_current` pointer —
  * the crash-safety discipline shared by every persisted index in this
  * package (IVF/IVF+PQ vector indexes, the MinHash near-dup index, the
  * hamming perceptual index, the Bloom seen filter).
  *
  * Layout: a fresh build lives at `path` itself (legacy/simple layout);
  * any rewriting operation (reindex, delete) writes a complete new tree
  * under `path/v<N>` and then commits by replacing `path/_current`
  * with [[graft.core.Commit.writeAtomically]] (hidden temp sibling,
  * then rename-with-overwrite). Readers resolve through
  * [[resolveRoot]], so a rewrite becomes visible at exactly one commit
  * point: a crash at ANY earlier moment leaves the previous version
  * fully live and the half-written v-dir invisible (the next writer
  * skips past it when numbering).
  */
private[graft] object VersionedIndex {

  /** The CURRENT root of a possibly-versioned index: `path/v<N>` when a
    * `_current` pointer exists, `path` itself otherwise. */
  def resolveRoot(spark: SparkSession, path: String): String = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(root, "_current")
    if (!fs.exists(cur)) path
    else {
      val in = fs.open(cur)
      val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      require(v.matches("v\\d+"), s"corrupt _current pointer at $path: '$v'")
      s"$path/$v"
    }
  }

  /** Next unused version name under `path` — one past the max of every
    * `v<N>` dir present, COMMITTED OR NOT, so an abandoned half-write
    * is never reused. */
  def nextVersion(spark: SparkSession, path: String): String = {
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing: Seq[Long] =
      if (!fs.exists(base)) Seq.empty
      else fs.listStatus(base).map(_.getPath.getName).toSeq
        .collect { case n if n.matches("v\\d+") => n.stripPrefix("v").toLong }
    s"v${(0L +: existing).max + 1}"
  }

  /** Commit point: atomically replace `path/_current` with `version`.
    * Everything under `path/$version` must already be fully written. */
  def commitPointer(spark: SparkSession, path: String, version: String): Unit = {
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.Commit.writeAtomically(fs, new Path(base, "_current"),
      version.getBytes("UTF-8"), replace = true)
  }

  /** Delete every superseded version dir (and, once a pointer exists,
    * the named legacy root-layout tables) — run only when no reader may
    * still hold a pre-swap resolution. `keep` names superseded versions
    * that must SURVIVE the vacuum: version-pinned replay consumers (the
    * ingest `_dedup` ledger) record the version their crashed commit
    * consulted, and deleting it would wedge the otherwise-automatic
    * replay (ADVICE r16). Returns what was deleted. */
  def vacuum(spark: SparkSession, path: String,
             legacyTables: Seq[String],
             keep: Set[String] = Set.empty): Seq[String] = {
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current = resolveRoot(spark, path)
    if (current == path) return Seq.empty // unversioned: nothing superseded
    val currentName = current.stripPrefix(s"$path/")
    val doomed = fs.listStatus(base).map(_.getPath.getName).filter { n =>
      ((n.matches("v\\d+") && n != currentName) || legacyTables.contains(n)) &&
        !keep.contains(n)
    }.toSeq
    doomed.foreach(n => fs.delete(new Path(base, n), true))
    doomed.sorted
  }
}
