package graft.core

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Options, Path}

/** How a commit point becomes visible on disk: the one implementation
  * behind every on-disk protocol here (the ingest commit, compaction and
  * row-level rewrites, stats manifests, the versioned-index `_current`
  * pointer, the seen filter's lock, the suppressor append ledger).
  * Every lister skips [[hidden]] names, so a temp file a crash left
  * behind is never read as a commit or a ledger entry.
  */
private[graft] object Commit {

  /** Temp, staging and bookkeeping names — `.`- or `_`-prefixed, the
    * rule Hadoop and Spark readers already apply to data dirs. */
  def hidden(name: String): Boolean = name.startsWith(".") || name.startsWith("_")

  /** Move every visible file of a staged write, `staging/<dirs>/<f>`,
    * to `root/<dirs>/b<token>-<name(f)>` — invisible until the caller's
    * marker lands — and delete the staging dir. A rename that reports
    * failure by return value (as many filesystems do) fails the publish
    * instead of letting the caller mark rows that never reached the
    * table. Returns the published file count. */
  def publish(fs: FileSystem, staging: Path, root: Path, token: String,
              name: String => String = identity): Int = {
    val stagingQualified = fs.makeQualified(staging).toString
    val staged = scala.collection.mutable.ArrayBuffer.empty[Path]
    Tables.walkStatuses(fs, staging)(st => staged += st.getPath)
    val files = staged.filterNot(f => hidden(f.getName))
    files.foreach { f =>
      // staging/<year=Y/month=M>/part-… → root/<year=Y/month=M>/b<token>-part-…
      val rel = f.toString.stripPrefix(stagingQualified).stripPrefix("/")
      val relDir = rel.split('/').dropRight(1).mkString("/")
      val destDir = if (relDir.isEmpty) root else new Path(root, relDir)
      fs.mkdirs(destDir)
      val dest = new Path(destDir, s"b$token-${name(f.getName)}")
      if (!fs.rename(f, dest))
        throw new java.io.IOException(s"publish rename failed: $f -> $dest")
    }
    fs.delete(staging, true)
    files.size
  }

  /** Land `bytes` at `dest`, never as a torn file: write `.<name>.tmp`
    * beside it, then rename. Write-once by default: a checked rename,
    * and an existing `dest` (a replay's: write-once files here are
    * deterministic per name) stands. `replace` moves a pointer
    * (`_current`) by a `FileContext` rename with overwrite, which on
    * some filesystems deletes `dest` first, so a crash can leave none. */
  def writeAtomically(fs: FileSystem, dest: Path, bytes: Array[Byte],
                      replace: Boolean = false): Unit = {
    val tmp = new Path(dest.getParent, s".${dest.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (replace)
      FileContext.getFileContext(fs.getUri, fs.getConf)
        .rename(tmp, dest, Options.Rename.OVERWRITE)
    else if (!fs.rename(tmp, dest)) {
      if (!fs.exists(dest))
        throw new java.io.IOException(s"metadata rename failed: $tmp -> $dest")
      fs.delete(tmp, false)
    }
  }

  /** Create `path` holding `bytes` only if it does not exist (locks,
    * empty markers, write-once metadata); true when this call created
    * it. */
  def createExclusive(fs: FileSystem, path: Path,
                      bytes: Array[Byte] = Array.emptyByteArray): Boolean =
    try {
      val out = fs.create(path, false)
      try out.write(bytes) finally out.close()
      true
    } catch { case _: FileAlreadyExistsException => false }
}
