package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}

/** The commit log of a staged-publish ingest table, `<table>/_commits`:
  * one marker file per commit point. This is the only code that knows
  * the log's format; every reader (committed views, time travel, the
  * `graft-commits` source, compaction, vacuum, mutations, stats) takes
  * what it needs from one [[Snapshot]], and every writer lands its
  * marker through here.
  *
  * Grammar. A marker's name is its token:
  *  - `<batch>` — a batch of a single-query sink;
  *  - `g<i>-<batch>` — a batch of commit group i (groups number their
  *    batches independently, so the tag keeps tokens unique);
  *  - `c<stamp>` — a rewrite (compaction or row-level mutation); its
  *    CONTENT lists the tokens it superseded, one per line.
  * A data file published under token t is named `b<t>-<name>`. Hidden
  * names ([[Commit.hidden]]: a rewrite's temp marker a crash left
  * behind) and directories are not markers. A marker's mtime is its
  * commit stamp: markers are written once and never touched again.
  *
  * Liveness: every plain token, then the rewrites in stamp order, each
  * removing the tokens it lists and adding itself — so rewrites chain
  * (a later compaction supersedes an earlier one like any other token).
  */
private[graft] object CommitLog {

  /** A plain commit token; group 1 is the batch id. Anchored, so the
    * pattern string also serves Spark's `rlike`. */
  val Plain = "^(?:g\\d+-)?(\\d+)$".r
  /** A rewrite token; group 1 is the stamp. */
  val Rewrite = "^c(\\d+)$".r
  /** A published data file; group 1 is its token. */
  val DataFile = "^b((?:g\\d+-)?\\d+|c\\d+)-.*$".r

  def isRewrite(token: String): Boolean = Rewrite.pattern.matcher(token).matches()

  /** A marker's kind: `commit`, `compaction` (a rewrite) or `unknown`
    * (a foreign file, never live). */
  def kind(token: String): String =
    if (isRewrite(token)) "compaction"
    else if (Plain.pattern.matcher(token).matches()) "commit"
    else "unknown"

  /** The tag of commit group i. */
  def groupTag(i: Int): String = s"g$i"

  /** The token of batch `batchId`, tagged with its commit group if any. */
  def batchToken(batchId: Long, groupTag: Option[String]): String =
    groupTag.fold(batchId.toString)(g => s"$g-$batchId")

  def dataFileName(token: String, name: String): String = s"b$token-$name"

  def dir(root: Path): Path = new Path(root, "_commits")

  /** One marker file: its token, its stamp (mtime, ms), and for a
    * rewrite the tokens it superseded. */
  final case class Marker(token: String, stampMs: Long, superseded: Seq[String]) {
    def batch: Option[Long] = token match {
      case Plain(id) => Some(id.toLong)
      case _ => None
    }
    def isRewrite: Boolean = CommitLog.isRewrite(token)
    def isToken: Boolean = batch.isDefined || isRewrite
  }

  /** The log as one listing saw it; `markers` sorted by token and
    * including foreign (non-grammar) files, which are never live. */
  final case class Snapshot(markers: Seq[Marker]) {
    /** Every protocol token with a marker. */
    lazy val tokens: Set[String] = markers.filter(_.isToken).map(_.token).toSet
    /** Every token some rewrite superseded. */
    lazy val superseded: Set[String] = markers.filter(_.isRewrite)
      .flatMap(_.superseded).toSet
    lazy val live: Set[String] = markers
      .collect { case m @ Marker(Rewrite(stamp), _, _) => (stamp.toLong, m) }
      .sortBy(_._1)
      .foldLeft(markers.filter(_.batch.isDefined).map(_.token).toSet) {
        case (l, (_, m)) => l -- m.superseded + m.token
      }
    /** (token, batch id, stamp) of every plain commit. */
    def batches: Seq[(String, Long, Long)] =
      markers.flatMap(m => m.batch.map(id => (m.token, id, m.stampMs)))
  }

  /** One listing of `root/_commits`; opens only the rewrite markers. A
    * rewrite marker that vanishes between listing and open (only a
    * foreign actor deletes markers) fails the read. */
  def read(fs: FileSystem, root: Path): Snapshot =
    readDir(fs, dir(root), _ => true, lenient = false)

  /** [[read]] of a marker dir, opening only the rewrite markers `open`
    * accepts (the others read with no superseded list). `lenient`
    * degrades a rewrite marker that vanished before its open to an empty
    * superseded list with a loud note instead of failing: a long-running
    * stream must not die for a foreign deletion. */
  def readDir(fs: FileSystem, dir: Path, open: String => Boolean,
              lenient: Boolean): Snapshot = {
    val listed =
      try fs.listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    Snapshot(listed
      .filter(st => st.isFile && !Commit.hidden(st.getPath.getName))
      .map { st =>
        val m = Marker(st.getPath.getName, st.getModificationTime, Nil)
        if (m.isRewrite && open(m.token)) m.copy(superseded = contents(fs, st.getPath, lenient))
        else m
      }
      .sortBy(_.token))
  }

  private def contents(fs: FileSystem, marker: Path, lenient: Boolean): Seq[String] =
    try {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    } catch {
      case e: java.io.FileNotFoundException if lenient =>
        System.err.println(s"[commit-log] rewrite marker $marker vanished " +
          s"between listing and open (foreign deletion?) - reading it " +
          s"with an empty superseded list: ${e.getMessage}")
        Nil
    }

  /** Whether `token`'s marker exists (one stat). */
  def committed(fs: FileSystem, root: Path, token: String): Boolean =
    fs.exists(new Path(dir(root), token))

  /** Land a plain commit marker (one exclusive create): the commit point
    * of an ingest batch. */
  def markCommitted(fs: FileSystem, root: Path, token: String): Boolean =
    Commit.createExclusive(fs, new Path(dir(root), token))

  /** Land a rewrite marker whose content is `superseded`, atomically
    * (hidden temp, then a rename onto the name): readers see either the
    * old tokens live or the rewrite live, never both. */
  def markRewrite(fs: FileSystem, root: Path, token: String,
                  superseded: Set[String]): Unit =
    Commit.writeAtomically(fs, new Path(dir(root), token),
      superseded.toSeq.sorted.mkString("\n").getBytes("UTF-8"))

  /** A fresh rewrite token: `c<now>`, bumped past any marker already
    * holding that stamp (single-rewriter assumption: nothing races the
    * marker this token names). */
  def nextRewriteToken(fs: FileSystem, root: Path): String = {
    var stamp = System.currentTimeMillis()
    while (fs.exists(new Path(dir(root), s"c$stamp"))) stamp += 1
    s"c$stamp"
  }
}
