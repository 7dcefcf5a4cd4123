package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.core.{Commit, CommitLog, Tables}

/** Small-file maintenance for the staged-commit ingest layout
  * (reference behavior delegated to Hive ACID compactor,
  * `hive-site`-side in the reference deployment; SURVEY §2.3.1 —
  * re-expressed here on the marker protocol `Ingest.commitBatch`
  * writes and `Tables.committedView` reads).
  *
  * A streaming sink committing every N rows accumulates one file set
  * per micro-batch per partition directory; at scale the file COUNT,
  * not the byte volume, becomes the bottleneck (listing cost, name-node
  * pressure, per-file task overhead on read). `compact` rewrites the
  * currently-committed rows into one file per partition directory and
  * publishes the rewrite as a superseding commit:
  *
  *  1. snapshot the live token set T and its data files (the same
  *     resolution `committedView` uses);
  *  2. scrub unmarked `bc<stamp>-*` leftovers of a previously CRASHED
  *     compaction (no replay ever re-runs a compaction stamp, so
  *     nothing else would — plain unmarked `b<id>-*` files are left to
  *     commitBatch's own replay scrub);
  *  3. rewrite the snapshot through `_staging/c<stamp>` and publish
  *     the files as `bc<stamp>-*` renames ([[graft.core.Commit.publish]])
  *     — invisible so far, no marker exists;
  *  4. write marker `_commits/c<stamp>` whose CONTENT is T with
  *     [[graft.core.CommitLog.markRewrite]]: the hidden temp
  *     `_commits/.c<stamp>.tmp`, then one rename over the marker name.
  *     That rename is the commit point: a reader resolves either
  *     {T live} or {T superseded, c<stamp> live} — never both, never
  *     neither.
  *
  * Crash before step 4's rename leaves only invisible files (step 2 of
  * the next run scrubs the data files; every marker lister skips the
  * hidden temp); crash after is a completed compaction. Batches
  * committed CONCURRENTLY with the rewrite are not in T, so they stay
  * live alongside the compacted token — compaction never loses a
  * commit. Superseded files stay on disk (readers mid-listing may
  * still touch them) until [[vacuum]].
  *
  * Single-compactor assumption: run one `compact` at a time per
  * directory (concurrent compactions would supersede overlapping
  * token sets).
  */
object Compact {

  final case class CompactResult(token: String, rows: Long,
                                 filesBefore: Int, filesAfter: Int)

  /** Rewrite the committed rows into one file per partition directory
    * and publish the rewrite as a superseding commit (see object doc).
    * No-op (None) when nothing is committed. `partitionCols` must be
    * the sink's partition layout (the ingest default `year, month`).
    *
    * With `zorderCols` set, the rewrite RE-CLUSTERS while it compacts
    * (the OPTIMIZE-ZORDER maintenance shape every lakehouse format
    * converges on): rows are range-exchanged on (partitionCols,
    * z-value) into `zorderFiles` contiguous runs (default
    * spark.sql.shuffle.partitions), so a table whose ingest order had
    * no locality gains multi-dimensional file skipping post-hoc —
    * compose with `Stats.refresh` (the compaction token is fresh, so
    * its manifest is rebuilt) and `Stats.prunedCommittedView`. */
  def compact(spark: SparkSession, path: String, format: String = "orc",
              compression: String = "zlib",
              partitionCols: Seq[String] = Seq("year", "month"),
              zorderCols: Seq[String] = Nil, zorderBits: Int = 8,
              zorderFiles: Int = 0): Option[CompactResult] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = CommitLog.read(fs, root).live
    if (live.isEmpty) return None
    val files = Tables.dataFiles(fs, root)
    // step 2: scrub a crashed compaction's unmarked leftovers
    files.filter { case (_, t) => CommitLog.isRewrite(t) && !live.contains(t) }
      .foreach { case (f, _) => fs.delete(f.getPath, false) }
    val liveFiles = files.collect { case (f, t) if live.contains(t) => f }
    if (liveFiles.isEmpty) return None
    val token = CommitLog.nextRewriteToken(fs, root)
    // manifest-backed read: the rewrite's input file set is already
    // resolved — no re-listing job (VERDICT r13 #2)
    val df = Tables.manifestFrame(spark, path, liveFiles, format,
      mergeSchemas = false)
    // one task per partition-column value vector => exactly one file
    // per partition directory out of the partitionBy writer
    val rows = df.count()
    val arranged =
      if (zorderCols.nonEmpty) {
        val n = if (zorderFiles > 0) zorderFiles
          else spark.conf.get("spark.sql.shuffle.partitions").toInt
        val keys = partitionCols.map(col) :+ col("_z")
        graft.core.Layout.withZValue(df, zorderCols, zorderBits)
          .repartitionByRange(n, keys: _*)
          .sortWithinPartitions(keys: _*)
          .drop("_z")
      } else df.repartition(partitionCols.map(col): _*)
    val published = publishRewrite(fs, root, token, arranged,
      partitionCols, format, compression, live)
    Some(CompactResult(token, rows, liveFiles.size, published))
  }

  /** Shared rewrite-commit publisher (steps 3–4 of the object doc):
    * write `df` through `_staging/<token>`, publish the files as
    * `b<token>-*` renames (invisible — no marker yet), then land marker
    * `_commits/<token>` whose CONTENT is `superseded` atomically — the
    * single commit point. Used by [[compact]] and by [[Mutate]]'s
    * row-level rewrites (a mutation is a compaction of the affected
    * tokens that drops/replaces rows on the way through). Returns the
    * published file count. */
  private[ingest] def publishRewrite(fs: org.apache.hadoop.fs.FileSystem,
                                     root: Path, token: String,
                                     df: org.apache.spark.sql.DataFrame,
                                     partitionCols: Seq[String], format: String,
                                     compression: String,
                                     superseded: Set[String]): Int = {
    val staging = new Path(root, s"_staging/$token")
    df.write.mode("overwrite").format(format)
      .option("compression", compression)
      .partitionBy(partitionCols: _*)
      .save(staging.toString)
    val published = Commit.publish(fs, staging, root, token)
    CommitLog.markRewrite(fs, root, token, superseded)
    published
  }

  /** Delete data files whose token is SUPERSEDED (its marker exists but
    * a compaction replaced it) — safe any time after the compaction
    * marker landed, with the usual vacuum caveat that a reader holding
    * a pre-compaction file listing may still want them; run it after
    * in-flight readers drain. Unmarked files are NOT touched: a plain
    * `b<id>-*` orphan belongs to a possibly in-flight or replayable
    * commit (commitBatch scrubs it), and crashed-compaction leftovers
    * are scrubbed by the next compact run. Returns deleted count. */
  def vacuum(spark: SparkSession, path: String): Int = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = CommitLog.read(fs, root)
    val marked = log.tokens
    val superseded = Tables.dataFiles(fs, root).filter { case (_, t) =>
      marked.contains(t) && !log.live.contains(t)
    }
    superseded.foreach { case (f, _) => fs.delete(f.getPath, false) }
    // the commit loop's ingest-owned filters version once PER COMMIT
    // (each fp/id append leaves the superseded Bloom on disk — MBs per
    // commit at production sizing): vacuum them under the same call.
    // Replay safety (ADVICE r16): a `_dedup` ledger whose commit marker
    // is ABSENT belongs to a crashed-mid-commit batch that WILL replay
    // against its pinned filter version — those versions are passed as
    // the keep-set so the vacuum can never wedge the otherwise-
    // automatic replay protocol (data-file vacuum has no such hazard:
    // it only ever touches superseded-and-marked tokens).
    val filterVacuumed = Seq("_neardup_filter").map { n =>
      val p = new Path(root, n)
      if (fs.exists(p) && graft.api.Dedup.seenFilterExists(spark, p.toString)) {
        val pinned = Ingest.readLedgerDir(spark, path, "_dedup", !marked.contains(_))
          .flatMap(_._2.get("basedOnVersion")).filter(_ != "none").toSet
        graft.api.Dedup.vacuumSeenFilter(spark, p.toString, keepVersions = pinned).size
      } else 0
    }.sum
    superseded.size + filterVacuumed
  }

  /** Operational entry point: `runMain graft.ingest.Compact <dir>
    * [--vacuum] [--format orc|parquet]` — compact the directory, then
    * optionally vacuum the superseded files it just replaced. */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: Compact <dir> [--vacuum] [--format orc|parquet]")
    val dir = args(0)
    val doVacuum = args.contains("--vacuum")
    val format = args.sliding(2).collectFirst {
      case Array("--format", f) => f
    }.getOrElse("orc")
    val spark = graft.core.Sessions.local("graft-compact")
    try {
      compact(spark, dir, format) match {
        case Some(r) => println(
          s"compacted ${r.rows} rows: ${r.filesBefore} files -> " +
            s"${r.filesAfter} (token ${r.token})")
        case None => println("nothing committed - no compaction")
      }
      if (doVacuum) println(s"vacuumed ${vacuum(spark, dir)} superseded files")
    } finally spark.stop()
  }
}
