package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CommitLog, Tables}

/** File-level column statistics and reader-side data skipping for the
  * staged-commit table — the manifest half of scan pruning (the
  * reference delegates all scan behavior to Hive/ORC,
  * `README.md:53-65`; this is the Iceberg/Delta-shaped completion of
  * the commit log: the formats' own row-group stats prune only AFTER a
  * file is opened, a manifest prunes the FILE LIST first, which at
  * 100 TB is the difference between touching thousands of files and a
  * handful).
  *
  * Layout: one TSV manifest per commit token at `_stats/<token>.tsv`
  * (hidden from data readers by the `_` prefix, like `_commits`), one
  * line per (file, column): basename, min, max, null count, row count.
  * Min/max are the column's values cast to STRING by Spark — exact for
  * integral, decimal and floating types — and compared as BigDecimal
  * at prune time, so no precision is lost to a double round-trip on
  * 64-bit longs.
  *
  * Safety contract (the invariant every skip-index needs): pruning is
  * ADVISORY and can only ever skip a file it can PROVE irrelevant.
  * A token with no manifest, a file with no entry for the queried
  * column, or a value that does not parse as a number (string columns,
  * NaN sentinels) all KEEP the file; `refresh` is a maintenance pass
  * (like [[Compact.compact]]) so a freshly committed batch is simply
  * unpruned until the next refresh, never wrongly skipped. Compaction
  * and mutation rewrites get fresh tokens, hence fresh (initially
  * absent) manifests — a stale manifest for a superseded token is
  * unreferenced, not wrong.
  *
  * Shape at scale: `refresh` is one scan of the NEW tokens' files
  * grouped by file path — a metadata-sized (files x columns) result —
  * and pruning is a driver-side manifest read of the small `_stats`
  * directory, no data I/O at all.
  */
object Stats {

  private val NullMark = "\\N"

  private def manifest(root: Path, token: String) =
    new Path(root, s"_stats/$token.tsv")

  /** Build manifests for every live token that lacks one, covering
    * `cols` (numeric columns are the useful ones — string stats are
    * recorded but never pruned on). Returns the number of manifests
    * written. Re-running is a no-op until new commits land. */
  def refresh(spark: SparkSession, path: String, cols: Seq[String],
              format: String = "orc"): Int = {
    require(cols.nonEmpty, "need at least one column to profile")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = CommitLog.read(fs, root).live
    val missing = live.filter(t => !fs.exists(manifest(root, t)))
    if (missing.isEmpty) return 0
    val files = Tables.dataFiles(fs, root)
      .collect { case (f, t) if missing.contains(t) => f }
    if (files.isEmpty) return 0
    val aggs = Seq(count(lit(1)).as("__rows")) ++ cols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c"),
      sum(when(col(c).isNull, 1).otherwise(0)).as(s"__nulls_$c")))
    val loaded = graft.core.Tables.manifestFrame(spark, path, files, format,
      mergeSchemas = false)
    // the declared type rides in the manifest: pruning may compare
    // numerically ONLY for numeric columns — a string column's
    // lexicographic min/max can happen to parse as numbers ("10" < "9")
    // and would otherwise prove false disjointness
    val types = cols.map(c => c -> loaded.schema(c).dataType.typeName).toMap
    val perFile = loaded
      .groupBy(col("_metadata.file_path").as("__fp"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // metadata-sized: one row per NEW file
    val byToken = perFile.toSeq.groupBy { r =>
      new Path(r.getString(0)).getName match {
        case CommitLog.DataFile(t) => t
        case _ => "" // unreachable: only b<token>-* files were loaded
      }
    }
    var written = 0
    byToken.foreach { case (token, rows) =>
      if (token.nonEmpty) {
        val lines = rows.flatMap { r =>
          val base = new Path(r.getString(0)).getName
          val n = r.getLong(1)
          cols.zipWithIndex.map { case (c, i) =>
            val mn = Option(r.getString(2 + 3 * i)).getOrElse(NullMark)
            val mx = Option(r.getString(3 + 3 * i)).getOrElse(NullMark)
            val nulls = r.getLong(4 + 3 * i)
            s"$base\t$c\t${types(c)}\t$mn\t$mx\t$nulls\t$n"
          }
        }
        graft.core.Commit.writeAtomically(fs, manifest(root, token),
          (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        written += 1
      }
    }
    written
  }

  private final case class FileStat(tpe: String, min: Option[String],
                                    max: Option[String],
                                    nulls: Long, rows: Long)

  private val NumericTypes =
    Set("byte", "short", "integer", "long", "float", "double")

  private def numericType(tpe: String): Boolean =
    NumericTypes.contains(tpe) || tpe.startsWith("decimal")

  private def parseNum(s: String): Option[BigDecimal] =
    try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }

  /** `committedView(...).filter(col(column).between(lo, hi))`, but with
    * every file the manifests PROVE irrelevant dropped from the scan's
    * file list before it opens: a file is skipped iff its recorded
    * [min, max] lies outside [lo, hi], or the column is entirely null
    * in it (BETWEEN never matches NULL). Files without usable stats
    * are always read — the residual filter keeps the result exactly
    * equal to the unpruned query, which is the operator's contract
    * (gated by q118). */
  def prunedCommittedView(spark: SparkSession, path: String, column: String,
                          lo: Any, hi: Any,
                          format: String = "orc"): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = CommitLog.read(fs, root).live
    val predicate = col(column).between(lit(lo), lit(hi))
    val files = Tables.dataFiles(fs, root)
      .collect { case (f, t) if live.contains(t) => (f, t) }
    if (files.isEmpty)
      return Tables.committedView(spark, path, format).filter(predicate)
    val stats: Map[String, FileStat] = files.map(_._2).distinct.flatMap { t =>
      val m = manifest(root, t)
      if (!fs.exists(m)) Seq.empty
      else {
        val in = fs.open(m)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        lines.flatMap { l =>
          l.split('\t') match {
            case Array(base, c, tpe, mn, mx, nulls, rows) if c == column =>
              Some(base -> FileStat(tpe,
                Some(mn).filter(_ != NullMark), Some(mx).filter(_ != NullMark),
                nulls.toLong, rows.toLong))
            case _ => None
          }
        }
      }
    }.toMap
    val (loN, hiN) = (parseNum(String.valueOf(lo)), parseNum(String.valueOf(hi)))
    val survivors = files.map(_._1).filter { f =>
      stats.get(f.getPath.getName) match {
        case Some(st) if st.rows > 0 && st.nulls == st.rows =>
          false // entirely NULL: BETWEEN cannot match, any type
        case Some(FileStat(tpe, Some(mn), Some(mx), _, _)) if numericType(tpe) =>
          (parseNum(mn), parseNum(mx), loN, hiN) match {
            case (Some(mnN), Some(mxN), Some(l), Some(h)) =>
              !(mxN < l || mnN > h) // provably disjoint -> skip
            case _ => true // NaN/Inf or non-numeric bound: keep
          }
        case _ => true // no usable stats (absent, or non-numeric type): keep
      }
    }
    if (survivors.isEmpty)
      Tables.committedView(spark, path, format).limit(0).filter(predicate)
    else
      graft.core.Tables.manifestFrame(spark, path, survivors, format,
        mergeSchemas = false).filter(predicate)
  }
}
