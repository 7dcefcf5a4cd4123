package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Row-level DELETE and MERGE (upsert) on the staged-commit table —
  * the copy-on-write half of the lakehouse contract (the reference
  * delegates row-level ACID to Hive's delete deltas inside
  * `hive-streaming:3.1.1`, `Culvert.java:213-231` / `README.md:65`;
  * re-expressed here on the marker protocol, not reproduced on-disk,
  * per SURVEY §7.3).
  *
  * Both operations publish through [[Compact.publishRewrite]] as a
  * `c<stamp>` rewrite-class commit whose marker CONTENT lists the
  * tokens it supersedes — so every existing reader already resolves
  * them: `Tables.liveTokens` chains the marker, `committedView` sees
  * post-mutation rows atomically at the marker rename, `Compact.vacuum`
  * reclaims the replaced files, a crashed mutation's unmarked
  * `bc<stamp>-*` leftovers are scrubbed by the next compaction, and the
  * commit-log stream — an append-only feed of INGEST batches — skips
  * mutation commits exactly as it skips compactions.
  *
  * Copy-on-write granularity is the COMMIT TOKEN (the protocol's unit
  * of supersession): only tokens whose files contain a matching row are
  * rewritten; every other token's files are untouched bytes. Ingest
  * tokens are micro-batch-sized, so at 100 TB the rewrite cost tracks
  * the data that actually changed — but a post-compaction table is ONE
  * token, so mutations run cheapest before compaction (or accept the
  * full rewrite, which is then itself a compaction).
  *
  * Semantics shared with compaction (documented, tested):
  *  - batch snapshots (`committedViewAsOf`/`committedViewDelta`)
  *    reconstruct INGEST history from original batch files — they show
  *    the pre-mutation rows, and survive the mutation until `vacuum`
  *    destroys a needed original (then they fail loudly);
  *  - single-writer assumption per directory, like `compact`: run one
  *    rewrite at a time (concurrent rewrites could supersede
  *    overlapping token sets). Ingest commits landing CONCURRENTLY are
  *    safe — they are not in the superseded set and stay live, though
  *    their rows are by construction not visited by this mutation.
  */
object Mutate {

  final case class MutateResult(token: String, tokensRewritten: Seq[String],
                                matchedRows: Long, insertedRows: Long,
                                rewrittenRows: Long)

  /** Delete every committed row for which `predicate` is TRUE (rows
    * where it is false or NULL survive — SQL DELETE semantics). Returns
    * None (no commit written) when the table is empty or nothing
    * matches. One full-scan to find the affected tokens (predicate
    * pushdown applies), then a rewrite of ONLY those tokens' surviving
    * rows. */
  def deleteWhere(spark: SparkSession, path: String, predicate: Column,
                  format: String = "orc", compression: String = "zlib",
                  partitionCols: Seq[String] = Seq("year", "month")): Option[MutateResult] = {
    val st = affectedState(spark, path, format) { df =>
      df.filter(predicate)
    }
    st.map { case (fs, root, affectedTokens, affectedDf) =>
      // accounting rides the rewrite write as observed metrics (r17,
      // guide §5 — don't recompute the expensive subtree): one job
      // scans the affected tokens, counting rows below and above the
      // delete filter, instead of two standalone count jobs plus the
      // write re-reading the same files a third time
      val obsAff = org.apache.spark.sql.Observation()
      val obsSurv = org.apache.spark.sql.Observation()
      val survivors = affectedDf.observe(obsAff, count(lit(1)).as("n"))
        .filter(!(predicate <=> lit(true)))
        .observe(obsSurv, count(lit(1)).as("n"))
      publish(spark, fs, root, survivors, partitionCols, format, compression,
        affectedTokens) { () =>
        val affectedRows = obsAff.get("n").asInstanceOf[Long]
        val rewrittenRows = obsSurv.get("n").asInstanceOf[Long]
        (affectedRows - rewrittenRows, 0L, rewrittenRows)
      }
    }
  }

  /** Upsert `source` into the table by `keyCols`: committed rows whose
    * key appears in `source` are REPLACED by the source row, source
    * rows with unmatched keys are INSERTED — one atomic commit.
    * `source` must be key-unique (checked, fails loudly: two source
    * rows for one key have no deterministic winner) and must carry the
    * table's columns, including the partition columns. A source with
    * no matched keys publishes a pure-insert rewrite commit (empty
    * supersede set). */
  def merge(spark: SparkSession, path: String, source: DataFrame,
            keyCols: Seq[String],
            format: String = "orc", compression: String = "zlib",
            partitionCols: Seq[String] = Seq("year", "month")): MutateResult =
    applyChanges(spark, path, source, None, keyCols, format, compression,
      partitionCols)

  /** Apply a change set — upserts AND key deletions — as ONE atomic
    * commit (the CDC-apply generalization of [[merge]]): affected
    * tokens are those holding any changed key, their surviving rows
    * are the ones matching NO change key, and the rewrite is
    * survivors + upsert rows — deleted keys simply don't reappear.
    * `deletes` carries just the key columns. A key in both frames is
    * rejected with the key-uniqueness error (no deterministic order
    * between its delete and its upsert).
    *
    * Result accounting: `matchedRows` = old rows removed (updated or
    * deleted), `insertedRows` = upsert rows minus matched upserts
    * (net new keys; negative never). */
  def applyChanges(spark: SparkSession, path: String, upserts: DataFrame,
                   deletes: Option[DataFrame], keyCols: Seq[String],
                   format: String = "orc", compression: String = "zlib",
                   partitionCols: Seq[String] = Seq("year", "month")): MutateResult = {
    require(keyCols.nonEmpty, "applyChanges requires at least one key column")
    val delKeys = deletes.map(_.select(keyCols.map(col): _*).distinct())
    val changeKeys = delKeys match {
      case Some(dk) => upserts.select(keyCols.map(col): _*).union(dk)
      case None => upserts.select(keyCols.map(col): _*)
    }
    val dupKeys = changeKeys.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
    if (dupKeys.limit(1).count() > 0)
      throw new IllegalArgumentException(
        "change set is not key-unique on (" + keyCols.mkString(", ") +
          ") - duplicate upsert keys, or a key both upserted and deleted, " +
          "have no deterministic outcome")
    // cache per the api package contract: the key set drives the
    // affected-file probe, the anti-join, and the accounting counts
    val src = upserts.cache()
    val keys = changeKeys.distinct().cache()
    val st = affectedState(spark, path, format) { df =>
      df.join(keys, keyCols, "left_semi")
    }
    st match {
      case Some((fs, root, affectedTokens, affectedDf)) =>
        // accounting rides the rewrite write as observed metrics (r17,
        // guide §5): affected-row, survivor and source counts are all
        // collected inside the ONE job that writes the rewrite,
        // replacing three standalone count jobs that re-scanned the
        // affected tokens and the source
        val obsAff = org.apache.spark.sql.Observation()
        val obsSurv = org.apache.spark.sql.Observation()
        val obsSrc = org.apache.spark.sql.Observation()
        val survivors = affectedDf.observe(obsAff, count(lit(1)).as("n"))
          .join(keys, keyCols, "left_anti")
          .observe(obsSurv, count(lit(1)).as("n"))
        val rewrite = survivors.unionByName(
          src.select(affectedDf.columns.map(col): _*)
            .observe(obsSrc, count(lit(1)).as("n")))
        publish(spark, fs, root, rewrite, partitionCols, format, compression,
          affectedTokens) { () =>
          val survCount = obsSurv.get("n").asInstanceOf[Long]
          val srcCount = obsSrc.get("n").asInstanceOf[Long]
          val matched = obsAff.get("n").asInstanceOf[Long] - survCount
          // net-new keys = upsert rows whose key matched nothing old.
          // `matched` counts DELETED rows too, so with a delete set the
          // upsert keys must be matched specifically (cheap: the probe
          // already narrowed affectedDf to the changed tokens); without
          // one every matched row IS a matched upsert
          val matchedUpserts = if (deletes.isEmpty) matched
            else affectedDf.join(src.select(keyCols.map(col): _*),
              keyCols, "left_semi").count()
          (matched, math.max(0L, srcCount - matchedUpserts),
            survCount + srcCount)
        }
      case None =>
        // empty table or no matches anywhere: deletes are no-ops and
        // the upserts are a pure insert (still a rewrite-class commit -
        // empty supersede set chains trivially). Nothing to insert ->
        // nothing to commit (a delete of absent keys must not litter
        // the log with empty markers).
        if (src.limit(1).count() == 0)
          MutateResult("", Seq.empty, 0L, 0L, 0L)
        else append(spark, path, src, partitionCols, format, compression)
    }
  }

  /** Continuously apply a change stream to the committed table: each
    * micro-batch lands as ONE atomic [[merge]] commit — the CDC-apply
    * shape (`foreachBatch` + merge, the documented Structured
    * Streaming idiom for upsert sinks). With `versionCol` set, a batch
    * carrying several changes for one key keeps the highest version
    * (last-wins over a per-key window — CDC feeds are rarely
    * key-unique per batch); the version column is dropped before the
    * merge, so the stream carries table columns + version. Versions
    * must be strictly monotone per key — equal versions have no
    * deterministic winner. At-least-once composes safely: merge is
    * convergent (re-applying a batch matches the same keys to the same
    * values), so a checkpoint replay rewrites but never duplicates.
    * With `opCol` set the feed is full CDC (the Debezium-sink shape):
    * after version dedup, a key whose last state is `deleteOp` is
    * REMOVED and every other row upserts — applied together as one
    * atomic [[applyChanges]] commit per batch. Single-writer rule of
    * the object doc applies: this query must be the only rewriter of
    * `path` while it runs. */
  def mergeStream(stream: DataFrame, path: String, keyCols: Seq[String],
                  checkpoint: String, versionCol: Option[String] = None,
                  opCol: Option[String] = None, deleteOp: String = "delete",
                  trigger: org.apache.spark.sql.streaming.Trigger =
                    org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                  partitionCols: Seq[String] = Seq("year", "month"),
                  format: String = "orc", compression: String = "zlib")
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (batch.head(1).nonEmpty) {
          val deduped = versionCol match {
            case Some(v) =>
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(keyCols.map(col): _*).orderBy(col(v).desc)
              batch.withColumn("__rn", row_number().over(w))
                .filter(col("__rn") === 1).drop("__rn", v)
            case None => batch
          }
          // with an op column the feed is full CDC: the key's LAST
          // state (post version-dedup) decides — a delete row removes
          // the key, anything else upserts; both land in ONE commit
          val (ups, dels) = opCol match {
            case Some(oc) =>
              (deduped.filter(!(col(oc) <=> lit(deleteOp))).drop(oc),
                Some(deduped.filter(col(oc) === deleteOp)
                  .select(keyCols.map(col): _*)))
            case None => (deduped, None)
          }
          applyChanges(batch.sparkSession, path, ups, dels, keyCols,
            format, compression, partitionCols)
          ()
        }
      }
      .start()

  /** Append `df` to the table as ONE atomic commit — the arbitrary-frame
    * counterpart of `Ingest.runBatchCommitted` (which generates the
    * synthetic event schema): publishes a rewrite-class commit with an
    * EMPTY supersede set, so nothing existing is touched and readers see
    * all of `df` or none of it. With empty `partitionCols` the source's
    * partitioning (and any value locality it arranged) lands in the
    * files as-is. */
  def append(spark: SparkSession, path: String, df: DataFrame,
             partitionCols: Seq[String] = Seq("year", "month"),
             format: String = "orc",
             compression: String = "zlib"): MutateResult = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // row accounting observed during the ONE write job (r17, guide §5)
    // — the standalone count() evaluated the whole source frame twice
    // (for appendZOrdered that included the range exchange + sort)
    val obs = org.apache.spark.sql.Observation()
    publish(spark, fs, root, df.observe(obs, count(lit(1)).as("n")),
      partitionCols, format, compression, Set.empty) { () =>
      val n = obs.get("n").asInstanceOf[Long]
      (0L, n, n)
    }
  }

  /** Append `df` as one commit whose files are Z-ORDERED on `zCols`
    * (Layout.withZValue: Morton-interleaved equi-width buckets, a
    * codegen'd projection + one range exchange): each output file
    * covers a small hyper-rectangle of the value space, so a
    * subsequent `Stats.refresh` + `prunedCommittedView` skips files
    * for range predicates on ANY z column — the write-side half of
    * data skipping, composed with the commit protocol (gated end-to-
    * end by q119). `numFiles` <= 0 uses spark.sql.shuffle.partitions. */
  def appendZOrdered(spark: SparkSession, path: String, df: DataFrame,
                     zCols: Seq[String], bits: Int = 8, numFiles: Int = 0,
                     format: String = "orc",
                     compression: String = "zlib"): MutateResult = {
    val n = if (numFiles > 0) numFiles
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val arranged = graft.core.Layout.withZValue(df, zCols, bits)
      .repartitionByRange(n, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
    append(spark, path, arranged, partitionCols = Seq.empty, format,
      compression)
  }

  /** Resolve the live state and the AFFECTED token subset: tokens with
    * at least one row selected by `probe` (evaluated over a scan that
    * projects the file path — metadata-sized result, bounded by the
    * file count). Returns None when the table is empty or no token is
    * affected. */
  private def affectedState(spark: SparkSession, path: String, format: String)(
      probe: DataFrame => DataFrame)
      : Option[(org.apache.hadoop.fs.FileSystem, Path, Set[String], DataFrame)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = Tables.liveTokens(fs, root)
    if (live.isEmpty) return None
    val files = Compact.listDataFiles(fs, root)
      .collect { case (f, t) if live.contains(t) => (f, t) }
    if (files.isEmpty) return None
    // bind the file-path pseudo-column BEFORE the probe runs: _metadata
    // exists only on the scan relation, and a probe that joins (merge)
    // would drop it from its output otherwise
    val full = Tables.manifestFrame(spark, path, files.map(_._1), format,
        mergeSchemas = false)
      .withColumn("__fp", col("_metadata.file_path"))
    val affectedFiles = probe(full)
      .select(col("__fp")).distinct()
      .collect().map(_.getString(0))
    // qualification of _metadata.file_path varies by filesystem; the
    // BASENAME carries the token (the b<token>-* naming contract), so
    // resolve through it instead of comparing full URIs
    val affectedTokens = affectedFiles.flatMap { fp =>
      new Path(fp).getName match {
        case Tables.batchFileRe(t) => Some(t)
        case _ => None
      }
    }.toSet
    if (affectedTokens.isEmpty) None
    else {
      val affectedPaths = files.collect {
        case (f, t) if affectedTokens.contains(t) => f
      }
      val affectedDf = Tables.manifestFrame(spark, path, affectedPaths,
        format, mergeSchemas = false)
      Some((fs, root, affectedTokens, affectedDf))
    }
  }

  /** Write + publish `df` as one commit, then build the result from
    * `counts` — a thunk so callers can read `Observation` metrics the
    * write job just collected (matched, inserted, rewrittenRows). */
  private def publish(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                      root: Path, df: DataFrame, partitionCols: Seq[String],
                      format: String, compression: String,
                      superseded: Set[String])
                     (counts: () => (Long, Long, Long)): MutateResult = {
    var stamp = System.currentTimeMillis()
    while (fs.exists(new Path(root, s"_commits/c$stamp"))) stamp += 1
    val token = s"c$stamp"
    // partitioned layout: one task per partition-value vector, like
    // compact; unpartitioned: keep the source's partitioning (and with
    // it any value locality the caller arranged for file skipping)
    val arranged = if (partitionCols.nonEmpty)
      df.repartition(partitionCols.map(col): _*) else df
    Compact.publishRewrite(fs, root, token, arranged,
      partitionCols, format, compression, superseded)
    val (matched, inserted, rewrittenRows) = counts()
    MutateResult(token, superseded.toSeq.sorted, matched, inserted,
      rewrittenRows)
  }

  /** Operational entry point:
    * `runMain graft.ingest.Mutate <dir> delete "<sql predicate>"
    *  [--format orc|parquet]` */
  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args(1) == "delete",
      "usage: Mutate <dir> delete \"<sql predicate>\" [--format orc|parquet]")
    val format = args.sliding(2).collectFirst {
      case Array("--format", f) => f
    }.getOrElse("orc")
    val spark = graft.core.Sessions.local("graft-mutate")
    try deleteWhere(spark, args(0), expr(args(2)), format) match {
      case Some(r) => println(
        s"deleted ${r.matchedRows} rows (rewrote ${r.tokensRewritten.size} " +
          s"commit(s) as ${r.token}, ${r.rewrittenRows} surviving rows)")
      case None => println("no rows matched - nothing rewritten")
    } finally spark.stop()
  }
}
