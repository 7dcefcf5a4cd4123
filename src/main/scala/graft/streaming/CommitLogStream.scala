package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{CommitLog, Tables}

/** Incremental consumption of an ingest table's commit log — the
  * change-data-feed half of the staged-commit protocol (the write half
  * lives in `Ingest.commitBatch` / `Compact.compact`; the reference
  * delegates the whole contract to hive-streaming transactions,
  * `Culvert.java:213-231`).
  *
  * The stream is `readStream` over the `_commits` marker directory via
  * the custom `graft-commits` DSv2 source (CommitMarkerSource — the
  * built-in file sources hard-filter `_`-prefixed paths as hidden, so
  * the marker log is unreadable by them BY DESIGN): its offsets track
  * which marker FILES have been seen, so each commit is discovered
  * exactly once per checkpoint (delivery to the callback is
  * at-least-once under foreachBatch retries — the standard contract;
  * idempotent consumers key on the batch's `tokens`). A marker is
  * written only AFTER its batch's files are fully published, so by the
  * time the stream sees a token, resolving it to data files is safe.
  *
  * Scale shape: only marker METADATA crosses the driver (token names —
  * bytes per commit); the data rows of each newly committed batch are
  * handed to the callback as a lazy DataFrame over exactly that batch's
  * files, so row reading stays a distributed parquet/ORC scan. This is
  * the same consume-the-log shape Delta/Iceberg streaming sources use.
  *
  * Compaction markers (`c<stamp>`) are filtered out of delivery: a
  * compaction REWRITES rows that earlier commits already delivered, so
  * forwarding it would double-count. Consequently — like every
  * log-structured format — history replay survives compaction but not
  * `vacuum`: a consumer that first attaches to a table whose superseded
  * originals were already vacuumed cannot re-read them, and
  * `foreachCommit` FAILS LOUDLY on that case instead of silently
  * skipping rows (start such a consumer from `Tables.committedView` +
  * a fresh checkpoint instead).
  */
object CommitLogStream {

  /** Streaming frame of newly landed commit markers, one row per
    * marker file: (token, kind ∈ commit|compaction|unknown by
    * [[CommitLog.kind]], committed_at). Read through the
    * `graft-commits` source, which emits every marker file, the EMPTY
    * plain-commit markers included (a file-content source would emit
    * no row for them). */
  def markers(spark: SparkSession, table: String): DataFrame =
    spark.readStream.format("graft-commits").load(s"$table/_commits")
      .select(
        col("token"),
        udf(CommitLog.kind _).apply(col("token")).as("kind"),
        timestamp_millis(col("mtime_ms")).as("committed_at"))

  /** Run `f(batchRows, tokens, epochId)` for every micro-batch of
    * newly committed ingest batches: `batchRows` is a DataFrame over
    * exactly the files those commits published (empty-but-typed for
    * empty commits), `tokens` the commit tokens in the micro-batch.
    * Returns the started query; callers own `awaitTermination`/`stop`
    * and the checkpoint dir (offset = which markers were consumed). */
  def foreachCommit(spark: SparkSession, table: String, checkpoint: String,
                    format: String = "orc")(
      f: (DataFrame, Seq[String], Long) => Unit): StreamingQuery =
    markers(spark, table).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // marker names only — bytes per commit, never data-sized
        val toks = batch.filter(col("kind") === "commit")
          .select("token").collect().map(_.getString(0)).sorted.toSeq
        if (toks.nonEmpty) {
          import org.apache.hadoop.fs.Path
          val root = new Path(table)
          val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val wanted = toks.toSet
          val files = Tables.dataFiles(fs, root).filter { case (_, t) => wanted(t) }
          val found = files.map(_._2).toSet
          // a token with no files is either a legitimately empty commit
          // or a batch whose originals were compacted away and vacuumed
          // before this consumer saw them — only the latter loses rows,
          // and it must not pass silently
          val missing = toks.filterNot(found)
          if (missing.nonEmpty) {
            val live = CommitLog.read(fs, root).live
            val destroyed = missing.filterNot(live.contains)
            if (destroyed.nonEmpty)
              throw new IllegalStateException(
                s"commit(s) ${destroyed.mkString(", ")} were compacted and " +
                  "vacuumed before this consumer read them - vacuumed history " +
                  "cannot be replayed; restart from Tables.committedView with " +
                  "a fresh checkpoint")
          }
          // manifest-backed frame (r15, same fix as committedView's):
          // the walk above already holds every status — per-file
          // load() roots would re-discover them with a distributed
          // listing job once past 32 files, ONCE PER MICRO-BATCH
          val rows =
            if (files.nonEmpty)
              Tables.manifestFrame(spark, table, files.map(_._1), format,
                mergeSchemas = false)
            else Tables.committedView(spark, table, format).limit(0)
          f(rows, toks, epochId)
        }
      }
      .start()
}
