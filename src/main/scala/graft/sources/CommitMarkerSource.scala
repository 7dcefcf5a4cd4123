package graft.sources

import java.util

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 source over an ingest table's `_commits` marker
  * directory — `format("graft-commits").load("<table>/_commits")`,
  * batch and micro-batch.
  *
  * Why a custom source at all (the brief's last-resort rule): Spark's
  * file sources hard-filter `_`-prefixed path segments as hidden — the
  * very property the commit protocol RELIES on to keep markers
  * invisible to data readers (`Ingest.commitBatch`) makes the marker
  * log unreadable by every built-in source, batch or streaming, even
  * via glob. Watching the commit log therefore needs its own source;
  * everything downstream of it (resolving tokens to data files,
  * reading rows) stays on built-in parquet/ORC scans.
  *
  * Shape: one row per marker file — (token, mtime_ms, superseded),
  * where `superseded` is a compaction marker's content (the tokens its
  * rewrite replaced; empty for plain commits), loaded in the same
  * listing pass so liveness is resolvable from ONE consistent scan.
  * Markers are bytes-sized driver metadata; the listing is one
  * small-directory enumeration per micro-batch, never a data scan. Streaming offsets
  * are the SET of consumed marker names (markers are never renamed or
  * deleted by the protocol — compaction adds `c<stamp>` markers, vacuum
  * deletes only data files — so replay after restart re-resolves the
  * same names deterministically). Offset size grows with commit COUNT,
  * not data size: ~10 bytes per commit in the checkpoint.
  */
class CommitMarkerSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-commits"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CommitMarkerSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new CommitMarkerSource.MarkerTable(properties.get("path"))
}

object CommitMarkerSource {
  val schema: StructType = StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("mtime_ms", LongType, nullable = false),
    StructField("superseded", org.apache.spark.sql.types.ArrayType(
      StringType, containsNull = false), nullable = false)))

  /** (name, mtimeMs) of every marker file in the marker dir — hidden
    * names (a compaction's temp marker a crash left behind) are not
    * markers. */
  private def listMarkers(dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.collect {
      case st if st.isFile && !graft.core.Commit.hidden(st.getPath.getName) =>
        (st.getPath.getName, st.getModificationTime)
    }
  }

  /** Row payload: (token, mtimeMs, superseded tokens). `superseded` is
    * the CONTENT of a compaction marker — the tokens its rewrite
    * replaced (empty for plain commits) — loaded in the SAME listing
    * pass so a consumer can resolve liveness from one consistent scan
    * (ADVICE r14: graft_commit_log previously read liveness in a
    * separate eager pass that could straddle a concurrent compaction).
    * Contents are bytes-per-commit metadata; only `c<stamp>` names are
    * opened. An unreadable compaction marker FAILS the scan loudly —
    * swallowing it would report every token that compaction superseded
    * as live, silently diverging from the strict [[graft.core.Tables
    * .liveTokens]] fold that vacuum decisions run on (a file named
    * `c<stamp>` is protocol-owned by contract; there is no legitimate
    * foreign-but-unreadable case to degrade for). The one benign read
    * failure is a marker deleted between listing and open (only a
    * foreign actor deletes markers). In the BATCH path it surfaces as
    * FileNotFoundException to keep the cause visible; the STREAMING
    * path passes `lenient = true` and degrades the vanished marker to
    * an empty superseded list with a loud stderr note instead — a
    * long-running query must not die for a foreign deletion the same
    * path already tolerates at the re-stat step (mtime 0), and the
    * contract there documents exactly that (ADVICE r15). */
  private def loadRows(dir: String, names: Seq[(String, Long)],
                       lenient: Boolean = false): Array[(String, Long, Array[String])] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    names.map { case (n, m) =>
      val superseded =
        if (!n.matches("c\\d+")) Array.empty[String]
        else try {
          val in = fs.open(new Path(p, n))
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .filter(_.nonEmpty).toArray
          finally in.close()
        } catch {
          case e: java.io.FileNotFoundException if lenient =>
            System.err.println(s"[graft-commits] compaction marker $dir/$n" +
              s" vanished between listing and open (foreign deletion?) —" +
              s" emitting it with an empty superseded list: ${e.getMessage}")
            Array.empty[String]
        }
      (n, m, superseded)
    }.toArray
  }

  private class MarkerTable(path: String) extends Table with SupportsRead {
    require(path != null, "graft-commits needs load(<table>/_commits)")
    override def name(): String = s"graft-commits:$path"
    override def schema(): StructType = CommitMarkerSource.schema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder with Scan {
        override def build(): Scan = this
        override def readSchema(): StructType = CommitMarkerSource.schema
        override def toBatch: Batch = new MarkerBatch(path)
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new MarkerMicroBatchStream(path)
      }
  }

  /** A bundle of marker rows, shipped whole to the single reader task
    * (markers are metadata-sized; there is nothing to split). */
  private case class MarkerPartition(rows: Array[(String, Long, Array[String])])
      extends InputPartition

  private object MarkerReaderFactory extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val rows = partition.asInstanceOf[MarkerPartition].rows
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < rows.length }
        override def get(): InternalRow = new GenericInternalRow(
          Array[Any](UTF8String.fromString(rows(i)._1), rows(i)._2,
            new org.apache.spark.sql.catalyst.util.GenericArrayData(
              rows(i)._3.map(UTF8String.fromString): Array[Any])))
        override def close(): Unit = ()
      }
    }
  }

  private class MarkerBatch(path: String) extends Batch {
    override def planInputPartitions(): Array[InputPartition] =
      Array(MarkerPartition(loadRows(path, listMarkers(path).sortBy(_._1))))
    override def createReaderFactory(): PartitionReaderFactory = MarkerReaderFactory
  }

  /** Offset = the set of marker names already emitted, newline-joined
    * (protocol tokens are `[0-9]`/`g<i>-<id>`/`c<stamp>` — no
    * newlines; foreign files containing one are skipped rather than
    * corrupting the offset). */
  private case class MarkerOffset(seen: Set[String]) extends Offset {
    override def json(): String = seen.toSeq.sorted.mkString("\n")
  }
  private object MarkerOffset {
    def parse(json: String): MarkerOffset =
      MarkerOffset(if (json.isEmpty) Set.empty
        else json.split('\n').toSet)
  }

  private class MarkerMicroBatchStream(path: String) extends MicroBatchStream {
    override def initialOffset(): Offset = MarkerOffset(Set.empty)
    override def latestOffset(): Offset =
      MarkerOffset(listMarkers(path).map(_._1).filterNot(_.contains('\n')).toSet)
    override def deserializeOffset(json: String): Offset = MarkerOffset.parse(json)
    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
      val newNames = end.asInstanceOf[MarkerOffset].seen --
        start.asInstanceOf[MarkerOffset].seen
      if (newNames.isEmpty) Array.empty
      else {
        // re-stat for mtimes: markers are never renamed/deleted, so a
        // replay after restart finds the same files (a foreign deletion
        // surfaces as mtime 0, not a crash — and lenient loadRows keeps
        // the same promise for a marker deleted between list and open)
        val byName = listMarkers(path).toMap
        Array(MarkerPartition(loadRows(path,
          newNames.toSeq.sorted.map(n => (n, byName.getOrElse(n, 0L))),
          lenient = true)))
      }
    }
    override def createReaderFactory(): PartitionReaderFactory = MarkerReaderFactory
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()
  }
}
