package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural pin of committedView's no-listing property (VERDICT r14
  * #6): the manifest-backed GraftCommitFileIndex hands the planner the
  * FileStatus set the commit-log walk already holds, so constructing
  * AND executing a committed read must perform
  *  - ZERO listing calls on executor task threads (a distributed
  *    listing job — the exact r14 regression: above 32 per-file roots
  *    DataFrameReader.load launched one per view, ~13 s at 2.5k files,
  *    a listing storm per reader on object storage at 100 TB), and
  *  - driver-side listing bounded by the commit-log walk itself (one
  *    listStatus per directory + the marker-dir listings), NEVER
  *    scaling with the data-file count.
  * The table is built with MORE files than the 32-root
  * parallel-discovery threshold so the old code path would trip both
  * assertions. Runs on an instrumented local FS (scheme `graftcount`)
  * because the property is about METADATA CALLS, not results — results
  * are pinned by the 206-query oracle gate. */
class CommitNoListingSpec extends AnyFunSuite {
  import TestSpark._

  test("committedView construction + execution lists nothing beyond the commit-log walk") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftcount.impl", classOf[CountingFileSystem].getName)
    val local = java.nio.file.Files.createTempDirectory("graft-nolist")
    val path = s"graftcount://$local"
    try {
      // 48 data files (3 commits × p4 × b4) — well past the 32-root
      // threshold that triggered the pre-r14 parallel listing job
      graft.ingest.Ingest.runBatchCommitted(spark,
        graft.ingest.IngestConfig(outputPath = Some(path), parallelism = 4,
          buckets = 4), 3000, batches = 3)
      val dataFiles = {
        var n = 0
        java.nio.file.Files.walk(local).forEach { p =>
          if (java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.startsWith("b")) n += 1
        }
        n
      }
      assert(dataFiles > 32,
        s"fixture must cross the 32-root discovery threshold, got $dataFiles files")
      val dirs = {
        var n = 0
        java.nio.file.Files.walk(local).forEach { p =>
          if (java.nio.file.Files.isDirectory(p)) n += 1
        }
        n
      }

      CountingFileSystem.reset()
      val view = graft.core.Tables.committedView(spark, path)
      val listAfterConstruct = CountingFileSystem.listCalls.get
      val statAfterConstruct = CountingFileSystem.statCalls.get
      val rows = view.count()
      assert(rows == 3000L, s"committedView read $rows rows, expected 3000")

      val listTotal = CountingFileSystem.listCalls.get
      val statTotal = CountingFileSystem.statCalls.get
      val execList = CountingFileSystem.executorListCalls.get
      info(s"dirs=$dirs files=$dataFiles listConstruct=$listAfterConstruct " +
        s"listTotal=$listTotal statConstruct=$statAfterConstruct " +
        s"statTotal=$statTotal executorList=$execList")

      // the regression signature: any listing on an executor thread
      // means a listing JOB was planned — the storm the FileIndex
      // removed
      assert(execList == 0L,
        s"$execList listing call(s) ran on executor threads — a " +
          "distributed listing job is back in the committedView path")
      // driver listing = the commit-log walk (one listStatus per
      // directory, + the one _commits listing of CommitLog.read, + FS-internal
      // globbing slack) — structurally independent of the file count
      assert(listTotal <= dirs * 2 + 8,
        s"committedView listed $listTotal times for $dirs directories — " +
          "listing is scaling beyond the commit-log walk")
      assert(listAfterConstruct <= dirs * 2 + 8,
        s"frame CONSTRUCTION alone listed $listAfterConstruct times")
      // CONSTRUCTION must not pay per-file stat round trips either:
      // schema inference reads ONE footer, everything else rides the
      // manifest's statuses. (EXECUTION stats are excluded — the ORC
      // reader stats each file it actually reads for its tail parse, a
      // constant per file read, the same before and after the FileIndex
      // fix; measured ~4/file here.)
      assert(statAfterConstruct < dataFiles,
        s"$statAfterConstruct getFileStatus calls during construction " +
          s"for $dataFiles files — per-file stat round trips are back " +
          "in the committedView path")
      // and read-path stats stay a small CONSTANT per file, never
      // super-linear (a re-listing or re-discovery would blow this)
      assert(statTotal - statAfterConstruct <= dataFiles * 6L + 16L,
        s"execution performed ${statTotal - statAfterConstruct} stat " +
          s"calls for $dataFiles files read")
    } finally {
      IngestProbes.rmrfQuiet(local.toFile)
    }
  }

  test("foreachCommit delivers batch rows without a per-micro-batch listing job") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftcount.impl", classOf[CountingFileSystem].getName)
    val local = java.nio.file.Files.createTempDirectory("graft-nolist-str")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-nolist-ck")
    val path = s"graftcount://$local"
    try {
      // one 48-file commit — past the 32-root threshold where the old
      // per-file load() path planned a listing job PER MICRO-BATCH
      graft.ingest.Ingest.runBatchCommitted(spark,
        graft.ingest.IngestConfig(outputPath = Some(path), parallelism = 4,
          buckets = 4), 1000, batches = 1)
      CountingFileSystem.reset()
      val seen = new java.util.concurrent.atomic.AtomicLong(0L)
      val q = graft.streaming.CommitLogStream.foreachCommit(
        spark, path, ckpt.toString) { (rows, _, _) =>
        seen.addAndGet(rows.count())
        ()
      }
      try {
        val deadline = System.currentTimeMillis() + 60000
        while (seen.get() < 1000L && System.currentTimeMillis() < deadline)
          Thread.sleep(200)
      } finally q.stop()
      assert(seen.get() == 1000L, s"stream delivered ${seen.get()} rows")
      val execList = CountingFileSystem.executorListCalls.get
      assert(execList == 0L,
        s"$execList listing call(s) on executor threads — the commit " +
          "stream's per-micro-batch listing job is back")
    } finally {
      IngestProbes.rmrfQuiet(local.toFile)
      IngestProbes.rmrfQuiet(ckpt.toFile)
    }
  }
}
