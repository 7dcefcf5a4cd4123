package graft.ingest

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import graft.{CountingFileSystem, IngestProbes, TestSpark}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{col, spark_partition_id}
import org.scalatest.funsuite.AnyFunSuite

/** How an ingest commit point becomes visible: listers never read a temp
  * file a crash left behind, and a crash at any rename (or, with a seen
  * filter, any create) of the commit, or of its replay, replays with no
  * manual step to exactly the clean run's table. */
class CommitPointSpec extends AnyFunSuite {
  import TestSpark.spark

  private def put(path: Path, body: String): Unit = {
    val out = path.getFileSystem(spark.sparkContext.hadoopConfiguration).create(path, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  test("a compaction's leftover temp marker is not a commit") {
    val dir = Files.createTempDirectory("graft-commit-hidden").toString
    Ingest.runBatchCommitted(spark,
      IngestConfig(outputPath = Some(dir), parallelism = 2), 200, batches = 2)
    // a crash between the compaction marker's temp write and its rename
    put(new Path(dir, "_commits/.c9.tmp"), "0\n1")
    val log = graft.core.Tables.commitLog(spark, dir)
    val tokens = log.collect().map(r => r.getAs[String]("token") -> r.getAs[Boolean]("live"))
    assert(tokens.toSet == Set("0" -> true, "1" -> true))
    val sql = spark.sql(s"SELECT token FROM graft_commit_log('$dir')")
    assert(sql.collect().map(_.getString(0)).sorted.toSeq == Seq("0", "1"))
  }

  test("a leftover _pii temp file is not a ledger entry") {
    val dir = Files.createTempDirectory("graft-commit-hidden-pii").toString
    Ingest.runBatchCommitted(spark, IngestConfig(outputPath = Some(dir),
      parallelism = 2, redactPiiColumns = Seq("ip_address")), 200, batches = 1)
    put(new Path(dir, "_pii/.1.tmp"), "ipv4=5")
    val tokens = Ingest.piiLedger(spark, dir).select("batch_token").distinct()
      .collect().map(_.getString(0)).toSeq
    assert(tokens == Seq("0"))
  }

  // every row lands in its own (year, month) dir, and each dir costs
  // renames: 10-row batches keep the enumerations to a few dozen commits
  private def crashPoints(body: (() => String) => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftcount.impl", classOf[CountingFileSystem].getName)
    val dirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
    def fresh(): String = {
      val local = Files.createTempDirectory("graft-crash-point")
      dirs += local.toFile
      s"graftcount://$local"
    }
    try body(fresh _)
    finally {
      CountingFileSystem.reset()
      dirs.foreach(IngestProbes.rmrfQuiet)
    }
  }

  private def commit(cfg: IngestConfig, path: String): Unit =
    Ingest.runBatchCommitted(spark, cfg.copy(outputPath = Some(path)), 10, batches = 1)

  /** Runs `body` with the failpoint `fail` at call `n` (0 = none) of the
    * operation `made` counts; the calls made. */
  private def failingAt(n: Long, fail: AtomicLong, made: AtomicLong)(body: => Unit): Long = {
    CountingFileSystem.reset()
    fail.set(n)
    if (n == 0) body
    else {
      val crash = intercept[Exception](body)
      assert(made.get >= n, s"call $n: the commit failed before it: $crash")
    }
    val count = made.get
    CountingFileSystem.reset()
    count
  }

  /** Commits with the failpoint at rename `n` (0 = none); the renames made. */
  private def commitFailingAt(cfg: IngestConfig, path: String, n: Long): Long =
    failingAt(n, CountingFileSystem.failRenameAt, CountingFileSystem.renameCalls)(
      commit(cfg, path))

  private def copyTree(from: String, to: String): Unit = {
    val (src, dst) = (Paths.get(new URI(from).getPath), Paths.get(new URI(to).getPath))
    val all = Files.walk(src)
    try all.forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally all.close()
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a crash at every rename of a PII-redacting commit replays to the clean run") {
    val cfg = IngestConfig(outputPath = None, parallelism = 1,
      redactPiiColumns = Seq("ip_address"))
    def table(path: String) = (
      rows(graft.core.Tables.committedView(spark, path)),
      rows(Ingest.piiLedger(spark, path)))
    crashPoints { fresh =>
      val clean = fresh()
      val renames = commitFailingAt(cfg, clean, 0)
      val expected = table(clean)
      assert(expected._1.size == 10 && expected._2.nonEmpty)
      info(s"clean commit: $renames renames")
      (1L to renames).foreach { n =>
        val path = fresh()
        commitFailingAt(cfg, path, n)
        commit(cfg, path) // the replay: same batch, no manual step
        assert(table(path) == expected, s"replay after a crash at rename $n")
      }
    }
  }

  private def unpinAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  private def assertNothingPinned(after: String): Unit =
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"$after left pinned RDDs: " +
        spark.sparkContext.getPersistentRDDs.keys.mkString(","))

  test("a near-dup-suppressing ingest run leaves nothing pinned") {
    val dir = Files.createTempDirectory("graft-commit-neardup-pins").toString
    unpinAll()
    Ingest.runBatchCommitted(spark, IngestConfig(outputPath = Some(dir),
      parallelism = 2, suppressNearDups = Some("ip_address")), 200, batches = 2)
    assertNothingPinned("runBatchCommitted with suppressNearDups")
  }

  test("a crash at every rename of a near-dup-suppressing replay keeps the pinned filter version") {
    val cfg = IngestConfig(outputPath = None, parallelism = 1,
      suppressNearDups = Some("ip_address"))
    unpinAll()
    def table(path: String) = (
      rows(graft.core.Tables.committedView(spark, path)),
      rows(Ingest.dedupLedger(spark, path)))
    crashPoints { fresh =>
      val clean = fresh()
      val renames = commitFailingAt(cfg, clean, 0)
      val expected = table(clean)
      assert(expected._1.nonEmpty && expected._2.size == 1)
      // the first attempt dies at its last rename: its `_dedup` ledger
      // and its fingerprint append have landed, the marker has not;
      // every replay below starts from a copy of that state
      val crashed = fresh()
      commitFailingAt(cfg, crashed, renames)
      def replayFromCrash(): String = {
        val path = fresh()
        copyTree(crashed, path)
        path
      }
      val replayed = replayFromCrash()
      val replayRenames = commitFailingAt(cfg, replayed, 0)
      assert(table(replayed) == expected, "replay after the first attempt's last rename")
      info(s"clean commit: $renames renames, replay: $replayRenames")
      (1L to replayRenames).foreach { n =>
        val path = replayFromCrash()
        commitFailingAt(cfg, path, n) // the replay crashes too
        assertNothingPinned(s"a replay crashed at rename $n")
        commit(cfg, path)
        assert(table(path) == expected, s"second replay after a replay crash at rename $n")
      }
    }
  }

  test("a crash at every rename and create of a seen-filter batch replays to the clean run") {
    val cfg = IngestConfig(outputPath = None, parallelism = 1, seenFilterExpectedItems = 1000L)
    // batch b commits rows [10b, 10b + 10) and appends their ids to `path/_seen`
    def batch(path: String, b: Int): Unit =
      Ingest.commitBatch(cfg.copy(outputPath = Some(path), seenFilterPath = Some(s"$path/_seen")),
        path, spark.range(10L * b, 10L * b + 10, 1, 1)
          .select(col("id").as("value"), spark_partition_id().as("__pid")), b)
    // the committed rows, and whether the filter flags every committed id
    def state(path: String): (Seq[String], Boolean) = {
      val view = graft.core.Tables.committedView(spark, path)
      (rows(view), graft.api.Dedup.markSeen(spark, view.select("user_id"), "user_id",
        s"$path/_seen").filter(!col("probably_seen")).isEmpty)
    }
    crashPoints { fresh =>
      val first = fresh()
      batch(first, 0)
      def fromFirst(): String = {
        val path = fresh()
        copyTree(first, path)
        path
      }
      val clean = fromFirst()
      CountingFileSystem.reset()
      batch(clean, 1)
      val (renames, creates) =
        (CountingFileSystem.renameCalls.get, CountingFileSystem.createCalls.get)
      CountingFileSystem.reset()
      val (expected, cleanFlagged) = state(clean)
      assert(expected.size == 20 && cleanFlagged)
      info(s"batch 2: $renames renames, $creates creates")
      val points = Seq(
        ("rename", CountingFileSystem.failRenameAt, CountingFileSystem.renameCalls, renames),
        ("create", CountingFileSystem.failCreateAt, CountingFileSystem.createCalls, creates))
      for ((op, fail, made, total) <- points; n <- 1L to total) {
        val path = fromFirst()
        failingAt(n, fail, made)(batch(path, 1))
        batch(path, 1) // the replay: same batch, no manual step
        val (committed, flagged) = state(path)
        assert(committed == expected, s"committed rows after a crash at $op $n")
        assert(flagged, s"a committed id does not flag after a crash at $op $n")
      }
    }
  }
}
