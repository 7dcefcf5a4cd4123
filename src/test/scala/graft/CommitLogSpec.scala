package graft

import java.nio.file.Files

import graft.core.{CommitLog, Tables}
import graft.ingest.{Compact, Ingest, IngestConfig, Mutate}
import org.apache.hadoop.fs.Path
import org.apache.spark.JobCounter
import org.apache.spark.sql.functions.{col, input_file_name}
import org.scalatest.funsuite.AnyFunSuite

/** The commit log has one reader, `graft.core.CommitLog`: every reader
  * of `<table>/_commits` agrees on the grammar and on each token's
  * liveness, lists the log once per read, and reading it through SQL
  * executes nothing. */
class CommitLogSpec extends AnyFunSuite {
  import TestSpark.spark

  private def cfg(dir: String) =
    IngestConfig(outputPath = Some(dir), parallelism = 2, buckets = 2)

  /** Disjoint value ranges per batch, so rows name their batch. */
  private def rangeBatch(from: Int, until: Int) =
    spark.range(from, until, 1, 2).selectExpr("id as value", "cast(0 as int) as __pid")

  private def commit(dir: String, id: Long, group: Option[String] = None): Unit =
    Ingest.commitBatch(cfg(dir), dir, rangeBatch(id.toInt * 100, id.toInt * 100 + 100),
      id, group)

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def put(path: Path, body: String): Unit = {
    val out = path.getFileSystem(spark.sparkContext.hadoopConfiguration).create(path, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** Each token's liveness as committedView, commitLog, the
    * `graft-commits` source and CommitLog.read see it. */
  private def liveSets(dir: String): Map[String, Set[String]] = {
    val viewTokens = Tables.committedView(spark, dir)
      .select(input_file_name()).distinct().collect()
      .map(r => new Path(r.getString(0)).getName match {
        case CommitLog.DataFile(t) => t
      }).toSet
    val logLive = Tables.commitLog(spark, dir).filter(col("live"))
      .select("token").collect().map(_.getString(0)).toSet
    val source = spark.read.format("graft-commits").load(s"$dir/_commits")
      .collect().map(r => (r.getString(0), r.getSeq[String](2)))
    val dead = source.flatMap(_._2).toSet
    val sourceLive = source.map(_._1).filter(t =>
      t.matches("(?:g\\d+-)?\\d+|c\\d+") && !dead(t)).toSet
    Map("committedView" -> viewTokens, "commitLog" -> logLive,
      "graft-commits" -> sourceLive,
      "CommitLog.read" -> CommitLog.read(fs(dir), new Path(dir)).live)
  }

  private def assertLive(dir: String, expected: Set[String]): Unit =
    liveSets(dir).foreach { case (reader, live) =>
      assert(live == expected, s"$reader live set $live != $expected")
    }

  test("grammar: plain, group and compaction tokens; hidden, foreign files and dirs are not markers") {
    val dir = Files.createTempDirectory("graft-commitlog-grammar").toString
    commit(dir, 0)
    commit(dir, 1)
    commit(dir, 0, Some("g1"))
    val c = Compact.compact(spark, dir).get.token
    commit(dir, 2)
    // an orphan batch whose "marker" is a directory named like a token
    commit(dir, 7)
    val commits = new Path(dir, "_commits")
    fs(dir).delete(new Path(commits, "7"), false)
    fs(dir).mkdirs(new Path(commits, "7"))
    fs(dir).mkdirs(new Path(commits, "c5"))
    // a compaction's temp marker a crash left behind, and a foreign file
    put(new Path(commits, ".c9.tmp"), "2")
    put(new Path(commits, "notes.txt"), "2")
    assertLive(dir, Set(c, "2"))
    val rows = Tables.commitLog(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getString(2), r.getBoolean(3))).toMap
    assert(rows == Map(
      "0" -> ("commit", false), "1" -> ("commit", false),
      "g1-0" -> ("commit", false), c -> ("compaction", true),
      "2" -> ("commit", true), "notes.txt" -> ("unknown", false)))
    val snap = CommitLog.read(fs(dir), new Path(dir))
    assert(snap.tokens == Set("0", "1", "g1-0", c, "2"))
    assert(snap.superseded == Set("0", "1", "g1-0"))
    assert(snap.batches.map(b => (b._1, b._2)).toSet ==
      Set("0" -> 0L, "1" -> 1L, "g1-0" -> 0L, "2" -> 2L))
    assert(Tables.committedView(spark, dir).count() == 400L)
  }

  test("liveness chains through a compaction of a compaction and a row-level delete") {
    val dir = Files.createTempDirectory("graft-commitlog-chain").toString
    commit(dir, 0)
    commit(dir, 1)
    val c1 = Compact.compact(spark, dir).get.token
    commit(dir, 2)
    val c2 = Compact.compact(spark, dir).get.token
    assertLive(dir, Set(c2))
    val snap = CommitLog.read(fs(dir), new Path(dir))
    assert(snap.markers.find(_.token == c2).get.superseded.toSet == Set(c1, "2"))
    assert(Tables.committedView(spark, dir).count() == 300L)
    val del = Mutate.deleteWhere(spark, dir, col("user_id") ===
      Tables.committedView(spark, dir).select("user_id").head.getString(0)).get
    assert(del.tokensRewritten == Seq(c2))
    assertLive(dir, Set(del.token))
    assert(Tables.committedView(spark, dir).count() == 300L - del.matchedRows)
    // history still resolves against the original batch files
    assert(Tables.committedViewAsOf(spark, dir, 1).count() == 200L)
  }

  test("every commit-log read lists <table>/_commits exactly once") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftcount.impl", classOf[CountingFileSystem].getName)
    val local = Files.createTempDirectory("graft-commitlog-lists")
    val dir = s"graftcount://$local"
    try {
      Ingest.runBatchCommitted(spark, cfg(dir), 300, batches = 3)
      Compact.compact(spark, dir)
      val commitsDir = s"$local/_commits"
      val now = System.currentTimeMillis()
      val reads: Seq[(String, () => Any)] = Seq(
        "committedView" -> (() => Tables.committedView(spark, dir)),
        "committedViewAsOf" -> (() => Tables.committedViewAsOf(spark, dir, 1)),
        "committedViewAt" -> (() => Tables.committedViewAt(spark, dir, now)),
        "committedViewDeltaAt" -> (() => Tables.committedViewDeltaAt(spark, dir, 0L, now)),
        "commitLog" -> (() => Tables.commitLog(spark, dir).collect()),
        "vacuum" -> (() => Compact.vacuum(spark, dir)))
      val counts = reads.map { case (name, read) =>
        CountingFileSystem.reset()
        read()
        var n = 0
        CountingFileSystem.listedPaths.forEach(p => if (p == commitsDir) n += 1)
        name -> n
      }
      info(counts.map { case (n, c) => s"$n=$c" }.mkString(" "))
      counts.foreach { case (name, n) =>
        assert(n == 1, s"$name listed $commitsDir $n times")
      }
    } finally IngestProbes.rmrfQuiet(local.toFile)
  }

  test("graft_commit_log executes nothing at resolution and pins nothing") {
    val dir = Files.createTempDirectory("graft-commitlog-sql").toString
    commit(dir, 0)
    commit(dir, 1)
    Compact.compact(spark, dir)
    val sc = spark.sparkContext
    val explain = JobCounter.jobs(sc) {
      spark.sql(s"EXPLAIN SELECT * FROM graft_commit_log('$dir')").collect()
    }
    assert(explain == 0, s"EXPLAIN ran $explain job(s)")
    val view = JobCounter.jobs(sc) {
      spark.sql("CREATE OR REPLACE TEMP VIEW commitlog_view AS " +
        s"SELECT * FROM graft_commit_log('$dir')")
    }
    assert(view == 0, s"CREATE TEMP VIEW ran $view job(s)")
    val pinned = sc.getPersistentRDDs.keySet
    val rows = (1 to 2).map(_ =>
      spark.sql(s"SELECT * FROM graft_commit_log('$dir')").collect().length)
    assert(rows == Seq(3, 3))
    val grown = sc.getPersistentRDDs.keySet -- pinned
    assert(grown.isEmpty, s"two SELECTs left RDDs ${grown.mkString(", ")} pinned")
    assert(spark.table("commitlog_view").count() == 3L)
  }
}
