package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ingest.{Gen, Ingest, IngestConfig}

/** Ingest pieces: the raw index frame a batch commit consumes, the
  * correctness checks on a committed table, the per-layer probes on a
  * fixed batch, and the table-layout walk. */
object IngestParts {
  /** Rows of the fixed batch the layer probes time. */
  val ProbeRows = 200000L

  /** The (value, __pid) frame `Ingest.commitBatch` takes, over one
    * range of row values. */
  def raw(run: Run, from: Long, until: Long, parallelism: Int): DataFrame =
    run.spark.range(from, until, 1, parallelism)
      .select(col("id").as("value"), spark_partition_id().as("__pid"))

  /** The committed view holds exactly the committed rows, and a seeded
    * sample of row values regenerates (Gen.expr) to rows present in it.
    * Columns in `redacted` are rewritten on the commit path and are left
    * out of the comparison. */
  def checkCommitted(run: Run, cfg: IngestConfig, table: String,
                     ranges: Seq[(Long, Long)], redacted: Set[String]): Unit = {
    val spark = run.spark
    val expected = ranges.map { case (a, b) => b - a }.sum
    run.check("committed_count") {
      val n = Tables.committedView(spark, table).count()
      (n == expected, s"committed view has $n rows, commits report $expected")
    }
    run.check("regenerated_sample") {
      val rnd = new scala.util.Random(run.seed)
      val live = ranges.filter { case (a, b) => b > a }
      val sample = Seq.fill(200) {
        val (a, b) = live(rnd.nextInt(live.size))
        a + (rnd.nextDouble() * (b - a)).toLong
      }
      val cols = Gen.defaultColumns.filterNot(c => redacted(c.name))
      import spark.implicits._
      val regen = sample.toDF("value")
        .select(cols.map(c => Gen.expr(c, cfg.seed, col("value")).as(c.name)): _*)
      val committed = Tables.committedView(spark, table).select(cols.map(c => col(c.name)): _*)
      val matched = regen.join(committed, cols.map(_.name), "left_semi").count()
      (matched == sample.size, s"$matched of ${sample.size} regenerated rows found")
    }
  }

  /** Data files, bytes and commit markers of a committed table. */
  def layout(table: String): Map[String, Double] = {
    var files = 0L; var bytes = 0L
    def walk(f: java.io.File): Unit = Option(f.listFiles).getOrElse(Array.empty).foreach { k =>
      if (k.isDirectory) { if (!k.getName.startsWith("_")) walk(k) }
      else if (!k.getName.startsWith(".") && !k.getName.startsWith("_")) {
        files += 1; bytes += k.length
      }
    }
    walk(new java.io.File(table))
    val markers = Option(new java.io.File(table, "_commits").list).fold(0)(_.length)
    Map("data_files" -> files.toDouble, "data_bytes" -> bytes.toDouble,
      "markers" -> markers.toDouble)
  }

  /** Per-layer probes on a fixed batch, outside the timed window: the
    * generator and the bucket route materialized without writing, the
    * PII redaction, one seen-filter append, and one plain bulk commit at
    * full parallelism and at parallelism 1. */
  def probes(run: Run, cfg: IngestConfig): Unit = {
    val t = run.tracer
    val spark = run.spark
    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      t.span(name)(body)
      (System.nanoTime() - t0) / 1e9
    }
    val n = ProbeRows
    val gen = timed("gen") { Ingest.batchFrame(spark, cfg, n).queryExecution.toRdd.count() }
    val route = timed("route") {
      Ingest.routeAndProject(raw(run, 0, n, cfg.parallelism), cfg).queryExecution.toRdd.count()
    }
    val redact = timed("curation.redact") {
      graft.api.Curation.redactPii(Ingest.batchFrame(spark, cfg, n), "ip_address")
        .queryExecution.toRdd.count()
    }
    val seen = run.path("probe_seen")
    def ids(from: Long) = raw(run, from, from + n, cfg.parallelism)
      .select(Gen.expr(Gen.defaultColumns.head, cfg.seed, col("value")).as("user_id"))
    graft.api.Dedup.buildOrAppendSeenFilter(ids(0), "user_id", seen,
      expectedItems = StreamCurated.SeenItems)
    val append = timed("dedup.seen_append") {
      graft.api.Dedup.buildOrAppendSeenFilter(ids(n), "user_id", seen,
        expectedItems = StreamCurated.SeenItems)
    }
    // one bulk commit in the plain config (32 buckets, no curation) at
    // full parallelism and at parallelism 1, the single-threaded baseline
    val plain = IngestConfig(outputPath = None, parallelism = run.cores, seed = cfg.seed)
    def bulk(p: Int, name: String): Double = {
      val table = run.path(s"probe_bulk_$name")
      timed(s"commit.$name") {
        Ingest.commitBatch(plain.copy(outputPath = Some(table), parallelism = p), table,
          raw(run, 0, n, p), 0)
      }
    }
    bulk(run.cores, "warm") // the first 32-bucket commit in a JVM is slower
    val pN = bulk(run.cores, s"p${run.cores}")
    val p1 = bulk(1, "p1")
    run.facts("probe") = Map("rows" -> n, "gen_s" -> gen, "route_s" -> route,
      "redact_s" -> redact, "seen_append_s" -> append,
      "seen_filter_mb" -> layoutBytes(seen) / 1e6, "commit_pn_s" -> pN, "commit_p1_s" -> p1)
  }

  /** Bytes of the live version of a versioned store (its `_current`
    * pointer names the version directory). */
  def layoutBytes(root: String): Double = {
    val cur = new java.io.File(root, "_current")
    val dir =
      if (cur.isFile) new java.io.File(root,
        java.nio.file.Files.readString(cur.toPath).trim.split('/').last)
      else new java.io.File(root)
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(size).sum
      else f.length
    size(dir).toDouble
  }
}
