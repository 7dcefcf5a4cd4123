package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.core.Tables
import graft.ingest.{Ingest, IngestConfig}

/** `stream_curated`: an open loop. `Ingest.run` with the rate source at
  * a fixed offered rate, two commit groups, small commits, PII
  * redaction on `ip_address` and the seen filter on `user_id`. The
  * first `WarmS` seconds are set-up; the timed window is the `--seconds`
  * after them, and the run stops at its end. */
object StreamCurated {
  /** Offered rows/s, about half of what the curated path sustains on a
    * 4-core box; a multiple of the core count. */
  val Rate = 8000
  /** Seconds of streaming before the window opens. */
  val WarmS = 10.0
  /** Seconds of offered rows per commit. */
  val TriggerS = 4.0
  val Groups = 2
  /** Few buckets keep each commit small: 2 streams x 4 buckets = 8 files
    * per group per commit. */
  val Buckets = 4
  /** Seen-filter sizing: the generator's user_id pool holds 1M ids. */
  val SeenItems = 1000000L

  def run(run: Run): Unit = {
    require(Rate % run.cores == 0, s"the offered rate must be a multiple of ${run.cores}")
    val table = run.path("stream_table")
    val seen = run.path("stream_seen")
    val groupRate = Rate / Groups
    val cfg = IngestConfig(outputPath = Some(table), parallelism = run.cores,
      commitGroups = Groups, buckets = Buckets, eventsPerSecond = Rate / run.cores,
      commitAfterNRows = (groupRate * TriggerS).toInt,
      timeoutMs = ((WarmS + run.seconds) * 1000).toLong, seed = run.seed,
      redactPiiColumns = Seq("ip_address"), seenFilterPath = Some(seen),
      seenFilterColumn = Some("user_id"), seenFilterExpectedItems = SeenItems)

    // set-up: one commit through the same curated path on a throwaway
    // table warms the generator, redaction, seen filter and writer
    val warm = run.path("stream_warm")
    Ingest.commitBatch(cfg.copy(outputPath = Some(warm), seenFilterPath = Some(s"$warm-seen")),
      warm, IngestParts.raw(run, 0, groupRate * 2, run.cores), 0)

    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Double = Option(d.get(k)).fold(0.0)(_.doubleValue) / 1e3
        val start = java.time.Instant.parse(p.timestamp)
        val startEpoch = start.getEpochSecond + start.getNano / 1e9
        val rec = Map("kind" -> "trigger", "query" -> p.id.toString, "batch" -> p.batchId,
          "start_epoch_s" -> startEpoch, "trigger_s" -> ms("triggerExecution"),
          "add_batch_s" -> ms("addBatch"), "wal_commit_s" -> ms("walCommit"),
          "latest_offset_s" -> ms("latestOffset"), "query_planning_s" -> ms("queryPlanning"),
          "commit_offsets_s" -> ms("commitOffsets"), "input_rows" -> p.numInputRows)
        run.ops.synchronized { run.ops += rec }
      }
    }
    run.spark.streams.addListener(listener)

    // the window opens after the warm-up
    val timer = java.util.concurrent.Executors.newSingleThreadScheduledExecutor()
    def at(s: Double)(body: => Unit) =
      timer.schedule((() => body): Runnable, (s * 1000).toLong,
        java.util.concurrent.TimeUnit.MILLISECONDS)
    at(WarmS) {
      run.tracer.active = run.traced
      run.facts("traced_counters_start") = run.tracer.snap()
      run.windowStart()
    }
    at(WarmS + run.seconds) {
      run.windowEnd()
      run.facts("traced_counters_end") = run.tracer.snap()
    }
    Ingest.run(run.spark, cfg)
    timer.shutdown()
    timer.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
    run.tracer.active = false
    run.spark.streams.removeListener(listener)
    if (run.traced) traceSpans(run)

    val commits = committedBatches(table, groupRate)
    run.ops ++= commits
    run.facts("offered_rate") = Rate
    run.facts("group_rate") = groupRate

    IngestParts.checkCommitted(run, cfg, table,
      commits.map(c => (c("first_row").asInstanceOf[Long], c("end_row").asInstanceOf[Long])),
      Set("ip_address"))
    run.check("no_ipv4_published") {
      val n = Tables.committedView(run.spark, table)
        .filter(col("ip_address").rlike("\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b")).count()
      (n == 0, s"$n published ip_address values match the IPv4 pattern")
    }
    run.check("seen_filter_covers_committed") {
      val ids = Tables.committedView(run.spark, table).select("user_id").distinct()
      val missed = graft.api.Dedup.markSeen(run.spark, ids, "user_id", seen)
        .filter(!col("probably_seen")).count()
      (missed == 0, s"$missed committed user_id values probe negative")
    }
    run.facts("layout") = IngestParts.layout(table)
    run.facts("seen_filter_mb") = IngestParts.layoutBytes(seen) / 1e6
    if (run.traced) {
      run.tracer.active = true
      IngestParts.probes(run, cfg.copy(commitGroups = 1))
      run.tracer.active = false
    }
  }

  /** The window as one span, with the listener and filesystem counter
    * deltas across it, and each trigger that ended in it as a child. */
  private def traceSpans(run: Run): Unit = {
    val f = run.facts
    val (w0, w1) = (f("window_start_epoch_s").asInstanceOf[Double],
      f("window_end_epoch_s").asInstanceOf[Double])
    val a = f("traced_counters_start").asInstanceOf[Map[String, Double]]
    val b = f("traced_counters_end").asInstanceOf[Map[String, Double]]
    val window = run.tracer.observed("stream.window", w0, w1,
      b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) })
    run.ops.filter(_("kind") == "trigger").foreach { t =>
      val s = t("start_epoch_s").asInstanceOf[Double]
      val e = s + t("trigger_s").asInstanceOf[Double]
      if (e >= w0 && e <= w1)
        run.tracer.observed("stream.trigger", s, e,
          Seq("add_batch_s", "wal_commit_s", "latest_offset_s", "query_planning_s",
            "commit_offsets_s").map(k => k -> t(k).asInstanceOf[Double]).toMap +
            ("input_rows" -> t("input_rows").asInstanceOf[Long].toDouble), window)
    }
  }

  private def lines(f: File): Seq[String] =
    Files.readAllLines(f.toPath).toArray.toSeq.map(_.toString)

  /** Rate-source start time (epoch s) of each commit group, from the
    * source's metadata log in the group's checkpoint. */
  private def sourceStarts(table: String): Seq[Double] =
    (0 until Groups).map(g =>
      lines(new File(table, s"_checkpoint/g$g/sources/0/0")).last.trim.toLong / 1e3)

  /** Every batch whose commit marker exists: its group, row range (from
    * the offset log: the rate source's offsets are whole seconds since
    * its start) and the marker's modification time. */
  private def committedBatches(table: String, groupRate: Long): Seq[Map[String, Any]] = {
    val markers = Option(new File(table, "_commits").listFiles).getOrElse(Array.empty)
      .map(f => f.getName -> Files.getLastModifiedTime(f.toPath).toInstant).toMap
    val starts = sourceStarts(table)
    (0 until Groups).flatMap { g =>
      val dir = new File(table, s"_checkpoint/g$g/offsets")
      val ends = Option(dir.listFiles).getOrElse(Array.empty)
        .filter(_.getName.forall(_.isDigit))
        .map(f => f.getName.toLong -> lines(f).last.trim.toLong).toMap
      ends.keys.toSeq.sorted.flatMap { b =>
        markers.get(s"g$g-$b").map { m =>
          val startSec = ends.getOrElse(b - 1, 0L)
          Map("kind" -> "commit", "group" -> g, "batch" -> b,
            "first_row" -> startSec * groupRate, "end_row" -> ends(b) * groupRate,
            "rate" -> groupRate, "source_start_epoch_s" -> starts(g),
            "marker_epoch_s" -> (m.getEpochSecond + m.getNano / 1e9))
        }
      }
    }
  }
}
