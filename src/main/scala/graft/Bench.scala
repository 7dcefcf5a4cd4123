package graft

import java.nio.file.Files
import java.util.Locale


import graft.ingest.{Ingest, IngestConfig}

/** Benchmark main (driver contract): one JSON line with per-query wall
  * times on SPARK_GRAFT_SF_DIR plus the ingest engine's batch
  * throughput.
  *
  * Fidelity fixes from VERDICT r1 #4: (a) a warmup pass first so the
  * first timed query doesn't absorb JVM/classloader/scan warmup; (b)
  * results are materialized through `queryExecution.toRdd.count()`,
  * which executes the COMPLETE physical plan (final sorts and
  * projections included) without collecting to the driver — `.count()`
  * on the Dataset would let Catalyst prune exactly the operators being
  * measured.
  *
  * Log-capture contract (r2/r3/r6 `parsed: null` post-mortems): the
  * driver records only the LAST 2000 chars of the log, so the result
  * line must (a) be the final line printed and (b) fit the window
  * ENTIRELY — r6's line ran ~2048 chars (126 queries + per-rep sample
  * arrays) and lost its opening brace. The stdout line therefore uses
  * short query keys (`qNN`), 10 ms precision, and no sample arrays,
  * with a length guard at BenchLine.MaxLen chars; the full-name,
  * full-precision, full-samples record is mirrored to
  * `bench_result.json`.
  */
/** The driver-facing JSON result line, extracted pure so the format
  * contract is unit-testable without a Spark session (BenchLineSpec):
  * env-supplied strings are escaped, and the compact stdout form
  * degrades — 10 ms precision → 100 ms → drop the per-query map —
  * rather than EVER exceeding the parse-window budget. */
private[graft] object BenchLine {
  /** Stdout-line budget: the driver keeps only the final 2000 chars of
    * the log, and the compact line is the ABSOLUTE last output (printed
    * again after spark.stop(), flushed) — so line + newline must fit
    * 2000 with margin for nothing else. 1950 leaves 49 spare; r15
    * raised it from 1900 after the per-stage ambient fields (a verdict
    * done-bar) squeezed the per-query map to 33 entries. */
  val MaxLen = 1950

  final case class Headline(sfDir: String, load1: Double, queryErrors: Int,
                            ingestRate: Long, ingestRateUnbucketed: Long,
                            streamRows: Long, streamRate: Long,
                            streamBestLoad1: Double = -1.0)

  def f3(v: Double): String = "%.3f".formatLocal(Locale.ROOT, v)
  def f2(v: Double): String = "%.2f".formatLocal(Locale.ROOT, v)

  /** JSON string escape for environment-supplied values — a quote,
    * backslash, or control char in e.g. the sf path must not make the
    * line unparseable (ADVICE r7). */
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }

  def render(h: Headline, results: Seq[(String, Double)],
             perQuery: Seq[(String, String)], extras: String): String = {
    val qs = perQuery.map { case (k, v) => "\"" + esc(k) + "\":" + v }
      .mkString("{", ",", "}")
    // total sums SUCCESSFUL queries only; failures are flagged by the
    // -1 per-query value plus the query_errors count
    val total = f3(results.collect { case (_, t) if t >= 0 => t }.sum)
    s"""{"metric":"total","value":$total,"unit":"sec","query_errors":${h.queryErrors},"queries":$qs,"sf":"${esc(h.sfDir)}","load1":${f3(h.load1)},"ingest_rows_per_sec":${h.ingestRate},"ingest_unbucketed_rows_per_sec":${h.ingestRateUnbucketed},"ingest_streaming_committed_rows":${h.streamRows},"ingest_streaming_rows_per_sec":${h.streamRate},"ingest_streaming_best_load1":${f3(h.streamBestLoad1)}$extras}"""
  }

  /** Smoke-stage error keys (`<stage>_error` entries with a negative
    * sentinel value): each one counts as a query error in the headline
    * (VERDICT r14 #4 — race_error previously landed as a -1 field
    * nothing gated on, so a cross-process CAS regression would not
    * have turned the board red). Pure so BenchLineSpec pins the
    * red path. */
  def smokeErrorKeys(entries: Seq[(String, Double)]): Seq[String] =
    entries.collect { case (k, v) if k.endsWith("_error") && v < 0 => k }

  /** The `scale_smoke` JSON object for a stage-entry list (empty
    * string when there are no entries) — extracted pure so the spec
    * can pin that the race stage's accounting fields
    * (race_soak / race_committed_rows / race_conflict_loud / the
    * per-stage `_amb` ambient fields) survive into the emitted JSON. */
  def smokeJson(smokeRows: Long, entries: Seq[(String, Double)]): String =
    if (entries.isEmpty) "" else
      s""","scale_smoke":{"rows":$smokeRows,${entries.map { case (k, v) =>
        // ambient/load/IO context carries at 1 decimal — the gates are
        // coarse ("< 4", "stalled or not"), not 10-ms measurements;
        // the chars buy query slots
        val coarse = k.endsWith("_amb") || k.endsWith("_load1") ||
          k.contains("_io_") || k.contains("_fs_")
        "\"" + esc(k) + "\":" + (if (coarse) f1(v) else f2(v))
      }.mkString(",")}}"""

  def f1(v: Double): String = "%.1f".formatLocal(Locale.ROOT, v)

  /** COMPACT smoke segment for the stdout line: one ARRAY per stage —
    * `"<stage>":[sec, amb, io_stall]`, index-build stages append
    * `[io_rmb, io_wmb]` — instead of one suffixed field per metric.
    * The r16 IO fields made the suffixed form ~1.9k chars (the whole
    * parse window): repeating a 17-char stage name three-to-five
    * times per stage was most of it. A `scale_smoke_v` legend names
    * the element order; −1 marks an unavailable source. Scalars
    * (counter echoes already filtered upstream, `_error` sentinels,
    * `*_rows_per_sec`) stay plain fields. The FULL suffixed set
    * always lands in bench_result.json. */
  def smokeCompactJson(smokeRows: Long, entries: Seq[(String, Double)]): String = {
    if (entries.isEmpty) return ""
    val m = entries.toMap
    val stageSet = entries.collect {
      case (k, _) if m.contains(s"${k}_amb") => k }.toSet
    val suffixes = Seq("_amb", "_load1", "_io_stall", "_io_full",
      "_io_rmb", "_io_wmb", "_fs_rmb", "_fs_wmb")
    def isSuffixOfStage(k: String): Boolean = suffixes.exists(s =>
      k.endsWith(s) && stageSet(k.stripSuffix(s)))
    val parts = entries.flatMap { case (k, v) =>
      if (stageSet(k)) {
        val base = Seq(v, m.getOrElse(s"${k}_amb", -1.0),
          m.getOrElse(s"${k}_io_stall", -1.0))
        val vol = if (k.endsWith("_index"))
          Seq(m.getOrElse(s"${k}_io_rmb", -1.0), m.getOrElse(s"${k}_io_wmb", -1.0))
        else Nil
        Some("\"" + esc(k) + "\":[" + (base ++ vol).map(f1).mkString(",") + "]")
      }
      else if (isSuffixOfStage(k)) None
      else Some("\"" + esc(k) + "\":" + f2(v))
    }
    s""","scale_smoke_v":"sec,amb,io_stall[,io_rmb,io_wmb]","scale_smoke":{"rows":$smokeRows,${parts.mkString(",")}}"""
  }

  /** Compact line for the log: `q44_near_dup_pairs` → `q44`, 10 ms
    * precision, no sample arrays — degrading precision, then SHEDDING
    * THE FASTEST queries (the slow ones are the performance signal;
    * `"q_omitted":N` records the shed count, no omitted query prints
    * slower than a kept one), then dropping the map entirely, and as the
    * FINAL rungs shedding `extras` segments from the END (ADVICE r15:
    * the always-on extras grow linearly with probe reps and smoke
    * stage count, so with elevated reps even the no-map render could
    * overflow — the never-over-length contract needs a hard guard
    * below the map, not just around it). `extras` is ordered
    * most-important-first; a shed is recorded as `"extras_omitted":N`.
    * The full-precision complete record always lands in
    * bench_result.json regardless of what the line sheds. */
  def compact(h: Headline, results: Seq[(String, Double)],
              extras: Seq[String] = Nil): String = {
    def at(fmt: Double => String, subset: Seq[(String, Double)],
           keepExtras: Int): String = {
      val exOmitted = extras.size - keepExtras
      val qOmitted = results.size - subset.size
      render(h, results,
        subset.map { case (k, v) => k.takeWhile(_ != '_') -> fmt(v) },
        extras.take(keepExtras).mkString +
          (if (exOmitted > 0) s""","extras_omitted":$exOmitted""" else "") +
          (if (qOmitted > 0) s""","q_omitted":$qOmitted""" else ""))
    }
    // Extras-first budget (r16): the per-query map is the performance
    // signal and must never shed to ZERO because the extras alone ate
    // the window (the first r16 full-dress line shipped q_omitted=213
    // — every query gone — with the IO-field smoke segment at ~1.9k
    // chars). Commit to the largest extras prefix that leaves at least
    // `QueryReserve` chars of map room, THEN run the precision/shed
    // ladder against the remainder.
    var keepExtras = extras.size
    while (keepExtras > 0 &&
           at(f1, Seq.empty, keepExtras).length > MaxLen - QueryReserve)
      keepExtras -= 1
    val c2 = at(f2, results, keepExtras)
    if (c2.length <= MaxLen) return c2
    val c1 = at(f1, results, keepExtras)
    if (c1.length <= MaxLen) return c1
    // shed fastest-first by the time the line prints (0.1 s, f1), then
    // by name: queries that print the same time shed in one fixed order
    // whatever their sub-print jitter. Failures (-1) sort as slowest so
    // they are never shed — a red query must stay visible in the map
    var keep = results.sortBy { case (k, t) =>
      (if (t < 0) Long.MinValue else -math.round(f1(t).toDouble * 10), k) }
    var line = c1
    while (line.length > MaxLen && keep.nonEmpty) {
      keep = keep.dropRight(math.max(1, keep.size / 10))
      line = at(f1, keep, keepExtras)
    }
    // map fully shed and still over budget (extras grew between the
    // reserve check and here cannot happen — extras are fixed — but
    // a pathological headline could): hard guard, drop extras too.
    while (line.length > MaxLen && keepExtras > 0) {
      keepExtras -= 1
      line = at(f1, Seq.empty, keepExtras)
    }
    // FINAL clamp (ADVICE r16): with map and extras both gone, only a
    // pathological headline (e.g. an absurd sf path) can still exceed
    // the budget — truncate rather than ship an over-length line the
    // driver's 2000-char tail window would mangle into parse failure
    // anyway. A truncated line is equally unparseable but bounded, and
    // the never-over-length contract holds unconditionally.
    if (line.length > MaxLen) line.take(MaxLen) else line
  }

  /** Minimum chars the extras budget must leave for the per-query map
    * (~15 f1-precision entries) before extras segments shed instead. */
  val QueryReserve = 250
}

/** The two ingest throughput probes, shared by [[Bench]] and the
  * standalone quiet-window A/B harness (`graft.tools.ProbeIngest`). */
private[graft] object IngestProbes {
  // null-safe and exception-safe: a stopped streaming query's own
  // async task cleanup can race this walk (listFiles → null mid-walk),
  // and a cleanup failure must never kill the bench
  private def rmrf(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(rmrf)
    f.delete()
  }
  def rmrfQuiet(f: java.io.File): Unit =
    try rmrf(f) catch { case _: Throwable => () }

  /** Bounded batch through the full generator → partitioned-ORC path.
    * Stream count capped: total files = p × buckets, so p trades writer
    * parallelism against per-file ORC fixed cost — p = 16 measured best
    * at local[32] (1.6-1.9M rows/s bucketed, 10M-row probe), p = 8 best
    * on 8 cores. lz4 A/B'd against zstd on a comparable-load box (r8):
    * bucketed 2.28M vs 1.67M rows/s, unbucketed 5.6M vs 3.4M — zstd's
    * ratio win costs ~35% throughput on this CPU-bound write path; lz4
    * is the throughput default. */
  def batchOnce(spark: org.apache.spark.sql.SparkSession, cpus: Int,
                buckets: Int, rows: Long): Long = {
    val tmp = Files.createTempDirectory("graft-bench-ingest")
    val p = if (buckets > 0) math.min(16, cpus) else cpus
    try {
      val r = Ingest.runBatch(spark,
        IngestConfig(outputPath = Some(tmp.toString), parallelism = p,
          buckets = buckets,
          compression = sys.env.getOrElse("SPARK_GRAFT_INGEST_COMPRESSION", "lz4")),
        rows)
      r.throughputRowsPerSec
    } catch {
      case t: Throwable =>
        System.err.println(s"[bench] ingest probe (buckets=$buckets) failed: ${t.getMessage}")
        -1L
    } finally rmrfQuiet(tmp.toFile)
  }

  /** Streaming commit-path probe: a real timed run of the streaming
    * engine (rate source saturating the sink, foreachBatch commits,
    * checkpointing) reported with the REFERENCE'S formula — committed
    * rows ÷ configured timeout seconds (Culvert.java:170-171).
    *
    * Defaults (overridable for A/B runs): every commit writes
    * perGroup×buckets files; the probe caps the stream count at 16 —
    * the r10 quiet-window A/B: p=16/g=4/eps=200k sustains 1.72-1.88M
    * rows/s vs 1.59M at the old p=8/g=4/eps=300k (and holds its rate
    * under load1 16, where p=8 sagged to ~1.2M); p=16/g=8 starves each
    * group (1.2M), eps=150k under-feeds (1.32M), 1.5M-row commits
    * under-commit the 20 s window (1.26M). Four commit groups: write
    * jobs and publish phases of concurrent commits overlap, like the
    * reference's independently-committing stream threads — g A/B:
    * 240k (g=1) → 560k (g=2) → 880k rows/s (g=4) on a loaded box.
    * Feed = 3.2M rows/s aggregate — ~1.8× the sink's measured commit
    * capacity so the sink, not the source, is always the bottleneck;
    * 1M-row commits amortize the per-commit fixed cost while landing
    * several commits per window. */
  def streamOnce(spark: org.apache.spark.sql.SparkSession, cpus: Int,
                 timeoutMs: Long, eventsPerSecond: Int = 200000,
                 commitAfterNRows: Int = 1000000,
                 parallelismOverride: Int = 0,
                 commitGroupsOverride: Int = 0): (Long, Long) = {
    val streamDir = Files.createTempDirectory("graft-bench-stream")
    val p = if (parallelismOverride > 0) parallelismOverride
      else math.min(16, cpus)
    // the default group count must divide p — a 1/3/5/7-cpu box would
    // otherwise fail the run's divisibility require on every probe
    val g = if (commitGroupsOverride > 0) commitGroupsOverride
      else if (p % 4 == 0) 4 else if (p % 2 == 0) 2 else 1
    try {
      val r = Ingest.run(spark, IngestConfig(
        outputPath = Some(streamDir.toString),
        parallelism = p, commitGroups = g,
        eventsPerSecond = eventsPerSecond,
        commitAfterNRows = commitAfterNRows,
        timeoutMs = timeoutMs))
      (r.rowsCommitted, r.throughputRowsPerSec)
    } catch {
      case t: Throwable =>
        System.err.println(s"[bench] streaming probe failed: ${t.getMessage}")
        (-1L, -1L)
    } finally rmrfQuiet(streamDir.toFile)
  }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local("graft-bench")

    def materialize(name: String): Long =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()

    // Per-query cache scope: queries may cache/checkpoint intermediates;
    // nothing may stay pinned once the query is done (VERDICT r2 #6).
    def dropCaches(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }

    // Ingest throughput probes: bounded batch through the full generator
    // → partitioned-ORC path (the dataflow the streaming engine commits
    // per micro-batch), with and without the 32-bucket contract — the
    // bucketed number is the one comparable to BASELINE.md (the
    // reference's table is clustered into 32 buckets).
    //
    // Robustness (VERDICT r2 #2, r5 #1): machine load swings single-shot
    // probes 2-6×, so probes run in THREE windows — before the query
    // suite (fresh JVM, machine usually quietest), mid-suite, and after
    // — and report the best; every per-rep sample lands in the JSON so a
    // contaminated window is visible in the record (r5 recorded 490k
    // rows/s under load1 22 for an engine that sustains 1.6-1.9M on
    // quiet windows — spreading reps across the session maximizes the
    // chance at least one window is quiet); every probe is
    // exception-guarded so a probe failure can never eat the JSON result
    // line; the JSON carries the per-window 1-min loadavg.
    // 10M-row probes: at ~2M rows/s the bucketed write runs ~5 s, long
    // enough that per-run fixed costs (job scheduling, writer init) stop
    // dominating the measured rate — 5M-row probes under-recorded by
    // ~15% for the same engine
    val ingestRows = sys.env.getOrElse("SPARK_GRAFT_INGEST_ROWS", "10000000").toLong
    val probeReps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt
    def probeOnce(buckets: Int, rows: Long = ingestRows): Long =
      IngestProbes.batchOnce(spark, cpus.toInt, buckets, rows)
    // per-rep samples, in run order across all windows — recorded in
    // the JSON so one contaminated window can't masquerade as the
    // engine's ceiling (nor hide it)
    val bucketedSamples = scala.collection.mutable.ArrayBuffer.empty[Long]
    val unbucketedSamples = scala.collection.mutable.ArrayBuffer.empty[Long]
    val streamSamples = scala.collection.mutable.ArrayBuffer.empty[Long]
    val loadWindows = scala.collection.mutable.ArrayBuffer.empty[Double]

    // AMBIENT load estimator (VERDICT r13 #1): shared daemon sampler —
    // ambient = max(0, load1 − ownCpuEwma) estimates the load OTHER
    // processes put on the box, the thing that actually contends with
    // a probe. Gates run on ambient; raw load1 is still recorded per
    // window. Extracted to graft.AmbientLoad (r15) so ScaleSmoke's
    // per-stage fields and the probe tools share one estimator, with
    // the sampler loop exception-guarded and its health recorded
    // (ADVICE r14: a silently-dead sampler froze the EWMA and skewed
    // every later gate decision with no trace). Provenance blind spots
    // (forked child JVMs + D-state IO read as ambient) documented on
    // the object — both conservative for gating.
    AmbientLoad.start()
    def load1Now(): Double = AmbientLoad.load1Now()
    def ownLoadNow(): Double = AmbientLoad.ownEwma()
    def ambientNow(): Double = AmbientLoad.ambientNow()
    // IO-pressure gate input (VERDICT r15 #1/#6): PSI io "some" avg10
    // (%) read immediately before a sample — the D-state/writeback
    // signal the CPU-ambient estimator is blind to (r15's quietest
    // CPU-ambient batch sample was the SLOWEST: 320k rows/s at amb
    // 1.02, because writeback pressure doesn't show in loadavg-minus-
    // own-CPU). A sample is gate-passing only if CPU-ambient < gate
    // AND io10 < ioGate; −1 (PSI unavailable) degrades to CPU-only
    // gating rather than failing every gate.
    def io10Now(): Double = IoLoad.ioSome10Now()
    val ioGate = sys.env.getOrElse("SPARK_GRAFT_IO_GATE", "10.0").toDouble
    def ioOk(io: Double): Boolean = io < 0 || io < ioGate

    // Load gate for probe reps (VERDICT r9 #3, r10 #1; definition
    // hoisted above the forked probes, which now take it as an
    // argument): cpus/8 = 4 is the bar a window must clear to count as
    // quiet on this box (the r10 A/B windows that reproduced 1.7M+ all
    // sat under load1 5).
    val streamLoadGate = sys.env.getOrElse("SPARK_GRAFT_STREAM_LOAD_GATE",
      math.max(2, cpus.toInt / 8).toString).toDouble
    val waitQuietMs =
      sys.env.getOrElse("SPARK_GRAFT_WAIT_QUIET_MS", "600000").toLong

    // Forked fresh-JVM ingest probes (VERDICT r15 #3, widened r16 #1):
    // the in-suite probes inherit the suite's hot heap and dirty page
    // cache — r15's quietest-ambient in-suite sample was its SLOWEST
    // (320k rows/s at amb 1.02) while the standalone tool measured
    // 2.1M at comparable ambient. Fork ProbeIngest into fresh JVMs
    // FIRST — the freshest machine state the session will ever see —
    // and let their samples compete for the gated headlines under the
    // same ambient+IO gates (the child measures both right before each
    // rep). r16 lesson: a FIXED 3-shot fork on a busy hour had every
    // shot gate-rejected and the record fell back to a depressed
    // hot-heap sample — the child now waits (bounded) for a quiet
    // window before each rep and RETRIES past the base reps (up to
    // maxAttempts) until one sample passes the gates it was given.
    // Spawn failure or timeout soft-fails to the in-suite samples,
    // loudly recorded. Returns the per-sample field arrays.
    def runForkedProbe(tag: String, probeArgs: Seq[String], linePrefix: String,
                       nFields: Int, timeoutMin: Long): (Seq[Seq[Double]], String) = {
      var error = ""
      val samples = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
      val out = java.io.File.createTempFile(s"graft-forked-$tag", ".log")
      try {
        val p = graft.tools.RaceChild.spawn(probeArgs, out,
          mainClass = "graft.tools.ProbeIngest", xmx = "12g")
        if (!p.waitFor(timeoutMin, java.util.concurrent.TimeUnit.MINUTES)) {
          p.destroyForcibly(); error = "timeout"
        }
        // atomic per-line parse, and none at all after a kill (review
        // r16): a line truncated by destroyForcibly must not leave the
        // sample array one longer than its ambient/io arrays — a
        // misalignment that would gate every in-suite sample against
        // the wrong ambient and crash gatedBest on the last index
        if (error != "timeout") {
          val src = scala.io.Source.fromFile(out, "UTF-8")
          val lines = try src.getLines().toList finally src.close()
          lines.filter(_.startsWith(linePrefix)).foreach { l =>
            val f = l.stripPrefix(linePrefix).split(',')
            val parsed =
              if (f.length == nFields) {
                val ds = f.map(_.toDoubleOption)
                if (ds.forall(_.isDefined)) Some(ds.map(_.get).toSeq) else None
              } else None
            parsed match {
              case Some(fields) => samples += fields
              case None =>
                System.err.println(s"[bench] malformed forked sample line skipped: $l")
            }
          }
          if (samples.isEmpty && error.isEmpty)
            error = s"no samples (exit ${p.exitValue()}); tail: " +
              lines.takeRight(3).mkString(" | ").take(300)
        }
      } catch {
        case t: Throwable =>
          error = s"${t.getClass.getSimpleName}: ${t.getMessage}"
      } finally out.delete()
      if (error.nonEmpty)
        System.err.println(s"[bench] forked $tag probe soft-failed: $error")
      (samples.toSeq, error)
    }
    val forkedWaitMs =
      sys.env.getOrElse("SPARK_GRAFT_FORKED_WAIT_QUIET_MS", "60000").toLong
    def fmtGate(v: Double): String = BenchLine.f2(v)

    // STREAMING forked probe first — the streaming number is the
    // round's weak headline and deserves the freshest JVM + quietest
    // pre-suite window (VERDICT r16 #1b). Fields per sample:
    // rows, rate, ambient, io10, load1.
    val forkedStreamReps =
      sys.env.getOrElse("SPARK_GRAFT_FORKED_STREAM_REPS", "2").toInt
    val forkedStreamMax =
      sys.env.getOrElse("SPARK_GRAFT_FORKED_STREAM_MAX_ATTEMPTS", "6").toInt
    val streamMs = sys.env.getOrElse("SPARK_GRAFT_STREAM_MS", "20000").toLong
    val (forkedStreamSamples, forkedStreamError) =
      if (forkedStreamReps <= 0) (Seq.empty[Seq[Double]], "")
      else runForkedProbe("stream",
        // warmup 40 s = two full commit windows (r18): the fresh-JVM
        // child's FIRST window runs 1.08–1.24M rows/s while warm
        // windows sustain 1.76–2.12M at io10 = 0 (ProbeIngest phase
        // attribution) — a 15 s warmup left the gate preferring the
        // cold window, exactly the under-warm bias the 15 s value was
        // itself raised from 5 s to fix
        Seq("stream", forkedStreamReps.toString, streamMs.toString,
          "200000", "1000000", "0", "0", "40000",
          fmtGate(streamLoadGate), fmtGate(ioGate),
          forkedStreamMax.toString, forkedWaitMs.toString),
        "PROBE_STREAM_SAMPLE=", nFields = 5, timeoutMin = 15)

    // BATCH forked probe. Fields per sample: rate, ambient, io10.
    val forkedReps = sys.env.getOrElse("SPARK_GRAFT_FORKED_BATCH_REPS", "3").toInt
    val forkedBatchMax =
      sys.env.getOrElse("SPARK_GRAFT_FORKED_BATCH_MAX_ATTEMPTS", "8").toInt
    val (forkedBatchFields, forkedBatchError) =
      if (forkedReps <= 0) (Seq.empty[Seq[Double]], "")
      else runForkedProbe("batch",
        Seq("batch", forkedReps.toString, "32", ingestRows.toString,
          fmtGate(streamLoadGate), fmtGate(ioGate),
          forkedBatchMax.toString, forkedWaitMs.toString),
        "PROBE_BATCH_SAMPLE=", nFields = 3, timeoutMin = 20)
    val forkedBatchSamples = forkedBatchFields.map(_(0).toLong)
    val forkedBatchAmbients = forkedBatchFields.map(_(1))
    val forkedBatchIos = forkedBatchFields.map(_(2))

    // Warmup the write path (codegen, ORC writer classes, shuffle
    // machinery) with a small throwaway run, then take the first probe
    // window while the machine is at its quietest.
    probeOnce(32, rows = 512 * 1024)
    // Ambient gating for the BATCH probes (VERDICT r14 #3): the r14
    // bucketed samples spanned 345k–1.72M rows/s (10×) with no way to
    // tell contaminated windows from the engine's ceiling — the exact
    // noise the streaming probe's gate fixed that round. Ambient is
    // read immediately BEFORE each sample (the probe's own burst then
    // inflates load1, but the EWMA discounts it by the next window);
    // the headline is the best GATE-PASSING sample, falling back to
    // the absolute max — honestly flagged by ingest_headline_gated —
    // only when no sample ran on a quiet box.
    val bucketedAmbients = scala.collection.mutable.ArrayBuffer.empty[Double]
    val unbucketedAmbients = scala.collection.mutable.ArrayBuffer.empty[Double]
    val bucketedIos = scala.collection.mutable.ArrayBuffer.empty[Double]
    val unbucketedIos = scala.collection.mutable.ArrayBuffer.empty[Double]
    def batchWindow(reps: Int): Unit = {
      loadWindows += load1Now()
      (1 to reps).foreach { _ =>
        bucketedAmbients += ambientNow()
        bucketedIos += io10Now()
        bucketedSamples += probeOnce(32)
        unbucketedAmbients += ambientNow()
        unbucketedIos += io10Now()
        unbucketedSamples += probeOnce(0)
      }
    }
    // returns (rate, ambient, io10, gate-passing, WINNING INDEX) — the
    // index is what provenance flags derive from (ADVICE r16: value
    // equality against the forked sample list could mislabel a tie)
    def gatedBest(samples: Seq[Long], ambients: Seq[Double], ios: Seq[Double],
                  gate: Double): (Long, Double, Double, Boolean, Int) = {
      val gated = samples.indices.filter { i =>
        samples(i) > 0 && ambients(i) >= 0 && ambients(i) < gate &&
          ioOk(ios.lift(i).getOrElse(-1.0)) }
      if (gated.nonEmpty) {
        val i = gated.maxBy(samples(_))
        (samples(i), ambients(i), ios.lift(i).getOrElse(-1.0), true, i)
      } else {
        val i = samples.indices.maxBy(samples(_))
        (samples(i), ambients.lift(i).getOrElse(-1.0),
          ios.lift(i).getOrElse(-1.0), false, i)
      }
    }

    // Streaming commit-path probe: a real timed run of the streaming
    // engine (rate source saturating the sink, foreachBatch commits,
    // checkpointing) reported with the REFERENCE'S formula — committed
    // rows ÷ configured timeout seconds (Culvert.java:170-171) — the
    // number directly comparable to BASELINE.md's. Runs FIRST, in the
    // quietest pre-query window on the freshest JVM (r4: running it
    // last recorded 480k rows/s vs 880k-1M in quiet windows; r10 moved
    // it ahead of the batch probes too — the streaming number is the
    // round's weak headline and deserves the best window); best of N —
    // a contended box recovers in later windows.
    def streamOnce(timeoutMs: Long = streamMs): (Long, Long) =
      IngestProbes.streamOnce(spark, cpus.toInt, timeoutMs)
    // Bounded wait-for-quiet (VERDICT r10 #1c): before the probe
    // windows that decide the record, poll load1 until one window
    // clears the gate or the budget runs out — a 10-minute wait that
    // buys a clean window beats seven contaminated reps. Returns the
    // load reached; every wait's duration is recorded in the JSON.
    // (streamLoadGate / waitQuietMs are defined above the forked
    // probes, which take them as child arguments.)
    val quietWaits = scala.collection.mutable.ArrayBuffer.empty[Double]
    // quiet = CPU-ambient under the gate AND the box not IO-stalled
    // (r16): a window that passes the CPU gate mid-writeback records a
    // depressed number the gate then prefers — the exact r15 failure
    def waitForQuiet(budgetMs: Long): Double = {
      val t0 = System.currentTimeMillis()
      var l = ambientNow()
      while ((l >= 0 && l > streamLoadGate || !ioOk(io10Now())) &&
             System.currentTimeMillis() - t0 < budgetMs) {
        Thread.sleep(15000)
        l = ambientNow()
      }
      quietWaits += (System.currentTimeMillis() - t0) / 1000.0
      l
    }
    val streamReps = sys.env.getOrElse("SPARK_GRAFT_STREAM_REPS", "2").toInt
    // HEADLINE = best rep from a GATE-PASSING window (VERDICT r11 #3:
    // a headline taken under load1 15.9 is a valid lower bound but not
    // self-defending); the absolute max across all windows is kept as
    // a separate field. Falls back to the absolute max — honestly
    // flagged by its recorded load1 — only if NO window cleared the gate.
    var streamBestGated: (Long, Long) = (-1L, -1L)
    var streamBestGatedLoad1 = -1.0
    var streamBestAbs: (Long, Long) = (-1L, -1L)
    var streamBestAbsLoad1 = -1.0
    var streamZeroRetries = 0
    // stall retries tracked SEPARATELY from zero-commit retries
    // (ADVICE r13): r10-r12 telemetry counted only zero-commit events
    // under stream_zero_committed_retries — conflating the two would
    // muddy cross-round comparisons
    var streamStallRetries = 0
    // per-rep load1 + ambient, recorded for EVERY stream rep — the
    // contamination audit the batch windows already have (the r9
    // post-mortem hinged on exactly this signal for the reps it lacked)
    val streamLoads = scala.collection.mutable.ArrayBuffer.empty[Double]
    val streamAmbients = scala.collection.mutable.ArrayBuffer.empty[Double]
    val streamIos = scala.collection.mutable.ArrayBuffer.empty[Double]
    var streamGatePassing = 0
    var streamBestGatedAmbient = -1.0
    var streamBestGatedIo = -1.0
    // provenance: whether the current best gated/abs sample came from
    // the forked fresh-JVM probe (cleared when an in-suite rep
    // overtakes it) — index-free, so ties can't mislabel (ADVICE r16)
    var streamBestGatedForked = false
    var streamBestAbsForked = false
    // fold the forked fresh-JVM stream samples in FIRST (they ran
    // before anything in-suite): same gate logic as streamWindow, with
    // the child's own ambient/io/load1 measured right before each rep
    forkedStreamSamples.foreach { f =>
      val (sRows, sRate) = (f(0).toLong, f(1).toLong)
      val (amb, io, l1) = (f(2), f(3), f(4))
      streamSamples += sRate
      streamLoads += l1
      streamAmbients += amb
      streamIos += io
      if (sRate > streamBestAbs._2) {
        streamBestAbs = (sRows, sRate); streamBestAbsLoad1 = l1
        streamBestAbsForked = true
      }
      if (amb >= 0 && amb < streamLoadGate && ioOk(io)) {
        streamGatePassing += 1
        if (sRate > streamBestGated._2) {
          streamBestGated = (sRows, sRate); streamBestGatedLoad1 = l1
          streamBestGatedAmbient = amb
          streamBestGatedIo = io
          streamBestGatedForked = true
        }
      }
    }
    def streamWindow(reps: Int): Unit =
      (1 to reps).foreach { _ =>
        val l = load1Now()
        val amb = ambientNow()
        val io = io10Now()
        streamLoads += l
        streamAmbients += amb
        streamIos += io
        var r = streamOnce()
        // committed == 0 means the probe never saw a commit land — a
        // 20 s window in which not one commit finished is a measurement
        // failure, not an engine rate (r10 recorded exactly this and
        // let it stand); retry once before recording
        if (r._1 <= 0) { streamZeroRetries += 1; r = streamOnce() }
        // a window that committed 3x+ under the session's best so far
        // is the same failure in lesser form (a GC/compaction stall
        // ate the window): an r13 preview recorded a 160k rows/s
        // headline from the run's ONE quiet window while six loaded
        // windows all measured 1M+ — the gate then preferred the
        // stall. Retry once, like the zero-commit case.
        if (r._1 > 0 && streamBestAbs._2 > 0 && r._2 * 3 < streamBestAbs._2) {
          streamStallRetries += 1
          val r2 = streamOnce()
          if (r2._2 > r._2) r = r2
        }
        streamSamples += r._2
        if (r._2 > streamBestAbs._2) {
          streamBestAbs = r; streamBestAbsLoad1 = l
          streamBestAbsForked = false
        }
        if (amb >= 0 && amb < streamLoadGate && ioOk(io)) {
          streamGatePassing += 1
          if (r._2 > streamBestGated._2) {
            streamBestGated = r; streamBestGatedLoad1 = l
            streamBestGatedAmbient = amb
            streamBestGatedIo = io
            streamBestGatedForked = false
          }
        }
      }
    // Target count of gate-passing stream windows for the session
    // (VERDICT r13 #1): the record needs either a ≥1.5M gated headline
    // or ≥8 sub-gate windows proving the ceiling is the engine's.
    val streamGateTarget =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_GATE_TARGET", "8").toInt
    // Pre-suite record window: wait (bounded) for the box to clear the
    // gate, THEN warm the stream path, THEN take the timed reps — the
    // quiet stretch covers warmup and reps together. Warmup is 15 s,
    // not 5: steady state needs several commits, and a cold first rep
    // is exactly how r8 under-recorded the streaming headline. The
    // window extends adaptively while the box stays ambient-quiet and
    // the session still lacks gate-passing reps.
    waitForQuiet(waitQuietMs)
    streamOnce(timeoutMs = 15000)
    streamWindow(streamReps)
    var preExtra = 0
    while (streamGatePassing < 3 && preExtra < 2 &&
           { val a = ambientNow(); a >= 0 && a < streamLoadGate } &&
           ioOk(io10Now())) {
      streamWindow(1); preExtra += 1
    }
    // batch probes follow the stream window (same pre-query quiet
    // stretch, ~1 min later)
    batchWindow(probeReps)

    // Warmup: touch every base table's scan path + codegen pipeline once.
    Seq("q31_date_funcs", "q01_pricing_summary", "q43_exact_dedup",
      "q47_cosine_topk", "q37_tumbling_window")
      .foreach(q => try materialize(q) catch { case _: Throwable => () })
    dropCaches()

    // Fixture warm pass (VERDICT r13 #3): build every per-JVM fixture
    // index BEFORE the timed loop by materializing the queries that
    // own a first-touch build, so no timed number ever charges the
    // fixture factory — q163 recorded 1.4 s for two rounds while its
    // steady state was 0.69 s. Build times land in the JSON as
    // fixture_build_sec (total) via Pipeline's build log; the timed
    // loop asserts zero NEW fixture keys afterwards.
    Seq("q123_dsir_weights", "q163_semantic_decontaminate_indexed",
      "q164_streaming_neardup_suppress", "q174_index_integrity",
      "q171_semantic_suppress_explain", "q165_merge_neardup_indexes",
      "q176_merge_ivf_indexes", "q204_sql_commit_log",
      "q211_sql_pii_ledger",
      // q215's bktcommit fixture (added r17) — the one
      // fixture_builds_during_timed offender in the driver's r17 c8 run
      "q215_bucketed_commit_join")
      .filter(SparkEntry.queries.contains)
      .foreach(q => try materialize(q) catch { case _: Throwable => () })
    dropCaches()
    val fixtureKeysWarm = graft.queries.Pipeline.fixtureCacheKeys

    val sortedNames = SparkEntry.queries.keys.toSeq.sorted
    // Failure visibility (VERDICT r7 #3): a query that throws records
    // -1, never its fail-fast elapsed — r7 reported 0.06 s "times" for
    // queries dead at analysis and nobody noticed for two rounds.
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      val ok = try { materialize(name); true } catch {
        case t: Throwable =>
          System.err.println(s"[bench] FAILED $name — ${t.getClass.getSimpleName}: ${t.getMessage}")
          false
      }
      val t = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      dropCaches()
      t
    }
    // settle: a streaming probe's shutdown (checkpoint cleanup,
    // executor drain) must not bill the next timed query — absorb the
    // wake in an untimed materialization (the r6 run recorded q47 at
    // 1.7× its trend right after the mid-suite window)
    def settle(): Unit = {
      try materialize(sortedNames.head) catch { case _: Throwable => () }
      dropCaches()
    }
    val half = math.max(1, sortedNames.length / 2)
    // Opportunistic mid-suite stream windows (VERDICT r13 #1): instead
    // of three fixed slots that mostly landed on loaded stretches, the
    // suite POLLS ambient load at every query boundary and takes a rep
    // whenever the box is actually quiet, the session still lacks its
    // target of gate-passing windows, and the last rep was ≥45 s ago
    // (spacing keeps the added wall-clock bounded; ambient gating makes
    // the probe's own prior burst invisible to the decision).
    var lastStreamNs = System.nanoTime()
    val firstPass = sortedNames.zipWithIndex.map { case (name, i) =>
      if (i == half) { batchWindow(1); settle() }
      val sinceLast = (System.nanoTime() - lastStreamNs) / 1e9
      if (streamGatePassing < streamGateTarget && sinceLast >= 45.0 &&
          { val a = ambientNow(); a >= 0 && a < streamLoadGate } &&
          ioOk(io10Now())) {
        streamWindow(1)
        lastStreamNs = System.nanoTime()
        settle()
      }
      (name, timeOne(name), load1Now(), ambientNow())
    }
    // Load-robust per-query times (VERDICT r9 #2): r9's record showed
    // 14× phantom regressions from SINGLE-SHOT timings on a box whose
    // load1 hit 16.6 while every probe ran best-of-N. Re-time anything
    // slow-looking and keep the min — a min can only strip box noise
    // off a deterministic batch query, never manufacture speed. Cost:
    // one extra run of only the slow tail, not the whole suite.
    val retrySec = sys.env.getOrElse("SPARK_GRAFT_QUERY_RETRY_SEC", "2.0").toDouble
    val results = firstPass.map { case (name, t1, _, _) =>
      if (t1 >= retrySec) {
        val t2 = timeOne(name)
        name -> (if (t2 >= 0) math.min(t1, t2) else t1)
      } else name -> t1
    }
    val queryErrors = results.collect { case (n, t) if t < 0 => n }
    if (queryErrors.nonEmpty)
      System.err.println(s"[bench] ${queryErrors.size} queries FAILED: ${queryErrors.mkString(", ")}")

    // Fixture-clean attribution assert (VERDICT r13 #3): the timed
    // loop must not have built any fixture the warm pass missed — a
    // non-zero count here means some recorded time still charges a
    // fixture build.
    val fixtureKeysAfter = graft.queries.Pipeline.fixtureCacheKeys
    val fixtureBuildsDuringTimed = (fixtureKeysAfter -- fixtureKeysWarm).size
    if (fixtureBuildsDuringTimed > 0)
      System.err.println(s"[bench] WARNING: $fixtureBuildsDuringTimed fixture" +
        s" build(s) during the timed pass: ${(fixtureKeysAfter -- fixtureKeysWarm).mkString(", ")}")

    // Post-suite window: the load profile an hour into a driver session
    // differs from the first minute — keep whichever window was
    // quietest. Waits (half budget) for ambient-quiet first, then runs
    // enough reps to top the session up toward its gate-passing target
    // (min 2 — the second rep of a window is consistently warmer,
    // commit pipeline at steady state; max 6 bounds the added
    // wall-clock).
    waitForQuiet(waitQuietMs / 2)
    batchWindow(1)
    streamWindow(
      math.min(6, math.max(2, streamGateTarget - streamGatePassing)))
    // headline ambient-load provenance: captured HERE, right after the
    // last probe window — the multi-minute scale smoke below would
    // otherwise inflate it and make every clean window look contaminated
    val load1 = load1Now()

    // Core-count scaling probe (VERDICT r17 #2): fixed-size kernels big
    // enough that the c8/c32 seconds ratio measures the ENGINE's
    // parallelism, not per-job fixed cost — the signal the sf0.1 query
    // map cannot carry. Runs after the headline load1 capture so its
    // burst contaminates nothing. 0 reps disables.
    val scalingTimes: Seq[(String, Double)] =
      if (sys.env.getOrElse("SPARK_GRAFT_SCALING_PROBE", "1") != "1") Seq.empty
      else try ScalingProbe.run(spark)
      catch {
        case t: Throwable =>
          System.err.println(s"[bench] scaling probe FAILED — ${t.getClass.getSimpleName}: ${t.getMessage}")
          Seq.empty
      } finally dropCaches()
    scalingTimes.foreach { case (k, v) =>
      System.err.println(f"[bench] scaling probe $k%-12s $v%6.1f s") }
    val scalingJson =
      if (scalingTimes.isEmpty) ""
      else s""","scaling_probe":{"cpus":$cpus,${scalingTimes.map { case (k, v) =>
        "\"" + BenchLine.esc(k) + "\":" + BenchLine.f2(v) }.mkString(",")}}"""

    // Scale smoke (VERDICT r11 #5, r12 #1): sf0.1 is 17 MB — drive the
    // heavy pipeline operators through one batch each against a
    // multi-GB generated corpus, AFTER every probe window so its load
    // cannot contaminate a headline. 0 disables. Default 50M rows
    // (~7 GB of corpus+embeddings, every stage exercised incl. the
    // 10M-node graph family and the commit-protocol soak, ~14 min at
    // the 24g default heap); SPARK_GRAFT_SCALE_SMOKE_ROWS overrides
    // for local iteration (20M ≈ 6 min, 2M ≈ 2 min).
    val smokeRows =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_SMOKE_ROWS", "50000000").toLong
    val smokeTimes: Seq[(String, Double)] =
      if (smokeRows <= 0) Seq.empty
      else try ScaleSmoke.run(spark, smokeRows)
      catch {
        case t: Throwable =>
          System.err.println(s"[bench] scale smoke FAILED — ${t.getClass.getSimpleName}: ${t.getMessage}")
          Seq("smoke_error" -> -1.0)
      }
    def smokeJson(entries: Seq[(String, Double)]): String =
      BenchLine.smokeJson(smokeRows, entries)
    val scaleSmokeJson = smokeJson(smokeTimes)
    // the stdout line drops the count-assert echo fields (survivor /
    // node / row counts — they already failed the run loudly if wrong)
    // and the raw per-stage load1 (the gate's input — per-stage `_amb`
    // — stays; VERDICT r14 #1) so their chars buy more per-query slots
    // in the BenchLine.MaxLen parse window; the full set always lands
    // in bench_result.json
    // COMPACT smoke form: array-packed per stage ([sec, amb, io_stall]
    // + [io_rmb, io_wmb] on index builds — VERDICT r15 #1's fields in
    // the record without the suffixed-key overhead that blew the r16
    // first-dress line to 1.9k chars); count echoes and _load1 stay
    // file-only, `_error` sentinels and rows_per_sec ride as scalars
    val scaleSmokeJsonCompact = BenchLine.smokeCompactJson(smokeRows,
      smokeTimes.filterNot { case (k, _) =>
        k.endsWith("_survivors") || k.endsWith("_nodes") ||
          k.endsWith("_dangling") || k.endsWith("_conflict_loud") ||
          (k.endsWith("_rows") && !k.endsWith("_rows_per_sec")) ||
          // the hot-JVM audit leg + the race children's IO accounts
          // (r17): file-only — the record numbers are the forked
          // fresh-JVM stages and the race phase walls; the audit twins
          // stay in bench_result.json
          k.contains("_insuite") || k.contains("_child_")
      })

    // A failed smoke stage is a red signal the driver gate must see
    // (VERDICT r14 #4): race_error/smoke_error previously landed as -1
    // sentinels nothing gated on — a cross-process CAS regression would
    // not have turned anything red. They now count as query errors.
    val smokeErrors = BenchLine.smokeErrorKeys(smokeTimes)
    val allErrors = queryErrors ++ smokeErrors
    if (smokeErrors.nonEmpty)
      System.err.println(s"[bench] smoke stage error(s) counted as query errors: ${smokeErrors.mkString(", ")}")

    // the forked fresh-JVM samples compete for the bucketed headline
    // under the same gates (listed first: on equal rates the fresh-JVM
    // number is the representative one)
    val (ingestRate, ingestBestAmbient, ingestBestIo, ingestGated, ingestWinIdx) =
      gatedBest((forkedBatchSamples ++ bucketedSamples).toSeq,
        (forkedBatchAmbients ++ bucketedAmbients).toSeq,
        (forkedBatchIos ++ bucketedIos).toSeq, streamLoadGate)
    // index-derived provenance (ADVICE r16): the winner is forked iff
    // its index falls in the forked prefix of the concatenated list
    val ingestHeadlineForked = ingestWinIdx >= 0 &&
      ingestWinIdx < forkedBatchSamples.size
    val (ingestRateUnbucketed, ingestUnbAmbient, ingestUnbIo, ingestUnbGated, _) =
      gatedBest(unbucketedSamples.toSeq, unbucketedAmbients.toSeq,
        unbucketedIos.toSeq, streamLoadGate)
    val gatedHeadline = streamBestGated._2 > 0
    val (streamRows, streamRate) =
      if (gatedHeadline) streamBestGated else streamBestAbs
    val streamBestLoad1 =
      if (gatedHeadline) streamBestGatedLoad1 else streamBestAbsLoad1
    val streamHeadlineForked =
      if (gatedHeadline) streamBestGatedForked else streamBestAbsForked

    val head = BenchLine.Headline(sfDir = sfDir, load1 = load1,
      queryErrors = allErrors.size, ingestRate = ingestRate,
      ingestRateUnbucketed = ingestRateUnbucketed,
      streamRows = streamRows, streamRate = streamRate,
      streamBestLoad1 = streamBestLoad1)
    // per-rep sample arrays (run order: pre-suite window, mid-suite,
    // post-suite) + per-window loadavg — the contamination audit trail.
    // FILE ONLY: r6's stdout line carried these and overflowed the
    // driver's 2000-char tail window by ~50 chars → `parsed: null`, and
    // the round's (good) ingest numbers didn't count.
    // query_load1: the 1-min loadavg right after each query's FIRST
    // timing — the contamination audit for per-query times, same role
    // the per-window loads play for the probes.
    val queryLoads = firstPass.map { case (k, _, l, _) =>
      "\"" + BenchLine.esc(k) + "\":" + BenchLine.f2(l)
    }.mkString("{", ",", "}")
    // query_amb: the ambient estimate right after each query's first
    // timing — query_load1's gate-grade counterpart (r15): load1 after
    // a timed query mostly measures the query itself; ambient is the
    // contamination signal a drift adjudication should read
    val queryAmbs = firstPass.map { case (k, _, _, a) =>
      "\"" + BenchLine.esc(k) + "\":" + BenchLine.f2(a)
    }.mkString("{", ",", "}")
    val fixtureLog = graft.queries.Pipeline.fixtureBuildLog
    val fixtureJson =
      s""","fixture_build_sec":${BenchLine.f2(fixtureLog.map(_._2).sum)},"fixture_builds":${fixtureLog.map { case (k, v) =>
        "\"" + BenchLine.esc(k) + "\":" + BenchLine.f2(v) }.mkString("{", ",", "}")},"fixture_builds_during_timed":$fixtureBuildsDuringTimed"""
    // Batch-probe gating provenance (VERDICT r14 #3) — these travel on
    // the COMPACT line too: the gated headline is only auditable if the
    // per-sample ambients ride with it. The COMPACT variant caps the
    // ambient array at the last 12 samples (ADVICE r15: the array grows
    // linearly with SPARK_GRAFT_PROBE_REPS and was un-sheddable); the
    // full array always rides in bench_result.json.
    val allBucketed = forkedBatchSamples ++ bucketedSamples
    // gate-starvation is named EXPLICITLY (VERDICT r16 #1c): when every
    // sample of a class failed the ambient+io gates, the line says so
    // rather than letting a silently-ungated fallback number read as a
    // clean measurement
    val gateTail =
      s""","ingest_headline_gated":$ingestGated,"ingest_best_ambient":${BenchLine.f2(ingestBestAmbient)},"ingest_best_io10":${BenchLine.f1(ingestBestIo)},"ingest_headline_forked":$ingestHeadlineForked,"ingest_gate_starved":${!ingestGated},"ingest_streaming_headline_forked":$streamHeadlineForked,"stream_gate_starved":${!gatedHeadline},"ingest_max_rows_per_sec":${if (allBucketed.nonEmpty) allBucketed.max else -1L}"""
    val ingestGateJson =
      s""","ingest_ambient_samples":${bucketedAmbients.map(BenchLine.f2).mkString("[", ",", "]")},"ingest_io10_samples":${bucketedIos.map(BenchLine.f1).mkString("[", ",", "]")}$gateTail"""
    val ambCap = 12
    val ingestGateJsonCompact =
      if (bucketedAmbients.size <= ambCap) ingestGateJson
      else
        s""","ingest_ambient_samples":${bucketedAmbients.takeRight(ambCap).map(BenchLine.f2).mkString("[", ",", "]")},"ingest_io10_samples":${bucketedIos.takeRight(ambCap).map(BenchLine.f1).mkString("[", ",", "]")},"ingest_ambient_samples_capped":${bucketedAmbients.size - ambCap}$gateTail"""
    val samples =
      s""","probe_reps":$probeReps,"ingest_rows":$ingestRows,"ingest_forked_samples":${forkedBatchSamples.mkString("[", ",", "]")},"ingest_forked_ambient_samples":${forkedBatchAmbients.map(BenchLine.f2).mkString("[", ",", "]")},"ingest_forked_io10_samples":${forkedBatchIos.map(BenchLine.f1).mkString("[", ",", "]")},"ingest_forked_error":"${BenchLine.esc(forkedBatchError)}","ingest_forked_stream_samples":${forkedStreamSamples.map(f => f.map(BenchLine.f2).mkString("[", ",", "]")).mkString("[", ",", "]")},"ingest_forked_stream_error":"${BenchLine.esc(forkedStreamError)}","ingest_samples":${bucketedSamples.mkString("[", ",", "]")},"ingest_unbucketed_samples":${unbucketedSamples.mkString("[", ",", "]")},"ingest_unbucketed_ambient_samples":${unbucketedAmbients.map(BenchLine.f2).mkString("[", ",", "]")},"ingest_unbucketed_io10_samples":${unbucketedIos.map(BenchLine.f1).mkString("[", ",", "]")},"ingest_unbucketed_headline_gated":$ingestUnbGated,"ingest_unbucketed_best_ambient":${BenchLine.f2(ingestUnbAmbient)},"ingest_unbucketed_best_io10":${BenchLine.f1(ingestUnbIo)},"ingest_streaming_samples":${streamSamples.mkString("[", ",", "]")},"ingest_streaming_max_rows_per_sec":${streamBestAbs._2},"ingest_streaming_max_load1":${BenchLine.f3(streamBestAbsLoad1)},"ingest_streaming_headline_gated":$gatedHeadline,"ingest_streaming_best_ambient":${BenchLine.f3(streamBestGatedAmbient)},"load1_windows":${loadWindows.map(BenchLine.f3).mkString("[", ",", "]")},"stream_load1_windows":${streamLoads.map(BenchLine.f3).mkString("[", ",", "]")},"stream_ambient_windows":${streamAmbients.map(BenchLine.f3).mkString("[", ",", "]")},"stream_io10_windows":${streamIos.map(BenchLine.f1).mkString("[", ",", "]")},"ingest_streaming_best_io10":${BenchLine.f1(streamBestGatedIo)},"io_gate":${BenchLine.f1(ioGate)},"stream_gate_passing":$streamGatePassing,"stream_gate_target":$streamGateTarget,"stream_zero_committed_retries":$streamZeroRetries,"stream_stall_retries":$streamStallRetries,"wait_quiet_sec":${quietWaits.map(BenchLine.f3).mkString("[", ",", "]")},"stream_load_gate":${BenchLine.f2(streamLoadGate)},"query_retry_sec":${BenchLine.f2(retrySec)},"load1_post_smoke":${BenchLine.f3(load1Now())},"own_load_ewma":${BenchLine.f3(ownLoadNow())},"ambient_sampler_errors":${AmbientLoad.samplerErrors},"ambient_sampler_dead":${AmbientLoad.samplerDead},"smoke_stage_errors":${smokeErrors.map(k => "\"" + BenchLine.esc(k) + "\"").mkString("[", ",", "]")},"query_load1":$queryLoads,"query_amb":$queryAmbs$fixtureJson$ingestGateJson$scalingJson$scaleSmokeJson"""
    // Full-name, full-precision record → file (never truncated there).
    val full = BenchLine.render(head, results,
      results.map { case (k, v) => k -> v.toString }, samples)
    val fullMapWritten =
      try {
        Files.writeString(java.nio.file.Paths.get("bench_result.json"), full + "\n")
        true
      } catch { case _: Throwable => false }
    // Full-map binding (VERDICT r14 #5): 206+ query times at any JSON
    // precision cannot physically fit the driver's 2000-char parse
    // window alongside the headline + smoke fields, so the complete map
    // lives in bench_result.json — and the compact line carries that
    // file's sha256 (FIRST 8 BYTES = 16 hex chars, hence the _16
    // suffix; ADVICE r15) so "committed and in sync" is VERIFIABLE,
    // not hoped. If the file write FAILED, the line must not name
    // full-map bytes that were never persisted — it carries
    // full_map_write_failed instead (ADVICE r15).
    val fullSha = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest((full + "\n").getBytes("UTF-8"))
      d.take(8).map(b => f"$b%02x").mkString
    }
    val shaSegment =
      if (fullMapWritten) s""","full_map_sha256_16":"$fullSha""""
      else s""","full_map_write_failed":true"""
    // extras ordered most-important-first: the shed ladder drops from
    // the END (smoke summary first, gate provenance second, the
    // full-map binding last — it is what makes the rest auditable)
    val compact = BenchLine.compact(head, results,
      Seq(shaSegment, scalingJson, ingestGateJsonCompact, scaleSmokeJsonCompact))
    println(compact)
    System.out.flush()
    spark.stop()
    // Print again as the ABSOLUTE last output: spark.stop() can emit
    // shutdown chatter, and only the final 2000 chars of the log are
    // kept — the last occurrence is the one the driver parses.
    println(compact)
    System.out.flush()
  }
}
