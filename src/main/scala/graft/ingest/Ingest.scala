package graft.ingest

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.Commit

/** Job configuration, mirroring the reference CLI's twelve knobs and
  * their defaults (reference `core/CulvertCLI.java:36-47`) plus the
  * sink location (we write partitioned ORC/parquet directories instead
  * of a Hive-metastore ACID table — SURVEY.md §7.3 declared deviation).
  *
  * No-op flags are retained for CLI parity and documented as such:
  *  - `transactionBatchSize` amortized metastore txn allocation
  *    (`Culvert.java:229`) — no metastore here;
  *  - `streamingOptimizations` toggled hive-streaming internals
  *    (`Culvert.java:228`);
  *  - `autoFlush` toggled ORC memory-pressure flush (`Culvert.java:222`)
  *    — internal to Spark's ORC writer.
  */
final case class IngestConfig(
    outputPath: Option[String],
    db: String = "default",
    table: String = "culvert",
    commitAfterNRows: Int = 1000000,
    timeoutMs: Long = 60000,
    dynamicPartitioning: Boolean = false,
    streamingOptimizations: Boolean = true,
    transactionBatchSize: Int = 1,
    eventsPerSecond: Int = 10000,
    parallelism: Int = 1,
    streamLaunchDelayMs: Long = 0,
    autoFlush: Boolean = true,
    buckets: Int = 32,
    // Concurrent commit groups: the reference's p streams each hold an
    // independent Hive transaction and COMMIT CONCURRENTLY
    // (`Culvert.java:100-117` thread pool); one Structured Streaming
    // query serializes commits behind a single foreachBatch. With
    // commitGroups = g > 1 the run is split into g parallel queries of
    // p/g streams each — per-group checkpoints, group-tagged batch
    // files/markers (`bg<i>-<batch>-*`), disjoint static month ranges —
    // so write jobs and publish phases overlap like the reference's
    // threads. 1 = the single-query path.
    commitGroups: Int = 1,
    // First stream index of this run's streams (static-mode month =
    // streamIndexOffset + source partition id) — how a commit group
    // keeps the reference's month=streamIdx layout globally disjoint.
    streamIndexOffset: Int = 0,
    // Schema override (reference EP3: `Culvert.java:46-50,81-84` /
    // `Stream.java:73-75` let callers replace the default column list).
    // None = the default Yahoo-benchmark schema. The bucket key is the
    // FIRST column — mirroring the reference table's `clustered by
    // (user_id)` where user_id is the first default column.
    columns: Option[Seq[Gen.ColSpec]] = None,
    seed: Long = 123L,
    // Optional seen-ids Bloom filter maintained BY the commit loop
    // (graft.api.Dedup seen-filter family): when set, every commit
    // appends the batch's id-column values to the filter at this path
    // after the batch's files publish but BEFORE the marker lands —
    // so a crash mid-commit can only over-flag (false positives, which
    // the filter contract allows), never leave a committed batch's ids
    // unflagged (a false negative, the one thing the filter forbids).
    // The commit loop is the filter's natural single writer: in-process
    // commit groups serialize on the per-path filter lock, and a
    // cross-process racer fails the pointer CAS loudly.
    seenFilterPath: Option[String] = None,
    // Id column for the seen filter — must name a generated data
    // column; None = the first data column (the bucket/cluster key).
    seenFilterColumn: Option[String] = None,
    // Sizing for the filter's lazy first build (lifetime id count —
    // a Bloom filter never shrinks; overshooting costs bits, not
    // correctness). Spark's Bloom aggregate clamps one filter to 4M ids
    // and 64 Mi bits (spark.sql.optimizer.runtime.bloomFilter
    // .maxNumItems/maxNumBits), so the default builds that clamped
    // filter; past ~4M ids its fpp degrades.
    seenFilterExpectedItems: Long = 10000000L,
    // Write-path expectations (graft.api.Profiling.applyExpectations,
    // row-decidable rules only): rows violating any rule divert to
    // `quarantinePath/batch=<token>` WITH their rule names before the
    // commit marker lands (overwrite-by-token — replays rewrite their
    // own quarantine dir, never duplicate it); only clean rows publish
    // to the table, and only they count as committed. Ingestion never
    // silently drops: the quarantine is re-processable after a rule
    // fix. Empty = no tagging, zero overhead. Quarantined rows' ids
    // still enter the seen filter (over-flagging is allowed by its
    // contract; the engine DID see them).
    expectations: Seq[graft.api.Profiling.Check] = Nil,
    quarantinePath: Option[String] = None,
    // PII scrub wired INTO the commit path (VERDICT r14 #8, the q205
    // pass at the q161/q191 wiring point): each named generated STRING
    // column is redacted by graft.api.Curation.redactPii (all types,
    // staged-regex codegen projection) right after projection — BEFORE
    // the expectations split, so neither the published table nor the
    // quarantine ever persists un-redacted PII. Per-batch per-type
    // redaction counts land in a `_pii/<token>` ledger entry before
    // the commit marker (written once with a temp file and a rename;
    // a crash-replay's entry has the same deterministic content, so
    // replays are idempotent). Read back via [[Ingest.piiLedger]]. Cost when
    // enabled: the regexes inside the write; the counts ride the write
    // as observe metrics, no extra pass; empty = zero overhead.
    redactPiiColumns: Seq[String] = Nil,
    // Near-dup suppression wired INTO the commit path (VERDICT r15 #7,
    // the q161/q209 wiring point): name a generated STRING column and
    // every commit drops (a) within-batch rows whose min-shingle
    // fingerprint (graft.api.Dedup.fingerprintStreaming's sketch)
    // repeats an earlier row's — keep-first by row value, deterministic
    // — and (b) rows whose fingerprint a PRIOR commit already admitted,
    // consulted from a persisted seen-filter of fingerprints at
    // `<outputPath>/_neardup_filter`. Replay-exact by construction:
    // each commit writes a `_dedup/<token>` ledger entry recording the
    // filter VERSION it consulted plus its suppression counts BEFORE
    // appending its own fingerprints, so a crash-replay re-reads the
    // pinned version and reproduces the identical decision (same
    // Bloom-filter semantics as the seen filter: a false positive
    // over-suppresses at the configured fpp, never under; fingerprints
    // are computed on PRE-scrub generated content). Suppressed rows
    // never publish, never quarantine, and do not count as committed;
    // their ids still enter the seen-ids filter (the engine saw them).
    suppressNearDups: Option[String] = None,
    // Sizing for the near-dup FINGERPRINT filter's lazy first build —
    // deliberately its own knob (ADVICE r16): markSeen serializes the
    // whole pinned filter into every commit's plan as literals, a
    // per-commit cost proportional to FILTER size, not batch size, so
    // inheriting seenFilterExpectedItems' 10M default (clamped to 64 Mi
    // bits by Spark's Bloom aggregate: 8 MiB of plan literals per
    // commit) taxed the hot path ~7× for tables whose
    // distinct-content count is nowhere near their id count. Same
    // Bloom contract: overshooting costs bits, undershooting degrades
    // fpp (over-suppression), never correctness.
    nearDupFilterExpectedItems: Long = 1000000L,
    format: String = "orc",
    // lz4 over Spark 4's zstd default: ~1.7× write throughput for a
    // synthetic-load sink where compression ratio is not the point
    // (declared deviation — Hive-side ORC would default zlib)
    compression: String = "lz4",
    name: String = "culvert")

/** Outcome of one run: committed-rows accounting and the two summary
  * lines in the reference's exact format (`Culvert.java:169-171`). */
final case class IngestResult(
    rowsCommitted: Long,
    commits: Long,
    throughputRowsPerSec: Long,
    summaryLines: Seq[String])

/** The streaming ingest engine: the reference's entire dataflow
  * (generate → serialize → partitioned transactional write →
  * commit-every-N → throughput report, `Stream.java:168-215` +
  * `Culvert.java:100-172`) re-expressed on Structured Streaming.
  *
  * Spark mapping (SURVEY.md §2.1):
  *  - p parallel writer threads → `rate` source with `numPartitions = p`;
  *    one source partition == one reference stream.
  *  - per-row sleep throttle → exact `rowsPerSecond = eps × p` (the
  *    reference's `eps > 1000 ⇒ unthrottled` sleep artifact is not
  *    reproduced; rates are exact).
  *  - commit-every-N-rows transaction → one micro-batch == one atomic
  *    commit: `foreachBatch` appends a complete file-set per batch, and
  *    the trigger interval is sized so a batch carries ≈ N rows.
  *  - static partition routing (`year=2018, month=streamIdx`,
  *    `Culvert.java:182`) → literal year + `spark_partition_id()`.
  *  - dynamic routing (`Stream.java:77-80`) → generated year/month
  *    columns + native dynamic partition insert.
  *  - `clustered by (user_id) into 32 buckets` (`README.md:62-63`) →
  *    repartition on the user_id generator expression BEFORE column
  *    generation, yielding 32 hash-disjoint files per partition
  *    directory while shuffling only the 8-byte row index.
  *  - committed-rows-only accounting (`Stream.java:194-197`): rows of a
  *    batch count only after its write completes; rows still in flight
  *    when the timeout fires are never counted — same tail-loss
  *    semantics as the reference's uncommitted final transaction.
  *    Restart semantics: commits are idempotent — each batch stages
  *    under `_staging/<batchId>`, publishes, then writes a
  *    `_commits/<batchId>` marker; a replayed batch with a marker is
  *    skipped (see `commitBatch`), so a restarted query does not
  *    duplicate rows.
  *
  * At cluster scale nothing here changes: the rate source partitions
  * spread over executors, generation is codegen'd scalar work, and the
  * only shuffle is the optional bucket repartition (hash exchange on
  * user_id — the price the reference's DDL also pays inside Hive).
  */
object Ingest {

  /** Per-phase wall accounting for [[commitBatch]] (r18, VERDICT #6:
    * attribute the streaming-vs-batch throughput gap). Cheap atomics —
    * a couple of nanoTime reads per commit at ~1.5 commits/s — read by
    * graft.tools.ProbeIngest to print per-phase deltas per rep. Not a
    * result cache: pure telemetry. */
  private[graft] object CommitPhases {
    import java.util.concurrent.atomic.AtomicLong
    val commits = new AtomicLong
    val staleGlobNs = new AtomicLong
    val dedupNs = new AtomicLong
    val countNs = new AtomicLong
    val stageNs = new AtomicLong
    val publishNs = new AtomicLong
    val sideNs = new AtomicLong
    val markerNs = new AtomicLong
    def all: Seq[(String, AtomicLong)] = Seq(
      "commits" -> commits, "stale_glob" -> staleGlobNs, "dedup" -> dedupNs,
      "count" -> countNs, "stage_write" -> stageNs, "publish" -> publishNs,
      "side" -> sideNs, "marker" -> markerNs)
    def snap(): Map[String, Long] = all.map { case (k, v) => k -> v.get }.toMap
    private[ingest] def timed[A](acc: AtomicLong)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally acc.addAndGet(System.nanoTime() - t0)
    }
  }

  /** The run's generated schema: the caller's override or the default
    * Yahoo-benchmark columns (`Stream.java:151-165`). */
  private def dataColumns(cfg: IngestConfig): Seq[Gen.ColSpec] =
    cfg.columns.getOrElse(Gen.defaultColumns)

  /** The unbounded raw index frame: rate source emitting (value, __pid).
    * The stream index (`__pid`, the static-mode month) is captured HERE,
    * before any exchange moves rows off their source partition. */
  def rawStream(spark: SparkSession, cfg: IngestConfig): DataFrame = {
    // stream-launch stagger (`Culvert.java:105-108`: delay × p of ramp
    // before all streams run) → the rate source's rampUpTime, its
    // native gradual-start knob
    val rampSec = cfg.streamLaunchDelayMs * cfg.parallelism / 1000
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", cfg.eventsPerSecond.toLong * cfg.parallelism)
      .option("rampUpTime", s"${rampSec}s")
      .option("numPartitions", cfg.parallelism)
      .load()
      .select(col("value"), spark_partition_id().as("__pid"))
  }

  private def rawBatch(spark: SparkSession, cfg: IngestConfig, numRows: Long): DataFrame =
    spark.range(0, numRows, 1, cfg.parallelism)
      .select(col("id").as("value"), spark_partition_id().as("__pid"))

  /** Bucket-route then generate. Because every column is a pure
    * function of the row index, the bucket exchange shuffles ONLY the
    * 8-byte index (plus the stream id) — ~20× less shuffle volume than
    * repartitioning fully generated ~150-byte rows. The bucket id is
    * `pmod(hash(user_id_expr), buckets)` computed pre-shuffle, so
    * post-shuffle tasks are hash-disjoint in user_id exactly as if the
    * generated column itself had been the key (the `clustered by
    * (user_id) into 32 buckets` contract, `README.md:62-63`; murmur3
    * bucket hash instead of Hive's — declared deviation).
    *
    * Static mode routes with an IDENTITY partitioner on
    * (streamIdx × buckets + bucket): each task then holds exactly ONE
    * (partition-dir, bucket) combination, so the file writer streams a
    * single file with no per-task partition sort and each `month=i`
    * directory gets exactly `buckets` hash-disjoint files. A plain
    * `repartition(buckets, key)` leaves every task writing into all p
    * partition dirs (task-local sort + p open writers + p×buckets
    * files) — measured ~2.4× slower. Dynamic mode (50×12 possible
    * dirs) keeps the plain bucket hash exchange. */
  def routeAndProject(raw: DataFrame, cfg: IngestConfig): DataFrame = {
    val userExpr = Gen.expr(dataColumns(cfg).head, cfg.seed, col("value"))
    if (cfg.buckets <= 0) projected(raw, cfg)
    else if (cfg.dynamicPartitioning)
      projected(raw.repartition(cfg.buckets, userExpr), cfg)
    else {
      val b = cfg.buckets
      val parts = cfg.parallelism * b
      // Identity routing THROUGH the native UnsafeRow exchange: salt(t)
      // is an int whose Spark partitioning hash (murmur3 seed 42, then
      // pmod) lands on partition t, so `repartition(parts, salt(k))`
      // places key k exactly on partition k — one (partition-dir,
      // bucket) combination per task, same layout guarantee as a custom
      // identity Partitioner, but with zero RDD round-trip: no
      // Row-object boxing, no Java-serialized tuple shuffle, no
      // InternalRow re-conversion (~2.3 s of a 5M-row probe). Finding
      // the salts is a driver-side coupon-collector loop over
      // murmur3_32 — O(parts·ln parts) integer hashes, microseconds.
      val salt = new Array[Int](parts)
      val seen = new Array[Boolean](parts)
      var x = 0
      var remaining = parts
      while (remaining > 0) {
        val t = math.floorMod(
          org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(x, 42), parts)
        if (!seen(t)) { seen(t) = true; salt(t) = x; remaining -= 1 }
        x += 1
      }
      val keyed = raw.select(
        (col("__pid").cast("long") * b + pmod(hash(userExpr), lit(b)))
          .cast("int").as("k"),
        col("value"))
      // Out-of-range k (a caller-supplied frame with __pid outside
      // [0, parallelism)) would make element_at yield NULL (non-ANSI)
      // and silently hash-route the row to an arbitrary partition,
      // quietly breaking the one-bucket-per-file layout — fail loudly
      // instead, like the custom Partitioner this exchange replaced
      // (ADVICE r3).
      val saltOrFail = when(col("k").between(0, parts - 1),
          element_at(lit(salt), col("k") + 1))
        .otherwise(raise_error(concat(
          lit(s"bucket route key out of [0, $parts): __pid exceeds parallelism=${cfg.parallelism}, k="),
          col("k"))).cast("int"))
      val indexed = keyed
        .withColumn("__salt", saltOrFail)
        .repartition(parts, col("__salt"))
        .select(col("value"), expr(s"k div $b").cast("int").as("__pid"))
      projected(indexed, cfg)
    }
  }

  /** Fully generated frame (no bucket routing) — console sink + tests. */
  def streamingFrame(spark: SparkSession, cfg: IngestConfig): DataFrame =
    projected(rawStream(spark, cfg), cfg)

  /** Bounded batch frame over `spark.range` — same generators, same
    * routing; used by tests and the bench's throughput probe. */
  def batchFrame(spark: SparkSession, cfg: IngestConfig, numRows: Long): DataFrame =
    projected(rawBatch(spark, cfg, numRows), cfg)

  private def projected(indexed: DataFrame, cfg: IngestConfig): DataFrame = {
    val row = col("value")
    if (cfg.dynamicPartitioning) {
      // dynamic: year/month are generator columns over the same row
      // index, appended to the schema (`Stream.java:77-80`); the sink
      // routes rows by value.
      val specs = dataColumns(cfg) ++ Gen.partitionColumns
      indexed.select(specs.map(s => Gen.expr(s, cfg.seed, row).as(s.name)): _*)
    } else {
      // static: every stream i writes (year=2018, month=i) — month is
      // the stream index 0..p-1, NOT a calendar month (the reference's
      // observable layout, `Culvert.java:182`). A commit group offsets
      // its local partition ids into the global stream-index space.
      indexed.select(
        dataColumns(cfg).map(s => Gen.expr(s, cfg.seed, row).as(s.name)) ++
          Seq(lit(2018).as("year"),
            (col("__pid") + lit(cfg.streamIndexOffset)).as("month")): _*)
    }
  }

  /** One transactional commit: stage the batch under
    * `_staging/<batchId>`, publish files into the final partition
    * layout with batchId-prefixed names, then write the commit marker
    * `_commits/<batchId>`. The marker is the commit point:
    *  - a replayed batch whose marker exists is SKIPPED (idempotent
    *    restart — no duplicate rows, matching hive-streaming's
    *    transaction semantics rather than blind at-least-once append);
    *  - a replay without a marker overwrites its own staging dir and
    *    publishes again. The only residual window is a crash DURING
    *    publish (some files moved, marker absent) — the same
    *    multi-file-publish window every non-atomic filesystem commit
    *    protocol has; readers honoring markers see committed data only.
    * Underscore-prefixed dirs (`_staging`, `_commits`, `_checkpoint`)
    * are hidden from Spark/Hadoop readers.
    * Returns the rows committed (0 if the batch was already committed). */
  private[graft] def commitBatch(
      cfg: IngestConfig, path: String, batch: DataFrame, batchId: Long,
      groupTag: Option[String] = None): Long = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    // A commit group tags its batches (`g1-42`) so ids from parallel
    // queries — each with its own 0-based micro-batch counter — can
    // never collide in file names or markers.
    val token = groupTag.fold(batchId.toString)(g => s"$g-$batchId")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(s"$path/_commits/$token")
    if (fs.exists(marker)) return 0L
    CommitPhases.commits.incrementAndGet()
    // A prior attempt may have crashed mid-publish (some files renamed,
    // marker absent): delete any half-published b<token>-* files first
    // so the replay cannot leave duplicates visible to plain directory
    // readers. Partition layout is always <year=Y>/<month=M>, two levels.
    CommitPhases.timed(CommitPhases.staleGlobNs) {
      val stale = fs.globStatus(new Path(s"$path/*/*/b$token-*"))
      if (stale != null) stale.foreach(st => fs.delete(st.getPath, false))
    }
    // Near-dup suppression FIRST (cfg.suppressNearDups): rows a prior
    // commit (or an earlier row of this batch) already admitted under
    // the same content fingerprint are dropped before anything else
    // sees them — they neither publish, nor quarantine, nor count.
    val dedupInfo =
      if (cfg.suppressNearDups.isEmpty) None
      else Some(CommitPhases.timed(CommitPhases.dedupNs) {
        suppressNearDupRows(cfg, path, token, batch, fs) })
    try {
    // PII scrub FIRST (policy is absolute: quarantined rows persist
    // too, so they must be as redacted as published ones), then the
    // expectations split on the scrubbed frame.
    //
    // Every count this commit records rides a write it runs anyway, as
    // observe metrics. The batch size `n` and the per-type PII match
    // counts are observed on the routed, scrubbed frame: above the
    // routing exchange, in the write's result stage, where a re-run map
    // task cannot count twice. So the `_pii` totals come from the
    // execution that wrote the bytes and no longer rely on regeneration
    // being deterministic. With expectations on, the quarantine write
    // runs this subtree first and fires the observation; its metrics
    // node sits below the quarantine split, so it counts the whole
    // batch (the staged slice is a second execution of the same rows:
    // the split itself, as ever, relies on Gen being deterministic per
    // row index). An empty micro-batch (a stream's warm-up trigger) can
    // complete with no metrics row at all — that is genuinely 0 rows.
    val obs = org.apache.spark.sql.Observation()
    val (redacted, piiAliases) =
      redactWithCounts(routeAndProject(dedupInfo.fold(batch)(_.kept), cfg), cfg)
    val scrubbed = redacted
      .observe(obs, count(lit(1)).as("n"),
        piiAliases.map { case (a, _) => sum(col(a)).as(a) }: _*)
      .drop(piiAliases.map(_._1): _*)
    // Expectations split: tag the PROJECTED rows, land the violators
    // in the quarantine (their own token dir, overwritten on replay)
    // before anything publishes, and stage only the clean slice. The
    // quarantined count is observed on the frame that write consumes.
    val (toStage, obsQ) =
      if (cfg.expectations.isEmpty) (scrubbed, None)
      else {
        val qp = cfg.quarantinePath.getOrElse(sys.error(
          "ingest expectations configured without quarantinePath"))
        val tagged = graft.api.Profiling
          .applyExpectations(scrubbed, cfg.expectations)
        val oq = org.apache.spark.sql.Observation()
        tagged.filter(col("quarantined"))
          .withColumn("violations", array_join(col("violations"), ","))
          .drop("quarantined")
          .withColumn("batch_token", lit(token))
          .observe(oq, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$qp/batch=$token")
        (tagged.filter(!col("quarantined")).drop("violations", "quarantined"),
          Some(oq))
      }
    val staging = new Path(s"$path/_staging/$token")
    CommitPhases.timed(CommitPhases.stageNs) {
      toStage
        .write.mode("overwrite").format(cfg.format)
        .option("compression", cfg.compression)
        .options(orcWriteOptions(cfg))
        .partitionBy("year", "month")
        .save(staging.toString)
    }
    val (n, nQuarantined, piiCounts) = CommitPhases.timed(CommitPhases.countNs) {
      val m = observed(obs)
      (m("n"),
        obsQ.fold(0L)(observed(_)("n")),
        graft.api.Curation.PiiPatterns.map { case (t, _, _) =>
          t -> piiAliases.collect { case (a, `t`) => m(a) }.sum })
    }
    val nCommitted = n - nQuarantined
    // a failed publish rename fails the commit; the replay scrubs and
    // re-publishes
    CommitPhases.timed(CommitPhases.publishNs) {
      Commit.publish(fs, staging, new Path(path), token, bucketSuffixed(cfg, _))
    }
    // Seen-filter append BEFORE the marker: if the process dies between
    // the two, the replayed batch re-appends the same ids (bloom merge
    // of identical ids is idempotent) — committed ids can never end up
    // unflagged. An already-committed replay (marker exists) returned
    // above, so ids append exactly once per logical commit. Empty
    // batches (a stream's warm-up triggers) have no ids to record —
    // but the guard is on the RAW batch size, not the kept count: a
    // fully near-dup-suppressed batch still SAW its ids, and the
    // seen-filter contract ("their ids still enter the filter")
    // forbids skipping them (review r16).
    val rawN = dedupInfo.fold(n)(i => i.nWithin + i.nSeen + i.nKept)
    CommitPhases.timed(CommitPhases.sideNs) {
    if (rawN > 0) cfg.seenFilterPath.foreach(fp => appendSeenIds(cfg, fp, batch))
    // PII ledger entry BEFORE the marker (same ordering argument as
    // the seen filter: a crash between the two leaves the entry or
    // none, never a torn file; a replay's entry has the same
    // deterministic content, so an existing one stands; a committed
    // batch can never lack its redaction accounting)
    if (cfg.redactPiiColumns.nonEmpty)
      Commit.writeAtomically(fs, new Path(s"$path/_pii/$token"),
        piiCounts.map { case (t, c) => s"$t=$c" }.mkString("\n").getBytes("UTF-8"))
    // (The dedup ledger + fingerprint-filter append moved INTO the
    // suppression critical section — before staging — in r17: see
    // suppressNearDupRows. The ledger still pins the consulted filter
    // version before anything can crash, and the append still precedes
    // the marker, so the replay-exactness argument is unchanged.)
    // Bucket-layout metadata, once per table (read side: Tables
    // .committedViewBucketed — VERDICT r16 #3): create-if-absent is
    // race-benign (every writer of this table writes identical
    // content; a loser's create just reports false). The existence
    // check keeps the steady state to one stat per commit.
    val specFile = new Path(s"$path/_bucketspec")
    if (cfg.buckets > 0 && !fs.exists(specFile))
      Commit.createExclusive(fs, specFile,
        s"buckets=${cfg.buckets}\ncolumn=${dataColumns(cfg).head.name}"
          .getBytes("UTF-8"))
    }
    CommitPhases.timed(CommitPhases.markerNs) {
      Commit.createExclusive(fs, marker)
    }
    nCommitted
    } finally dedupInfo.foreach(_.release.unpersist(blocking = false))
  }

  private val partNumberRe = "part-(\\d+)".r

  /** Published-name bucket tag (VERDICT r16 #3 — the read-side half of
    * the `clustered by (user_id) into N buckets` contract): the write
    * routes rows so a staged file's part number k satisfies
    * k % buckets == pmod(hash(user_id), buckets) for every row in it
    * (static mode: k = streamIdx·b + bucket via the salt exchange;
    * dynamic mode: k = the bucket hash partition id directly), so the
    * publish rename appends Spark's `_NNNNN` bucket-file suffix —
    * letting `Tables.committedViewBucketed` hand the layout to the
    * planner as a real BucketSpec and repeated joins/aggregations on
    * the cluster key skip their Exchange entirely. Unbucketed sinks
    * and unparseable names pass through unchanged. */
  private[graft] def bucketSuffixed(cfg: IngestConfig, name: String): String =
    if (cfg.buckets <= 0) name
    else partNumberRe.findFirstMatchIn(name) match {
      case Some(m) =>
        val bucket = m.group(1).toInt % cfg.buckets
        val dot = name.indexOf('.')
        if (dot < 0) f"${name}_$bucket%05d"
        else f"${name.substring(0, dot)}_$bucket%05d${name.substring(dot)}"
      case None => name
    }

  /** One commit's near-dup suppression decision: the raw rows kept,
    * their fingerprints (for the post-publish filter append), the
    * consulted filter version, and the accounting triple. */
  private final case class DedupDecision(
      kept: DataFrame, keptFps: DataFrame, basedOn: Option[String],
      nWithin: Long, nSeen: Long, nKept: Long,
      // the commit-sized checkpoint both frames derive from —
      // unpersisted by commitBatch after the marker lands
      release: DataFrame)

  /** Per-filter-path suppression locks: concurrent commit groups are
    * parallel streaming queries in THIS process, so a JVM lock is the
    * natural serialization point for the consult→decide→ledger→append
    * critical section (VERDICT r16 #7). Cross-process multi-writer
    * suppression stays out of contract (the commit loop is a table's
    * single writer; the seen-filter `_lock`/CAS machinery makes a
    * cross-process racer fail loudly rather than silently lose ids). */
  private val suppressorLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The commit-path near-dup suppressor (cfg.suppressNearDups): one
    * min-shingle fingerprint per row over the named generated column
    * (computed from the row value exactly like [[appendSeenIds]] —
    * PRE-scrub content), keep-first within the batch (min row value
    * per fingerprint — deterministic under replay), then a codegen'd
    * Bloom probe against the PINNED version of the fingerprint filter
    * for cross-batch suppression. The accounting is observed on the
    * checkpoint's own job, and the kept frame reads that checkpoint, so
    * the `_dedup` counts describe exactly the rows the commit stages.
    *
    * CONCURRENT COMMIT GROUPS (VERDICT r16 #7): the version consult,
    * the accounting, the `_dedup` ledger write, and the fingerprint
    * append run as ONE per-filter-path critical section — so two
    * groups can never both pin the same filter version and each admit
    * the same content (the second consulter always sees the first's
    * fingerprints). The expensive work stays OUTSIDE the lock: the
    * fingerprint + keep-first window materializes first (version-
    * independent), and the staged write + publish (the commit's bulk)
    * happen after release — groups serialize only a checkpoint-read
    * pass plus a Bloom build. Ordering vs the old post-publish append:
    * ledger + append now precede staging, which changes nothing in the
    * replay argument (ledger pins before anything can crash; append
    * precedes the marker, so committed fingerprints are never
    * unflagged) and adds one benign case — a batch that fails its
    * publish and is never replayed leaves its fingerprints in the
    * filter, over-suppressing later copies of that content, which the
    * Bloom contract explicitly allows (false positives, never false
    * negatives). Replays re-append their kept fingerprints (a merge of
    * identical bits — idempotent) because a crash between append and
    * publish is indistinguishable from one before the append. */
  private def suppressNearDupRows(cfg: IngestConfig, path: String,
                                  token: String, batch: DataFrame,
                                  fs: org.apache.hadoop.fs.FileSystem)
      : DedupDecision = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val colName = cfg.suppressNearDups.get
    val spec = dataColumns(cfg).find(_.name == colName).getOrElse(sys.error(
      s"suppressNearDups column '$colName' is not a generated data column"))
    val fpPath = s"$path/_neardup_filter"
    val fp = graft.functions.TextFunctions.minShingleHash(
      lower(Gen.expr(spec, cfg.seed, col("value"))), 3)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp")).orderBy(col("value"))
    // Phase A — version-INDEPENDENT, outside the lock: fingerprint +
    // keep-first rank, materialized once (the commit's expensive
    // suppression pass; without a checkpoint every downstream reader
    // re-ran the window shuffle — measured 3.5× input-rate cost).
    val ranked = batch.withColumn("__fp", fp)
      .withColumn("__rn", row_number().over(w))
      .localCheckpoint()
    try {
      // Phase B — the critical section: consult, flag, account, pin,
      // append. Serialized per filter path across commit groups.
      suppressorLocks.computeIfAbsent(fpPath, _ => new Object).synchronized {
        // replay: a prior attempt's ledger pins the filter version it
        // consulted — re-consult THAT state, not whatever is current
        // now (our own crashed append may already have advanced it)
        val ledger = new Path(s"$path/_dedup/$token")
        val replayed = fs.exists(ledger)
        val basedOn: Option[String] =
          if (replayed) {
            val pinned = readLedger(fs, ledger).get("basedOnVersion")
            // the ledger is written atomically, so a crash cannot leave
            // one without its pin line; a file that has none was written
            // or edited outside the protocol. Treating it as "consulted
            // no filter" would silently disable cross-batch suppression
            // for the replay and re-admit duplicates forever (review
            // r16) — fail loudly instead
            if (pinned.isEmpty) throw new IllegalStateException(
              s"_dedup ledger $ledger exists but carries no basedOnVersion " +
                "line (not written by the commit protocol) — delete it to " +
                "let the replay re-consult the current filter state")
            pinned.filter(_ != "none")
          } else graft.api.Dedup.seenFilterVersion(spark, fpPath)
        // flagged reads the CHECKPOINTED rank — one cheap codegen'd
        // Bloom pass; its own checkpoint is what the staged write
        // consumes, and the accounting rides that checkpoint's job as
        // observe metrics. Released by commitBatch after the marker
        // lands.
        val acc = org.apache.spark.sql.Observation()
        val flagged = (basedOn match {
          case Some(v) => graft.api.Dedup.markSeen(spark, ranked, "__fp",
            fpPath, "__seen", version = Some(v))
          case None => ranked.withColumn("__seen", lit(false))
        }).observe(acc,
            sum(when(col("__rn") > 1, 1L).otherwise(0L)).as("w"),
            sum(when(col("__rn") === 1 && col("__seen"), 1L).otherwise(0L)).as("s"),
            count(lit(1)).as("t"))
          .localCheckpoint()
        try {
          val m = observed(acc)
          val (nWithin, nSeen, total) = (m("w"), m("s"), m("t"))
          val keptFlagged = flagged.filter(col("__rn") === 1 && !col("__seen"))
          val keptFps = keptFlagged.select(col("__fp").as("fp"))
          val nKept = total - nWithin - nSeen
          // ledger BEFORE the append (the pin must exist before the
          // filter can move past it). A replay keeps the ledger it read
          // its pin from, so no crash of the replay can lose the pin
          if (!replayed)
            Commit.writeAtomically(fs, ledger,
              (s"basedOnVersion=${basedOn.getOrElse("none")}\n" +
                s"suppressed_within=$nWithin\n" +
                s"suppressed_seen=$nSeen\n" +
                s"kept=$nKept").getBytes("UTF-8"))
          if (nKept > 0)
            graft.api.Dedup.buildOrAppendSeenFilter(keptFps, "fp", fpPath,
              expectedItems = cfg.nearDupFilterExpectedItems)
          DedupDecision(
            kept = keptFlagged.drop("__fp", "__rn", "__seen"),
            keptFps = keptFps,
            basedOn = basedOn, nWithin = nWithin, nSeen = nSeen,
            nKept = nKept, release = flagged)
        } catch {
          // an accounting/append failure must not leak the commit-sized
          // checkpoint: commitBatch's finally only sees a RETURNED
          // decision
          case t: Throwable =>
            flagged.unpersist(blocking = false); throw t
        }
      }
    } finally ranked.unpersist(blocking = false)
  }

  /** The `_dedup` suppression ledger of an ingest table: one row per
    * committed batch — (batch_token, based_on_version,
    * suppressed_within, suppressed_seen, kept). Written before the
    * fingerprint-filter append and the marker; metadata-sized, read
    * driver-side like [[piiLedger]]. Malformed lines skip loudly. */
  def dedupLedger(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val rows = readLedgerDir(spark, path, "_dedup").flatMap { case (token, kv) =>
      val parsed = for {
        v <- kv.get("basedOnVersion")
        w <- kv.get("suppressed_within").flatMap(_.toLongOption)
        s <- kv.get("suppressed_seen").flatMap(_.toLongOption)
        k <- kv.get("kept").flatMap(_.toLongOption)
      } yield (token, v, w, s, k)
      if (parsed.isEmpty)
        System.err.println(s"[ingest] malformed _dedup ledger entry" +
          s" $path/_dedup/$token — skipped")
      parsed
    }
    rows.toDF("batch_token", "based_on_version", "suppressed_within",
      "suppressed_seen", "kept")
  }

  /** The commit-path PII scrub (cfg.redactPiiColumns): redact each
    * named column with [[graft.api.Curation.redactPii]], keeping its
    * per-row match count of each type as column `__pii_<col>_<type>`.
    * Returns the frame and its (count column, PII type) pairs; the
    * caller observes their sums and drops them, so the staged schema
    * is identical to the un-redacted path's. */
  private def redactWithCounts(projected: DataFrame, cfg: IngestConfig)
      : (DataFrame, Seq[(String, String)]) = {
    val types = graft.api.Curation.PiiPatterns.map(_._1)
    val redacted = cfg.redactPiiColumns.foldLeft(projected) { (d, c) =>
      types.foldLeft(graft.api.Curation.redactPii(d, c))((d1, t) =>
        d1.withColumnRenamed(s"n_$t", s"__pii_${c}_$t"))
    }
    (redacted, for (c <- cfg.redactPiiColumns; t <- types) yield (s"__pii_${c}_$t", t))
  }

  /** An observation's metrics as longs; a metric with no value (no
    * metrics row, or a sum over zero rows) reads 0. */
  private def observed(o: org.apache.spark.sql.Observation): String => Long = {
    val m = o.get
    k => m.get(k) match {
      case Some(v: Long) => v
      case _ => 0L
    }
  }

  /** The `_pii` redaction ledger of an ingest table: one row per
    * (committed batch, PII type) — (batch_token, pii_type,
    * n_redacted). Ledger entries are written before their commit
    * marker; tokens with no entry predate the redaction config (or it
    * was off). Metadata-sized: bytes per commit, read driver-side like
    * [[graft.core.Tables.liveTokens]]. */
  def piiLedger(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val rows = readLedgerDir(spark, path, "_pii").flatMap { case (token, kv) =>
      kv.flatMap { case (t, c) =>
        c.toLongOption match {
          case Some(n) => Some((token, t, n))
          case None =>
            System.err.println(s"[ingest] non-numeric _pii ledger count in" +
              s" $path/_pii/$token: '$t=$c' — skipped")
            None
        }
      }
    }
    rows.toDF("batch_token", "pii_type", "n_redacted")
  }

  /** Driver-side read of a `<path>/<sub>` ledger dir: one (fileName,
    * [[readLedger]]) per ledger file whose name passes `keep` (read
    * only those); hidden temp names are not entries. */
  private[ingest] def readLedgerDir(spark: SparkSession, path: String, sub: String,
                                    keep: String => Boolean = _ => true)
      : Seq[(String, Map[String, String])] = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(s"$path/$sub")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !Commit.hidden(n) && keep(n)
      }
      .map(st => (st.getPath.getName, readLedger(fs, st.getPath)))
  }

  /** One ledger file as key→value: '='-separated lines, malformed lines
    * skipped with a loud note rather than failing the whole read
    * (ADVICE r15; shared by every `_pii` and `_dedup` reader so the
    * tolerance is implemented once — review r16). */
  private def readLedger(fs: org.apache.hadoop.fs.FileSystem,
                         file: org.apache.hadoop.fs.Path): Map[String, String] = {
    val in = fs.open(file)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    lines.filter(_.nonEmpty).flatMap { l =>
      val p = l.split('=')
      if (p.length == 2) Some(p(0) -> p(1))
      else {
        System.err.println(s"[ingest] malformed ledger line in $file: '$l' — skipped")
        None
      }
    }.toMap
  }

  /** Upfront validation of ingest expectations — a bad rule column or
    * a missing quarantine path fails at startup, not mid-commit. */
  private def validateExpectations(cfg: IngestConfig): Unit =
    if (cfg.expectations.nonEmpty) {
      require(cfg.quarantinePath.isDefined,
        "ingest expectations configured without quarantinePath")
      import graft.api.Profiling.Check._
      val have = (dataColumns(cfg) ++ Gen.partitionColumns).map(_.name).toSet
      cfg.expectations.foreach { c =>
        val colName = c match {
          case NotNull(x, _) => x
          case InSet(x, _) => x
          case InRange(x, _, _) => x
          case other => sys.error(
            s"ingest expectations support row-decidable rules, got $other")
        }
        require(have.contains(colName),
          s"expectation column '$colName' is not a generated column " +
            s"(have: ${have.mkString(", ")})")
      }
    }

  /** Upfront validation of the commit-path PII scrub — a typo'd or
    * non-string column fails at startup, not mid-commit. */
  private def validateRedactPii(cfg: IngestConfig): Unit =
    if (cfg.redactPiiColumns.nonEmpty) {
      import Gen.ColType._
      val stringTypes: Set[Gen.ColType] = Set(StringName, StringDict,
        StringIp, StringUuidPool, TimestampIso)
      val byName = dataColumns(cfg).map(s => s.name -> s).toMap
      cfg.redactPiiColumns.foreach { c =>
        val spec = byName.getOrElse(c, sys.error(
          s"redactPii column '$c' is not a generated data column " +
            s"(have: ${byName.keys.mkString(", ")})"))
        require(stringTypes.contains(spec.tpe),
          s"redactPii column '$c' is not a string column (${spec.tpe})")
      }
    }

  /** Upfront validation of the commit-path near-dup suppressor — a
    * typo'd or non-string column fails at startup, not mid-commit. */
  private def validateSuppressNearDups(cfg: IngestConfig): Unit =
    cfg.suppressNearDups.foreach { c =>
      import Gen.ColType._
      val stringTypes: Set[Gen.ColType] = Set(StringName, StringDict,
        StringIp, StringUuidPool, TimestampIso)
      val byName = dataColumns(cfg).map(s => s.name -> s).toMap
      val spec = byName.getOrElse(c, sys.error(
        s"suppressNearDups column '$c' is not a generated data column " +
          s"(have: ${byName.keys.mkString(", ")})"))
      require(stringTypes.contains(spec.tpe),
        s"suppressNearDups column '$c' is not a string column (${spec.tpe})")
      // commitGroups > 1 is supported since r17 (VERDICT r16 #7): the
      // consult→decide→ledger→append sequence runs as one per-filter-
      // path critical section (suppressNearDupRows), so concurrent
      // groups can never both pin the same filter version and each
      // admit the same content — the r16 upfront rejection is gone.
    }

  /** Resolve (and VALIDATE) the seen-filter id column against the
    * generated schema. Called upfront by [[run]]/[[runBatchCommitted]]
    * so a typo'd column name fails in milliseconds at startup, not
    * mid-commit after the first batch's files have already published. */
  private def seenFilterSpec(cfg: IngestConfig): Gen.ColSpec = {
    val specs = dataColumns(cfg)
    val name = cfg.seenFilterColumn.getOrElse(specs.head.name)
    specs.find(_.name == name).getOrElse(sys.error(
      s"seenFilterColumn '$name' is not a generated data column " +
        s"(have: ${specs.map(_.name).mkString(", ")})"))
  }

  /** Append a committed batch's ids to the run's seen filter. Columns
    * are pure functions of the row index, so the id column is
    * recomputed directly from the raw (value, __pid) batch — no
    * re-read of the published files, no extra shuffle. */
  private def appendSeenIds(cfg: IngestConfig, path: String,
                            batch: DataFrame): Unit = {
    val spec = seenFilterSpec(cfg)
    val ids = batch.select(Gen.expr(spec, cfg.seed, col("value")).as(spec.name))
    graft.api.Dedup.buildOrAppendSeenFilter(ids, spec.name, path,
      expectedItems = cfg.seenFilterExpectedItems)
  }

  /** Run the streaming engine for `timeoutMs`, then report. */
  def run(spark: SparkSession, cfg: IngestConfig): IngestResult = {
    // fail a bad seen-filter column or expectation BEFORE any stream starts
    cfg.seenFilterPath.foreach(_ => seenFilterSpec(cfg))
    validateExpectations(cfg)
    validateRedactPii(cfg)
    validateSuppressNearDups(cfg)
    // startup log parity (`Culvert.java:102,109`)
    System.err.println(s"Starting culvert: ${cfg.name}")
    (0 until cfg.parallelism).foreach(i => System.err.println(s"Starting stream: stream-$i"))
    val committed = new AtomicLong(0)
    val commits = new AtomicLong(0)

    val queries = cfg.outputPath match {
      case Some(path) =>
        // g parallel queries of p/g streams each: commits (write job +
        // publish + checkpoint) from different groups overlap, like the
        // reference's p independently-committing stream threads. g = 1
        // is the plain single-query path (no group tag, same layout as
        // ever).
        val g = math.max(1, cfg.commitGroups)
        require(cfg.parallelism % g == 0,
          s"commitGroups=$g must divide parallelism=${cfg.parallelism}")
        val perGroup = cfg.parallelism / g
        (0 until g).toList.flatMap { i =>
          val tag = if (g == 1) None else Some(s"g$i")
          val gcfg = cfg.copy(parallelism = perGroup,
            streamIndexOffset = cfg.streamIndexOffset + i * perGroup)
          // start failures are isolated per group, like a reference
          // stream thread dying on connect — the remaining streams run
          // and the report counts whatever was committed. A single-query
          // run (g == 1) rethrows: there is nothing left to salvage.
          try List(rawStream(spark, gcfg).writeStream
            .outputMode("append")
            .trigger(Trigger.ProcessingTime(triggerMs(gcfg)))
            .option("checkpointLocation",
              tag.fold(s"$path/_checkpoint")(t => s"$path/_checkpoint/$t"))
            .foreachBatch { (batch: DataFrame, batchId: Long) =>
              val n = commitBatch(gcfg, path, batch, batchId, tag)
              if (n > 0) {
                val total = committed.addAndGet(n)
                val k = commits.incrementAndGet()
                println(s"Stream [${cfg.name}] committed $k transactions [rows: $total]..")
              }
            }
            .start())
          catch {
            case e: Throwable if g > 1 =>
              System.err.println(
                s"Stream group ${tag.getOrElse("")} failed to start: ${e.getMessage}")
              Nil
          }
        }
      case None =>
        // Console fallback (`Stream.java:190-191`): rows are printed,
        // nothing is committed — rowsCommitted stays 0, as in the
        // reference where the commit path needs a live connection.
        val frame = streamingFrame(spark, cfg)
        List(frame.select(Gen.csvLine(frame.columns.toSeq).as("value"))
          .writeStream.format("console")
          .option("truncate", "false")
          .trigger(Trigger.ProcessingTime(triggerMs(cfg)))
          .start())
    }
    // one shared wall-clock deadline for all groups (the reference's
    // single timeout thread covers all streams). A failed group must
    // not take down the run: the reference's thread just dies while the
    // others keep streaming, and the throughput report still counts
    // every committed row (`Culvert.java:165-171`) — so swallow the
    // per-query failure, keep waiting on the rest, and ALWAYS stop all
    // queries (an unstopped query would leak past the run).
    val deadline = System.nanoTime() + cfg.timeoutMs * 1000000
    try {
      queries.foreach { q =>
        val leftMs = math.max(1L, (deadline - System.nanoTime()) / 1000000)
        try q.awaitTermination(leftMs)
        catch {
          // single-query run: nothing to salvage — propagate, mirroring
          // the pre-commit-groups behavior (after the finally stops it)
          case e: Throwable if queries.lengthCompare(1) == 0 => throw e
          case e: Throwable =>
            System.err.println(s"Stream group failed: ${e.getMessage}")
        }
      }
    } finally queries.foreach(q => try q.stop() catch { case _: Throwable => () })
    report(committed.get, commits.get, cfg.timeoutMs)
  }

  /** Bounded-batch ingest (generator → partitioned columnar write), the
    * bench's throughput probe. One write == one commit; throughput uses
    * measured wall-clock (there is no configured timeout in batch mode). */
  def runBatch(spark: SparkSession, cfg: IngestConfig, numRows: Long): IngestResult = {
    val path = cfg.outputPath.getOrElse(
      sys.error("batch ingest requires an output path"))
    val t0 = System.nanoTime()
    routeAndProject(rawBatch(spark, cfg, numRows), cfg)
      .write.mode("append").format(cfg.format)
      .option("compression", cfg.compression)
      .options(orcWriteOptions(cfg))
      .partitionBy("year", "month")
      .save(path)
    val elapsedMs = math.max(1L, (System.nanoTime() - t0) / 1000000)
    // ms-precision throughput: batch mode has no configured timeout, so
    // the reference's whole-second formula would floor a 5.4 s run to
    // 5 s and overstate the rate by 8% — report the measured number
    val throughput = numRows * 1000 / elapsedMs
    val lines = Seq(
      s"Total rows committed: $numRows",
      s"Throughput: $throughput rows/second")
    lines.foreach(println)
    IngestResult(numRows, 1, throughput, lines)
  }

  /** TRANSACTIONAL batch ingest: `batches` staged-publish commits
    * through the SAME protocol as the streaming path (commitBatch:
    * scrub → stage → rename-publish → marker), so batch-loaded rows get
    * atomic visibility, idempotent replay, and committedView/snapshot/
    * commit-log-stream semantics — [[runBatch]]'s plain append has none
    * of those (its rows are visible to directory readers mid-write and
    * carry no batch token). Rows split evenly across batch ids
    * 0..batches-1 (last batch takes the remainder). */
  def runBatchCommitted(spark: SparkSession, cfg: IngestConfig,
                        numRows: Long, batches: Int = 1): IngestResult = {
    val path = cfg.outputPath.getOrElse(
      sys.error("batch ingest requires an output path"))
    require(batches > 0 && numRows >= 0)
    // fail a bad seen-filter column or expectation before any batch publishes
    cfg.seenFilterPath.foreach(_ => seenFilterSpec(cfg))
    validateExpectations(cfg)
    validateRedactPii(cfg)
    validateSuppressNearDups(cfg)
    val t0 = System.nanoTime()
    val per = math.max(1L, numRows / batches)
    var committed = 0L
    var nCommits = 0L
    (0 until batches).foreach { i =>
      val from = math.min(i * per, numRows)
      val until = if (i == batches - 1) numRows else math.min((i + 1) * per, numRows)
      if (until > from) {
        val raw = spark.range(from, until, 1, cfg.parallelism)
          .select(col("id").as("value"), spark_partition_id().as("__pid"))
        committed += commitBatch(cfg, path, raw, i)
        nCommits += 1
      }
    }
    val elapsedMs = math.max(1L, (System.nanoTime() - t0) / 1000000)
    val throughput = committed * 1000 / elapsedMs
    val lines = Seq(
      s"Total rows committed: $committed",
      s"Throughput: $throughput rows/second")
    lines.foreach(println)
    IngestResult(committed, nCommits, throughput, lines)
  }

  /** ORC write tuning for the synthetic-load sink (no-ops for parquet):
    *  - 32 KiB compress buffer: bucketed commits write p×buckets
    *    smallish files, and the default 256 KiB buffer is allocated per
    *    column per file — pure fixed cost at this file size;
    *  - dictionary encoding off: half the generated columns draw from
    *    1M-value pools, so per-stripe dictionary attempts hash every
    *    value and then abandon at the 0.8 distinctness threshold —
    *    measured 12-25% of bucketed write time. Files remain standard
    *    ORC (direct encoding), readable by any ORC reader; like the lz4
    *    choice, a declared deviation — compression ratio is not the
    *    point of a load-generator sink. */
  private def orcWriteOptions(cfg: IngestConfig): Map[String, String] =
    if (cfg.format == "orc")
      Map("orc.compress.size" -> "32768", "orc.dictionary.key.threshold" -> "0")
    else Map.empty

  /** Trigger sized so one micro-batch ≈ commitAfterNRows rows at the
    * configured rate, clamped to a sane range for local runs. When the
    * clamp bites (ideal trigger outside [100 ms, 10 s]) actual commit
    * sizes deviate from commitAfterNRows — say so rather than silently
    * overriding the user's -n. */
  private def triggerMs(cfg: IngestConfig): Long = {
    val rowsPerSec = math.max(1L, cfg.eventsPerSecond.toLong * cfg.parallelism)
    val ms = cfg.commitAfterNRows.toLong * 1000 / rowsPerSec
    val clamped = math.min(10000L, math.max(100L, ms))
    if (clamped != ms)
      System.err.println(
        s"[ingest] trigger clamped ${ms}ms -> ${clamped}ms: micro-batches will " +
          s"carry ~${rowsPerSec * clamped / 1000} rows, not commitAfterNRows=${cfg.commitAfterNRows}")
    clamped
  }

  /** The two summary lines, format-identical to `Culvert.java:169-171`;
    * throughput divides by the CONFIGURED timeout in whole seconds (not
    * actual elapsed) — that formula defines the reference's reported
    * numbers (SURVEY.md §7.3). */
  private def report(rows: Long, commits: Long, timeoutMs: Long): IngestResult = {
    val timeoutSeconds = math.max(1L, timeoutMs / 1000)
    val throughput = rows / timeoutSeconds
    val lines = Seq(
      s"Total rows committed: $rows",
      s"Throughput: $throughput rows/second")
    lines.foreach(println)
    IngestResult(rows, commits, throughput, lines)
  }
}
