package graft.api

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Commit

/** Per-batch idempotence ledger for the suppressor index appends — the
  * ingest `_commits` discipline (graft.ingest.Ingest staged publish)
  * applied to the three persisted suppressor stores (MinHash near-dup,
  * hamming chunk, IVF vector).
  *
  * Why: the suppressors' appends must be replay-idempotent (a crashed
  * micro-batch re-runs), which used to be bought by diffing the batch
  * against the ids already in the index on EVERY append — at 10⁹–10¹⁰
  * indexed docs that is a multi-GB id-column scan + distinct per
  * micro-batch, every few seconds in the streaming wrappers. The ledger
  * makes the steady state O(batch): a batch's append transitions
  * `_appends/<token>.intent` → append rows → `<token>.done`, so
  *  - a FRESH batch (neither marker) appends BLINDLY — no index read at
  *    all — because the intent marker written first proves no earlier
  *    attempt can have landed rows;
  *  - a REPLAY of a completed batch (done marker) skips in O(1);
  *  - a replay of a batch that CRASHED inside its append window (intent
  *    without done) takes the explicit repair path — the old id-diff,
  *    now paid only after a genuine crash.
  *
  * The token is a content hash of the batch's id multiset (count plus
  * two independent order-invariant xxhash64 sums — 128 bits, so a
  * cross-batch collision is ~2⁻⁶⁴ per pair), which is also the
  * suppressor contract's key: ids are globally unique across batches,
  * so "same id set" = "same batch". Markers live under
  * `path/_appends/`, OUTSIDE the versioned roots, so compaction and
  * reindex (which rewrite `path/v<N>`) never drop them — a dropped done
  * marker would send a replay down the blind path and duplicate rows.
  * They are a few bytes per batch and are never vacuumed; deleting them
  * manually forfeits replay idempotence for in-flight batches only
  * (completed batches' rows are in the index; their replays would
  * re-append — run the store's integrity report if markers were lost).
  */
private[graft] object AppendLedger {

  sealed trait State
  case object Fresh extends State
  case object Repair extends State
  case object Done extends State

  /** Test-visible counters: PlanShapeSpec/StreamingDedupSpec pin that a
    * replayed batch skips without scanning the index and that only a
    * simulated crash takes the repair path. */
  private[graft] val blindAppends = new AtomicLong
  private[graft] val repairAppends = new AtomicLong
  private[graft] val skippedAppends = new AtomicLong

  /** Order-invariant digest of the batch's id column (one narrow
    * aggregation over the already-materialized batch): count plus two
    * independent xxhash64 sums, decimal-summed (ANSI long addition
    * would overflow), folded through MD5 into a filename-safe token. */
  def token(batch: DataFrame, idCol: String): String =
    tokenFromRow(batch.agg(tokenAggs(idCol).head, tokenAggs(idCol).tail: _*)
      .head())

  /** The [[token]] aggregate columns, exposed so a suppressor can ride
    * them on an existing materialization job via `Dataset.observe`
    * (r18: one standalone aggregation job per commit saved) instead of
    * calling [[token]]. The digest formula is SHARED with [[token]] —
    * the marker files a replay checks are keyed by it. */
  def tokenAggs(idCol: String): Seq[org.apache.spark.sql.Column] = {
    val zero = lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")
    Seq(
      count(lit(1)),
      coalesce(sum(xxhash64(col(idCol)).cast("decimal(38,0)")), zero),
      coalesce(sum(xxhash64(lit(0x9e3779b97f4a7c15L), col(idCol))
        .cast("decimal(38,0)")), zero))
  }

  /** Fold a [[tokenAggs]] result row into the marker token. */
  def tokenFromRow(r: org.apache.spark.sql.Row): String =
    tokenFromParts(r.getLong(0), r.getDecimal(1), r.getDecimal(2))

  def tokenFromParts(count: Long, h1: java.math.BigDecimal,
                     h2: java.math.BigDecimal): String = {
    val raw = s"$count|$h1|$h2"
    java.security.MessageDigest.getInstance("MD5")
      .digest(raw.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def marker(path: String, tok: String, kind: String) =
    new Path(s"$path/_appends", s"$tok.$kind")

  def state(spark: SparkSession, path: String, tok: String): State = {
    val f = fs(spark, path)
    if (f.exists(marker(path, tok, "done"))) Done
    else if (f.exists(marker(path, tok, "intent"))) Repair
    else Fresh
  }

  /** Write the intent marker — MUST complete before any append row
    * lands, so a crash mid-append always leaves the repair signpost. */
  def begin(spark: SparkSession, path: String, tok: String): Unit = {
    Commit.createExclusive(fs(spark, path), marker(path, tok, "intent"))
    ()
  }

  /** Flip intent → done once every table's append for the batch has
    * fully landed. Done is created before intent is removed: a crash
    * between the two leaves BOTH markers, and [[state]] checks done
    * first, so the batch still reads as completed. */
  def finish(spark: SparkSession, path: String, tok: String): Unit = {
    val f = fs(spark, path)
    Commit.createExclusive(f, marker(path, tok, "done"))
    f.delete(marker(path, tok, "intent"), false)
    ()
  }

  /** The ledger's contents as (token, state) rows — operational
    * visibility for the suppressor stores: a token in state 'intent'
    * is a batch that CRASHED inside its append window and has not yet
    * been replayed (its next replay takes the repair path); 'done'
    * tokens are completed batches whose replays skip. An empty or
    * missing ledger means no suppressor has appended at this path. */
  def entries(spark: SparkSession, path: String): Seq[(String, String)] = {
    val f = fs(spark, path)
    val dir = new Path(s"$path/_appends")
    if (!f.exists(dir)) Seq.empty
    else {
      val names = f.listStatus(dir).map(_.getPath.getName).toSeq
        .filterNot(Commit.hidden)
      val done = names.collect { case n if n.endsWith(".done") =>
        n.stripSuffix(".done") }.toSet
      names.flatMap {
        case n if n.endsWith(".done") => Some(n.stripSuffix(".done") -> "done")
        case n if n.endsWith(".intent") =>
          val t = n.stripSuffix(".intent")
          // finish() creates done before deleting intent — a crash
          // between the two leaves both, and done wins
          if (done(t)) None else Some(t -> "intent")
        case _ => None
      }.sorted
    }
  }

  /** Delete the OLDEST completed (done) markers beyond `keepLast`,
    * returning how many were removed — the ledger's own retention
    * story: at micro-batch cadence the ledger gains two tiny files per
    * batch forever, which is its own small-file hazard at stream
    * lifetimes. Safe for the streaming wrappers because a structured-
    * streaming checkpoint replays at most the most recent uncommitted
    * batches — a batch whose marker has aged past `keepLast` newer
    * completions can never replay through the checkpoint. NOT safe for
    * an external scheduler that may re-submit arbitrarily old batches;
    * such callers must keep the full ledger (markers are bytes — the
    * default keepLast=100000 holds years of per-minute batches).
    * Intent markers are never vacuumed: each marks a crash whose
    * repairing replay may still arrive. */
  def vacuum(spark: SparkSession, path: String,
             keepLast: Int = 100000): Long = {
    require(keepLast >= 0, "keepLast must be >= 0")
    val f = fs(spark, path)
    val dir = new Path(s"$path/_appends")
    if (!f.exists(dir)) return 0L
    val done = f.listStatus(dir)
      .filter(_.getPath.getName.endsWith(".done"))
      .sortBy(-_.getModificationTime)
    val doomed = done.drop(keepLast)
    doomed.foreach(st => f.delete(st.getPath, false))
    doomed.length.toLong
  }

  /** The full append protocol: skip on done, blind-append on fresh,
    * id-diff repair on a crashed window. `append(repair)` runs the
    * store-specific writes; `repair = true` means rows from a previous
    * attempt may already be present and the write must diff first. */
  def appendOnce(spark: SparkSession, path: String, tok: String)
                (append: Boolean => Unit): Unit =
    state(spark, path, tok) match {
      case Done =>
        skippedAppends.incrementAndGet()
        ()
      case st =>
        if (st == Fresh) begin(spark, path, tok)
        (if (st == Fresh) blindAppends else repairAppends).incrementAndGet()
        append(st == Repair)
        finish(spark, path, tok)
    }
}
