package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators as a reusable library surface: every function
  * is `DataFrame → DataFrame`, takes the id/text column names as
  * parameters, and makes no assumption about where the corpus came from
  * (the `graft.queries.Pipeline` fixture queries delegate here — they
  * are the oracle-checked instantiation, this is the user API).
  *
  * Scale shapes (100 TB framing): candidate generation is always a keyed
  * equi-join (fingerprint / prefix token / band bucket / signature
  * chunk), never an unkeyed all-pairs product; no UDFs, no collects; no
  * forced broadcasts of corpus-sized sides (AQE picks the strategy).
  */
object Dedup {

  /** Slack for REAL-VALUED candidate-generation bounds in the
    * prefix-filtered joins: user thresholds (0.8, …) are not exact
    * doubles, so expressions like n·(1−t) can land a hair below an
    * exact integer and a floor/comparison silently drops a boundary
    * candidate — a FALSE NEGATIVE exact verification can never win
    * back. Padding by 1e-6 only admits extra candidates (verified
    * exactly afterwards) and dominates the rounding error of t·n for
    * any real document (~1e-16·n ⇒ safe past n = 10⁹ shingles). */
  private val candEps = 1e-6

  /** Exact dedup on the whitespace-normalized lowercase MD5 fingerprint:
    * one row per distinct content with the lowest id as survivor.
    * Output: (fingerprint, keep_<idCol>, dup_count). One keyed shuffle. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs.select(col(idCol), md5Fingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(idCol).as(s"keep_$idCol"), count(lit(1)).as("dup_count"))

  /** Streaming form of exact dedup for dedup-at-ingest: the FIRST
    * arrival per content fingerprint survives (state-store semantics).
    * State is keyed by the 128-bit fingerprint — high cardinality, so
    * it shards evenly across executors; content dedup has no time
    * dimension, so state is deliberately unwatermarked (bound it
    * upstream by partitioning the corpus if needed). Works on both
    * streaming and batch frames; parity with `exact` is on the
    * fingerprint set (ApiSpec). */
  def exactStreaming(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    docs.withColumn("fingerprint", md5Fingerprint(col(textCol)))
      .dropDuplicates("fingerprint")
      .select(col(idCol).as(s"keep_$idCol"), col("fingerprint"))

  /** Incremental exact dedup: the fresh batch's survivors against an
    * ALREADY-CURATED corpus — drop every fresh doc whose content
    * fingerprint exists in the corpus, then keep min-id per
    * fingerprint within the batch itself. The corpus side collapses
    * to its distinct fingerprint set before the LEFT ANTI join (both
    * steps keyed on the 128-bit fingerprint, map-side combined), so
    * each increment costs O(batch + corpus fingerprints) — the shape
    * that lets a 100 TB corpus grow by daily batches without ever
    * re-deduping itself. Composes with
    * [[graft.core.Tables.committedViewDelta]]: `fresh` = the rows a
    * commit range added, `corpus` = the snapshot the last curation
    * pass ran on. Output: the surviving fresh rows, original columns
    * intact. */
  def exactAgainstCorpus(corpus: DataFrame, fresh: DataFrame,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val corpusFps = corpus
      .select(md5Fingerprint(col(textCol)).as("fingerprint")).distinct()
    val freshFp = fresh.withColumn("fingerprint", md5Fingerprint(col(textCol)))
    val novel = freshFp.join(corpusFps, Seq("fingerprint"), "left_anti")
    val w = Window.partitionBy("fingerprint").orderBy(col(idCol))
    novel.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "fingerprint")
  }

  /** Streaming NEAR-dup pre-filter for dedup-at-ingest: the first
    * arrival per min-shingle sketch fingerprint survives. The sketch
    * collides for identical and boilerplate-identical text (the cheap
    * end of the near-dup spectrum — run the batch MinHash/PPJoin pass
    * for threshold-exact dedup), and gives each document exactly ONE
    * 64-bit state key, which is what makes streaming state tractable:
    * band/chunk schemes key each doc 16+ ways and need cross-key
    * consensus to drop a row, which `dropDuplicates` state cannot
    * express. With `watermarkedOn` set (event-time column, delay), the
    * dedup uses `dropDuplicatesWithinWatermark` so state ages out at
    * the horizon — the unbounded-stream shape; duplicates separated by
    * more than the horizon then re-admit, the standard
    * state-size/completeness trade. */
  def fingerprintStreaming(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text", shingle: Int = 3,
                           watermarkedOn: Option[(String, String)] = None)
      : DataFrame = {
    val keyed = docs.withColumn("fp", minShingleHash(lower(col(textCol)), shingle))
    val kept = watermarkedOn match {
      case Some((tsCol, delay)) =>
        keyed.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark("fp")
      case None => keyed.dropDuplicates("fp")
    }
    kept.select(col(idCol).as(s"keep_$idCol"), col("fp"))
  }

  /** Content-level diff between two corpus SNAPSHOTS: one row per id
    * present in either, classified `added` (id only in new), `removed`
    * (id only in old), `changed` (both, content fingerprint differs),
    * or `unchanged` — with both whitespace-normalized MD5 fingerprints
    * carried for audit. The release-engineering answer to "what moved
    * between corpus v1 and v2?" when the snapshots are arbitrary
    * frames (different stores, a vendor drop vs the lakehouse, a
    * rebuilt corpus) — complementing
    * [[graft.core.Tables.committedViewDelta]], which diffs one
    * transactional table's own commit history. Each side collapses to
    * (id, 16-byte fingerprint) before a single id-keyed full-outer
    * join — text never shuffles, so two 100 TB snapshots diff at the
    * cost of their id sets. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val o = oldDocs.select(col(idCol).as("__did"),
      md5Fingerprint(col(textCol)).as("old_fp"))
    val n = newDocs.select(col(idCol).as("__did"),
      md5Fingerprint(col(textCol)).as("new_fp"))
    o.join(n, Seq("__did"), "full_outer")
      .select(col("__did").as(idCol), col("old_fp"), col("new_fp"),
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") === col("new_fp"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** id + distinct lowercase word n-shingle set (+ set size) — the
    * shared representation for the Jaccard-based operators. Shingles
    * are stored as their sorted 64-bit hashes, not strings: set sizes
    * and intersections (hence Jaccard) are unchanged, while every
    * downstream compare/shuffle moves 8-byte longs instead of n-word
    * strings, and the PPJoin prefix is a plain slice of the
    * already-sorted array. (A 64-bit collision would need ~2^32
    * distinct shingles per doc to matter.) Computed by a native
    * one-pass expression — the HOF formulation is interpreted and
    * allocates an SQL array per intermediate. */
  def shingleSets(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", shingle: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        distinctShingleHashes(lower(col(textCol)), shingle).as("sh"))
      .withColumn("n", size(col("sh")))

  /** Exact Jaccard verification for a candidate pair frame carrying both
    * shingle arrays (sh_a/n_a, sh_b/n_b). The threshold applies to the
    * UNROUNDED Jaccard (rounding first would admit boundary pairs
    * strictly below the threshold — e.g. 0.7999996 rounds to 0.8);
    * the output column is rounded for presentation/oracle parity only.
    * Intersection size via the sorted-merge kernel (r18): the shingle
    * arrays are sorted distinct at every producer, so the count equals
    * size(array_intersect(...)) with no per-pair hash set or
    * intersection-array allocation (AbIntersectKernel: 7.3×). Output
    * (self, other, jaccard) for the (doc_a, doc_b) of each pair. */
  private def verify(pairs: DataFrame, threshold: Double,
                     self: String = "doc_a", other: String = "doc_b"): DataFrame =
    pairs
      .withColumn("inter", sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jx",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jx") >= threshold)
      .select(col("doc_a").as(self), col("doc_b").as(other),
        round(col("jx"), 6).as("jaccard"))

  /** A (doc_a, doc_b) candidate frame joined with the (doc_id, sh, n)
    * sets of its a side and its b side. */
  private def joinBack(cand: DataFrame, a: DataFrame, b: DataFrame): DataFrame =
    cand
      .join(a.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("n").as("n_a")), "doc_a")
      .join(b.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("n").as("n_b")), "doc_b")

  /** EXACT near-dup pairs at Jaccard ≥ threshold via the prefix-filtered
    * similarity join (PPJoin family): index only the ⌊(1-t)·n⌋+1
    * smallest shingle hashes per doc (symmetric prefix filter — no
    * false negatives), apply the length filter and the PPJoin position
    * filter in the join, verify candidates with exact Jaccard.
    * Output: (doc_a, doc_b, jaccard), doc_a < doc_b, unordered.
    *
    * Returns MATERIALIZED pairs (the suppressor contract,
    * [[releaseMaterialized]]): the shingle sets feed four subplans, so
    * they materialize once and are RELEASED before returning — the old
    * internal `.cache()` pinned corpus-sized blocks for the JVM's
    * lifetime in long-lived sessions. Consume the result, then call
    * [[releaseMaterialized]]. */
  def nearDupPairsExact(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", threshold: Double = 0.8,
                        shingle: Int = 3): DataFrame = {
    val sets = PlanAudit.checkpoint(shingleSets(docs, idCol, textCol, shingle))
    try PlanAudit.checkpoint(pairsFromSets(sets, threshold))
    finally releaseCheckpoint(sets)
  }

  /** The PPJoin body of [[nearDupPairsExact]] over an ALREADY-built
    * (doc_id, sh, n) sets frame — shared with the streaming
    * suppressor, whose per-batch lifecycle must manage the sets
    * materialization itself (an internal `.cache()` would pin blocks
    * per micro-batch for the stream's lifetime). */
  private def pairsFromSets(sets: DataFrame, threshold: Double): DataFrame = {
    // `candEps` pads every REAL-VALUED candidate bound: thresholds
    // like 0.8 are not exact doubles, so n·(1−t) can land a hair BELOW
    // an exact integer (10·(1−0.8) = 1.9999999999999996) — flooring
    // would then undersize the prefix and silently DROP a boundary
    // pair (found at sf0.1: a doc missing exactly ⌊(1−t)n⌋ of its
    // shingles). The slack only loosens candidate generation — exact
    // verification still applies the unrounded threshold — and 1e-6
    // dominates the rounding error of t·n for any real document
    // (relative error ~1e-16·n ⇒ safe past n = 10⁹ shingles).
    val prefixLen = (floor(col("n") * (1 - threshold) + candEps) + 1).cast("int")
    // sh is already the sorted hash set — the prefix is a plain slice
    val prefix = sets.select(col("doc_id"), col("n"),
        slice(col("sh"), lit(1), prefixLen).as("pre"))
      .select(col("doc_id"), col("n"), posexplode(col("pre")).as(Seq("pos", "tok")))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n") * threshold <= col("a.n") + candEps &&
          col("a.n") * threshold <= col("b.n") + candEps &&
          // PPJoin position filter: overlap ≤ min(n_a - pos_a, n_b - pos_b)
          // for the first common prefix token (pos 0-based); J ≥ t needs
          // overlap ≥ t/(1+t)·(n_a+n_b) — provably no false negatives
          least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) >=
            (col("a.n") + col("b.n")) * lit(threshold / (1 + threshold)) - candEps)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verify(joinBack(cand, sets, sets), threshold)
  }

  /** EXACT directed CONTAINMENT pairs: (inner, outer) where
    * |inner ∩ outer| / |inner| ≥ threshold over the word-shingle sets —
    * the asymmetric cousin of [[nearDupPairsExact]] that catches
    * quote-inclusion and concatenation duplicates (a document whose
    * text is wholly embedded in a longer one has containment ≈ 1 but
    * Jaccard ≈ n_inner/n_outer, far below any symmetric near-dup
    * threshold). Both directions are reported independently; exact
    * duplicates appear as two rows with containment 1.
    *
    * Candidate generation is the prefix-filtered containment join
    * (PPJoin family, containment variant): order every doc's shingles
    * by ASCENDING global document frequency (rare shingles first — the
    * canonical ordering that minimizes posting collisions), index only
    * the inner side's first ⌊(1−t)·n⌋+1 shingles (pigeonhole: a doc
    * missing ≤ (1−t)·n of its shingles from some superset must share
    * one of them), join against the full posting table with the length
    * filter n_outer ≥ t·n_inner and the position filter
    * min(n_in − pos_in, n_out − pos_out) ≥ t·n_inner (valid for the
    * first common shingle in the shared ordering, which the prefix is
    * guaranteed to contain — no false negatives), then verify
    * candidates with the exact intersection. Cost ∝ Σ_prefix df(tok),
    * never n²; every stage is a shingle-hash-keyed equi-join or a
    * doc-keyed window. The threshold applies to the UNROUNDED ratio
    * (the [[verify]] rule); the output column is rounded for
    * presentation/oracle parity. */
  def containmentPairs(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", threshold: Double = 0.8,
                       shingle: Int = 3): DataFrame = {
    // sets feed the verify joins twice, the posting table feeds BOTH
    // candidate sides (prefix slice and full index): each materializes
    // once and is released at exit; the result is returned MATERIALIZED
    // under the [[releaseMaterialized]] contract (internal `.cache()`
    // would pin corpus-sized blocks for the session)
    val sets = PlanAudit.checkpoint(shingleSets(docs, idCol, textCol, shingle))
    try {
      val toks = sets.select(col("doc_id"), col("n"), explode(col("sh")).as("tok"))
      // ranked postings without the partition-wide window sort (r18,
      // guide §2.4/§1.2 — the buildContainmentIndex shape): dfc joins
      // back onto the token frame (bounded O(1) aggregation state per
      // token — a per-token collect_list of the doc list would build
      // ONE unbounded, non-spillable buffer for a boilerplate shingle
      // shared by millions of docs), then each doc's position under the
      // (dfc, tok) order is an ARRAY sort of its ~n tokens after the
      // doc-keyed regroup — per-DOC arrays are bounded by document
      // length. Positions bit-identical: tok is unique per doc (sh is a
      // set) so the struct(dfc, tok) order is total — exactly the old
      // window's orderBy(dfc, tok) − 1.
      val dfc = toks.groupBy("tok").agg(count(lit(1)).as("dfc"))
      val ranked = PlanAudit.checkpoint(
        toks.join(dfc, "tok")
          .groupBy(col("doc_id"), col("n"))
          .agg(sort_array(collect_list(struct(col("dfc"), col("tok")))).as("arr"))
          .select(col("doc_id"), col("n"), posexplode(col("arr")))
          .select(col("doc_id"), col("n"), col("col.tok").as("tok"),
            col("pos").cast("int").as("pos")))
      try {
        // candEps slack: see pairsFromSets — inexact t makes n·(1−t) land
        // below exact integers; padding only loosens candidate generation
        val prefix = ranked.filter(
          col("pos") <= floor(col("n") * (1 - threshold) + candEps))
        val cand = prefix.as("a").join(ranked.as("b"),
            col("a.tok") === col("b.tok") && col("a.doc_id") =!= col("b.doc_id") &&
              col("b.n") >= col("a.n") * threshold - candEps &&
              least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) >=
                col("a.n") * threshold - candEps)
          .select(col("a.doc_id").as("doc_inner"), col("b.doc_id").as("doc_outer"))
          .distinct()
        PlanAudit.checkpoint(cand
          .join(sets.select(col("doc_id").as("doc_inner"), col("sh").as("sh_a"),
            col("n").as("n_inner")), "doc_inner")
          .join(sets.select(col("doc_id").as("doc_outer"), col("sh").as("sh_b"),
            col("n").as("n_outer")), "doc_outer")
          .withColumn("inter", sortedIntersectCount(col("sh_a"), col("sh_b")))
          .filter(col("inter").cast("double") / col("n_inner") >= threshold)
          .select(col("doc_inner"), col("doc_outer"), col("n_inner"),
            col("n_outer"),
            round(col("inter").cast("double") / col("n_inner"), 6)
              .as("containment")))
      } finally releaseCheckpoint(ranked)
    } finally releaseCheckpoint(sets)
  }

  /** Incremental form of [[containmentPairs]] — the ingestion filter:
    * drop every FRESH doc whose shingle set is ≥ `threshold` contained
    * in some CORPUS doc (quote-wrappers, boilerplate-padded reposts,
    * concatenations of existing content), return the survivors with
    * their original columns. The prefix ordering is the global
    * df-ascending order over BOTH frames' shingles (any shared total
    * order is correct — no false negatives; df-ascending minimizes
    * posting collisions), the fresh side indexes only its
    * ⌊(1−t)·n⌋+1-shingle prefix, and the corpus side is a full
    * posting table with positions — at a growing 100 TB corpus that
    * posting table is the persisted artifact to maintain incrementally:
    * [[buildContainmentIndex]] / [[appendToContainmentIndex]] /
    * [[containmentFilterAgainstIndex]] are exactly that lifecycle, and
    * the right form for a recurring per-batch filter. Cost ∝
    * Σ_fresh-prefix df(tok); every stage keyed. */
  def containmentAgainstCorpus(corpus: DataFrame, fresh: DataFrame,
                               idCol: String = "doc_id",
                               textCol: String = "text",
                               threshold: Double = 0.8,
                               shingle: Int = 3): DataFrame = {
    // one-shot form: both shingle-set frames and the ranked posting
    // table feed multiple subplans — materialize once, RELEASE at exit,
    // return MATERIALIZED survivors ([[releaseMaterialized]] contract).
    // For a RECURRING ingestion filter use the persisted index
    // ([[buildContainmentIndex]] → [[containmentFilterAgainstIndex]]):
    // this form re-shingles the corpus per call by construction.
    val cs = PlanAudit.checkpoint(shingleSets(corpus, idCol, textCol, shingle))
    val fs = PlanAudit.checkpoint(shingleSets(fresh, idCol, textCol, shingle))
    try {
      val toks = cs.select(col("doc_id"), col("n"), explode(col("sh")).as("tok"))
        .withColumn("side", lit("c"))
        .union(fs.select(col("doc_id"), col("n"), explode(col("sh")).as("tok"))
          .withColumn("side", lit("f")))
      // ranked postings without the window sort (the containmentPairs
      // shape, r18): dfc counts across BOTH sides exactly as before
      // (one groupBy over the union, bounded state), joined back and
      // regrouped per (side, doc) — per-DOC arrays bounded by document
      // length; positions bit-identical (tok unique per (side, doc);
      // struct(dfc, tok) order total = the old window's orderBy)
      val dfc = toks.groupBy("tok").agg(count(lit(1)).as("dfc"))
      val ranked = PlanAudit.checkpoint(
        toks.join(dfc, "tok")
          .groupBy(col("side"), col("doc_id"), col("n"))
          .agg(sort_array(collect_list(struct(col("dfc"), col("tok")))).as("arr"))
          .select(col("side"), col("doc_id"), col("n"), posexplode(col("arr")))
          .select(col("side"), col("doc_id"), col("n"),
            col("col.tok").as("tok"), col("pos").cast("int").as("pos")))
      try {
        val freshPrefix = ranked.filter(col("side") === "f" &&
          col("pos") <= floor(col("n") * (1 - threshold) + candEps))
        val corpusPost = ranked.filter(col("side") === "c")
        val cand = freshPrefix.as("a").join(corpusPost.as("b"),
            col("a.tok") === col("b.tok") &&
              col("b.n") >= col("a.n") * threshold - candEps &&
              least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) >=
                col("a.n") * threshold - candEps)
          .select(col("a.doc_id").as("doc_f"), col("b.doc_id").as("doc_c"))
          .distinct()
        val flagged = cand
          .join(fs.select(col("doc_id").as("doc_f"), col("sh").as("sh_a"),
            col("n").as("n_f")), "doc_f")
          .join(cs.select(col("doc_id").as("doc_c"), col("sh").as("sh_b")),
            "doc_c")
          .filter(sortedIntersectCount(col("sh_a"), col("sh_b")).cast("double") /
            col("n_f") >= threshold)
          .select(col("doc_f").as(idCol)).distinct()
        PlanAudit.checkpoint(fresh.join(flagged, Seq(idCol), "left_anti"))
      } finally releaseCheckpoint(ranked)
    } finally Seq(cs, fs).foreach(releaseCheckpoint)
  }

  /** Persisted CONTAINMENT posting index — the artifact
    * [[containmentAgainstCorpus]]'s docstring promises: the corpus'
    * df-ordered posting table written ONCE, so a per-batch ingestion
    * filter never re-shingles, re-ranks, or caches the corpus again
    * (the containment analogue of the near-dup index's signature
    * state). Layout under `path`:
    *   params/   one row (shingle) — increments provably shingle the
    *             way the corpus did
    *   dfreq/    (tok, dfc) — the document frequencies FROZEN at build
    *             time. The prefix-filter theory needs only a SHARED
    *             total order over shingles (df-ascending is the
    *             collision-minimizing choice, not a correctness
    *             requirement), so the order is frozen as
    *             key(tok) = (dfc_at_build | 0 if unseen, tok) and every
    *             append/filter ranks against it — positions stay
    *             mutually consistent forever. As appends drift the true
    *             dfs away from the frozen ones the filter stays EXACT
    *             and only the candidate count degrades toward a
    *             less-optimal ordering; rebuild to re-freeze (the
    *             quantizer-drift/reindex discipline).
    *   postings/ (doc_id, n, tok, pos) — every corpus doc's full
    *             shingle posting list with its frozen-order position;
    *             the candidate-join side
    *   sketches/ (doc_id, sh, n) — sorted shingle-hash sets for exact
    *             verification (orphan-inert: written BEFORE postings on
    *             append, like the near-dup index's sketch-first rule)
    *
    * A fresh build writes the legacy layout at `path`; once
    * [[deleteFromContainmentIndex]] has versioned it (v-dirs +
    * `_current`, the [[graft.api.Similarity.reindex]] discipline)
    * every rewrite commits atomically. */
  def buildContainmentIndex(docs: DataFrame, path: String,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            shingle: Int = 3): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val versioned = VersionedIndex.resolveRoot(spark, path) != path
    val next = if (versioned) Some(VersionedIndex.nextVersion(spark, path)) else None
    val target = next.fold(path)(v => s"$path/$v")
    Seq(Tuple1(shingle)).toDF("shingle")
      .coalesce(1).write.mode("overwrite").parquet(s"$target/params")
    // sketches land FIRST, straight from the shingling plan: one pass
    // over the corpus text into compressed columnar output. This
    // REPLACES the corpus-sized localCheckpoint the build used to pin
    // (VERDICT r15 #2): at 50M the deserialized MEMORY_AND_DISK spill
    // physically wrote a multiple of the final parquet bytes and made
    // the stage's wall time a function of page-cache/writeback state.
    // The token passes below re-read the snappy parquet instead —
    // two column-pruned scans of data the write just warmed. Order
    // also now matches the append path's sketch-first crash rule
    // (orphan sketches are inert; postings without sketches would
    // generate candidates that can never verify).
    shingleSets(docs, idCol, textCol, shingle)
      .write.mode("overwrite").parquet(s"$target/sketches")
    val sets = spark.read.parquet(s"$target/sketches")
    val toks = sets.select(col("doc_id"), col("n"), explode(col("sh")).as("tok"))
    // Postings without the checkpoint pin or the window sort (r18,
    // guide §2.4/§1.2): the old shape aggregated dfc, PINNED it in a
    // vocabulary-sized localCheckpoint (at 10M docs the trigram
    // vocabulary is itself corpus-sized — most shingles are unique to
    // one content id), sort-merge-joined it back onto the token frame,
    // and ranked positions with a row_number window — a full sort of
    // every token row. Now dfc stays an in-plan aggregation (bounded
    // O(1) state per token — NOT a per-token collect_list of the doc
    // list, which would build one unbounded, non-spillable buffer for
    // a boilerplate shingle shared by millions of docs), joins back,
    // and the per-doc position under the (dfc, tok) order is an ARRAY
    // sort of that doc's ~n tokens after the doc-keyed regroup —
    // per-DOC arrays bounded by document length, nothing pins, no
    // partition-wide sort. Positions are bit-identical: tok is unique
    // per doc (sh is a set), so the struct(dfc, tok) order is total,
    // exactly row_number's orderBy(dfc, tok) − 1.
    val dfcB = toks.groupBy(col("tok")).agg(count(lit(1)).as("dfc"))
    toks.join(dfcB, "tok")
      .groupBy(col("doc_id"), col("n"))
      .agg(sort_array(collect_list(struct(col("dfc"), col("tok")))).as("arr"))
      .select(col("doc_id"), col("n"), posexplode(col("arr")))
      .select(col("doc_id"), col("n"), col("col.tok").as("tok"),
        col("pos").cast("int").as("pos"))
      .write.mode("overwrite").parquet(s"$target/postings")
    // dfreq re-derives from the postings just written (one row per
    // (doc, tok), so rows-per-tok IS the document frequency): a
    // column-pruned scan of compressed longs instead of a second
    // shingling pass over the corpus text.
    spark.read.parquet(s"$target/postings")
      .groupBy(col("tok")).agg(count(lit(1)).as("dfc"))
      .write.mode("overwrite").parquet(s"$target/dfreq")
    next.foreach(v => VersionedIndex.commitPointer(spark, path, v))
  }

  private def readContainmentParams(spark: org.apache.spark.sql.SparkSession,
                                    root: String): Int = {
    val rows = spark.read.parquet(s"$root/params").select("shingle").collect()
    require(rows.length == 1, s"no containment index at $root")
    rows(0).getInt(0)
  }

  /** Rank a (doc_id, n, tok) token frame under a containment index's
    * FROZEN total order: key = (dfc at build | 0 for unseen, tok).
    * Unseen toks can never match a corpus posting, so their order slot
    * only affects which toks occupy the prefix — any fixed rule is
    * correct; 0 sorts them first (rarest-like, the df-ascending
    * spirit). */
  private def rankUnderFrozenOrder(toks: DataFrame, dfreq: DataFrame): DataFrame = {
    // `toks` is commit-sized while `dfreq` is the corpus VOCABULARY —
    // at 10M indexed docs the frozen-order table is itself corpus-sized,
    // and the left join (which can only build-right, i.e. would have to
    // broadcast the CORPUS side) sort-merged all of it per micro-batch.
    // Prefilter it to the batch's own tokens with a semi-join whose
    // build side is the batch-sized distinct-token set (guide §3.2) —
    // unhinted, so AQE picks the strategy (it converts both this semi
    // join and the left join below to broadcast-hash at runtime once
    // the batch side's measured size is visible; a corpus-sized side is
    // never hinted onto the driver). Unmatched toks still rank with
    // dfc→0 via the left join's nulls — the frozen-order contract is
    // unchanged.
    val slice = dfreq.join(
      toks.select(col("tok")).distinct(), Seq("tok"), "left_semi")
    toks.join(slice, Seq("tok"), "left")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(coalesce(col("dfc"), lit(0L)), col("tok"))) - 1)
      .select(col("doc_id"), col("n"), col("tok"), col("pos"))
  }

  /** Append documents to a persisted containment index under its own
    * frozen parameters and shingle order. Sketches land BEFORE
    * postings: a crash in between leaves orphan sketch rows (inert —
    * only postings generate candidates); the reverse would leave
    * candidates that can never verify, silently admitting contained
    * docs. Append the survivors of [[containmentFilterAgainstIndex]]
    * to keep the index containment-free. */
  def appendToContainmentIndex(docs: DataFrame, path: String,
                               idCol: String = "doc_id",
                               textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val root = VersionedIndex.resolveRoot(spark, path)
    val shingle = readContainmentParams(spark, root)
    val dfreq = spark.read.parquet(s"$root/dfreq")
    val sets = PlanAudit.checkpoint(shingleSets(docs, idCol, textCol, shingle))
    try {
      sets.write.mode("append").parquet(s"$root/sketches")
      rankUnderFrozenOrder(
          sets.select(col("doc_id"), col("n"), explode(col("sh")).as("tok")),
          dfreq)
        .write.mode("append").parquet(s"$root/postings")
    } finally releaseCheckpoint(sets)
  }

  /** The containment INGESTION filter against a persisted index: drop
    * every fresh doc whose shingle set is ≥ `threshold` contained in
    * some indexed doc, return the survivors with their original
    * columns — [[containmentAgainstCorpus]] with the corpus-sized work
    * already paid at build time. Per batch this touches corpus TEXT
    * zero times: the fresh side shingles and ranks itself against the
    * frozen `dfreq` order, indexes only its ⌊(1−t)·n⌋+1-shingle
    * prefix, equi-joins the persisted posting table on the shingle
    * hash (the batch side is commit-sized — AQE broadcasts it, so the
    * posting table never shuffles), and verifies candidates against
    * the persisted sketches. Cost ∝ Σ_fresh-prefix df(tok) + one
    * column-pruned scan of the signature tables.
    *
    * Returns MATERIALIZED survivors (the suppressor contract): consume
    * them, then call [[releaseMaterialized]]. */
  def containmentFilterAgainstIndex(fresh: DataFrame, path: String,
                                    threshold: Double = 0.8,
                                    idCol: String = "doc_id",
                                    textCol: String = "text"): DataFrame = {
    val spark = fresh.sparkSession
    val root = VersionedIndex.resolveRoot(spark, path)
    val shingle = readContainmentParams(spark, root)
    val dfreq = spark.read.parquet(s"$root/dfreq")
    val b = PlanAudit.checkpoint(fresh)
    val fs = PlanAudit.checkpoint(shingleSets(b, idCol, textCol, shingle))
    try {
      val franked = rankUnderFrozenOrder(
        fs.select(col("doc_id"), col("n"), explode(col("sh")).as("tok")), dfreq)
      val freshPrefix = franked.filter(
        col("pos") <= floor(col("n") * (1 - threshold) + candEps))
      val post = spark.read.parquet(s"$root/postings")
      // candEps slack on every real-valued bound: see pairsFromSets
      val cand = freshPrefix.as("a").join(post.as("b"),
          col("a.tok") === col("b.tok") &&
            col("b.n") >= col("a.n") * threshold - candEps &&
            least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) >=
              col("a.n") * threshold - candEps)
        .select(col("a.doc_id").as("doc_f"), col("b.doc_id").as("doc_c"))
        .distinct()
      val sketches = spark.read.parquet(s"$root/sketches")
      val flagged = cand
        .join(fs.select(col("doc_id").as("doc_f"), col("sh").as("sh_a"),
          col("n").as("n_f")), "doc_f")
        .join(sketches.select(col("doc_id").as("doc_c"), col("sh").as("sh_b")),
          "doc_c")
        .filter(sortedIntersectCount(col("sh_a"), col("sh_b")).cast("double") /
          col("n_f") >= threshold)
        .select(col("doc_f").as("__flagged")).distinct()
      PlanAudit.checkpoint(
        b.join(flagged, b(idCol) === col("__flagged"), "left_anti"))
    } finally Seq(b, fs).foreach(releaseCheckpoint)
  }

  /** Delete documents from a persisted containment index (takedowns):
    * one anti-join pass over postings and sketches, committed as a
    * fresh version behind the atomic `_current` pointer (the
    * [[deleteFromNearDupIndex]] discipline). `params` and `dfreq` copy
    * through unchanged — the frozen order is immutable by design, so a
    * delete never re-ranks surviving docs. Returns docs removed; 0
    * leaves the index untouched. */
  def deleteFromContainmentIndex(spark: org.apache.spark.sql.SparkSession,
                                 path: String, ids: DataFrame,
                                 idCol: String = "doc_id"): Long = {
    val root = VersionedIndex.resolveRoot(spark, path)
    readContainmentParams(spark, root) // loud on a missing index
    val sketches = spark.read.parquet(s"$root/sketches")
    val idType = sketches.schema("doc_id").dataType
    val del = ids.select(col(idCol).cast(idType).as("__del_id")).distinct()
      .localCheckpoint()
    try {
      val nDel = sketches
        .join(del, sketches("doc_id") === del("__del_id"), "left_semi").count()
      if (nDel == 0) return 0L
      val next = VersionedIndex.nextVersion(spark, path)
      val vdir = s"$path/$next"
      spark.read.parquet(s"$root/params")
        .coalesce(1).write.mode("overwrite").parquet(s"$vdir/params")
      spark.read.parquet(s"$root/dfreq")
        .write.mode("overwrite").parquet(s"$vdir/dfreq")
      sketches
        .join(del, sketches("doc_id") === del("__del_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$vdir/sketches")
      val post = spark.read.parquet(s"$root/postings")
      post.join(del, post("doc_id") === del("__del_id"), "left_anti")
        .select(col("doc_id"), col("n"), col("tok"), col("pos"))
        .write.mode("overwrite").parquet(s"$vdir/postings")
      VersionedIndex.commitPointer(spark, path, next)
      nDel
    } finally releaseCheckpoint(del)
  }

  /** Compact a persisted containment index: per-batch appends leave a
    * file set per batch; rewrite the CURRENT version's tables into
    * `files` files each behind the atomic pointer (layout changes,
    * data identical — the [[compactNearDupIndex]] contract). */
  def compactContainmentIndex(spark: org.apache.spark.sql.SparkSession,
                              path: String, files: Int = 8): Unit = {
    require(files >= 1, s"files must be >= 1, got $files")
    val root = VersionedIndex.resolveRoot(spark, path)
    readContainmentParams(spark, root)
    val next = VersionedIndex.nextVersion(spark, path)
    val vdir = s"$path/$next"
    spark.read.parquet(s"$root/params")
      .coalesce(1).write.mode("overwrite").parquet(s"$vdir/params")
    spark.read.parquet(s"$root/dfreq")
      .repartition(files).write.mode("overwrite").parquet(s"$vdir/dfreq")
    spark.read.parquet(s"$root/sketches")
      .repartition(files).write.mode("overwrite").parquet(s"$vdir/sketches")
    spark.read.parquet(s"$root/postings")
      .repartition(files).write.mode("overwrite").parquet(s"$vdir/postings")
    VersionedIndex.commitPointer(spark, path, next)
  }

  /** Vacuum superseded containment index versions (run only when no
    * reader may hold a pre-swap resolution). */
  def vacuumContainmentIndexVersions(spark: org.apache.spark.sql.SparkSession,
                                     path: String): Seq[String] =
    VersionedIndex.vacuum(spark, path,
      Seq("params", "dfreq", "sketches", "postings"))

  /** Integrity report for a persisted containment index: n_docs,
    * structure_ok (each doc has exactly one sketch row and exactly n
    * posting rows with positions 0..n−1 — a torn append leaves a doc
    * sketch-only: candidate-invisible), consistency_ok (posting and
    * sketch doc sets are equal). Aggregation-only; no text, no pair
    * joins. */
  def containmentIndexIntegrity(spark: org.apache.spark.sql.SparkSession,
                                path: String): DataFrame = {
    val root = VersionedIndex.resolveRoot(spark, path)
    readContainmentParams(spark, root)
    val sk = spark.read.parquet(s"$root/sketches")
      .groupBy("doc_id").agg(count(lit(1)).as("n_sk"), max(col("n")).as("n_decl"))
    val po = spark.read.parquet(s"$root/postings")
      .groupBy("doc_id").agg(count(lit(1)).as("n_po"),
        min(col("pos")).as("p_min"), max(col("pos")).as("p_max"),
        countDistinct(col("pos")).as("p_dist"))
    sk.join(po, Seq("doc_id"), "full_outer")
      .agg(
        coalesce(sum(when(col("n_sk").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("n_docs"),
        (coalesce(sum(when(col("n_sk") =!= 1 ||
            coalesce(col("n_po"), lit(-1L)) =!= col("n_decl") ||
            coalesce(col("p_min"), lit(-1L)) =!= 0L ||
            coalesce(col("p_max"), lit(-1L)) =!= col("n_decl") - 1 ||
            coalesce(col("p_dist"), lit(-1L)) =!= col("n_decl"), 1L)
          .otherwise(0L)), lit(0L)) === 0L).as("structure_ok"),
        (coalesce(sum(when(col("n_sk").isNull || col("n_po").isNull, 1L)
          .otherwise(0L)), lit(0L)) === 0L).as("consistency_ok"))
      .select(lit("containment").as("store"), col("n_docs"),
        col("structure_ok"), col("consistency_ok"))
  }

  /** MinHash-LSH near-dup pairs: k min-hashes per doc, banded; docs
    * colliding in any band become candidates; candidates are verified
    * with EXACT Jaccard, so the only error mode is a missed pair
    * (P(miss | J=0.97) ≈ 1e-15 at the 64/16 defaults). Candidate join
    * is keyed on (band, band-hash) — cost ∝ collisions, not n². */
  /** (doc_id, band, bkey) banded MinHash signatures — the LSH candidate
    * key shared by [[minHashLshPairs]] and the persisted near-dup index:
    * k min-hashes per doc, banded, each band's slice folded to one
    * 64-bit bucket key. */
  private def bandedSignatures(docs: DataFrame, idCol: String, textCol: String,
                               shingle: Int, hashes: Int, bands: Int): DataFrame =
    bandsFromMinHashes(
      docs.select(col(idCol).as("doc_id"),
        minHashes(lower(col(textCol)), shingle, hashes).as("mh")),
      hashes, bands)

  /** (doc_id, band, bkey) from an already-computed `mh` minhash-array
    * column — the banding tail of [[bandedSignatures]], factored out so
    * the one-pass [[sketchSig]] paths derive bands without re-shingling
    * (bkey is a function of the mh slice alone, so it is bit-identical
    * whichever projection produced mh). */
  private def bandsFromMinHashes(withMh: DataFrame, hashes: Int,
                                 bands: Int): DataFrame = {
    require(hashes % bands == 0, "hashes must divide evenly into bands")
    val rowsPerBand = hashes / bands
    withMh
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(b, slice(col("mh"), b * lit(rowsPerBand) + 1,
              lit(rowsPerBand))).as("bkey")))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** ONE-PASS combined signature frame: (doc_id, sh, n, bkeys) — the
    * sorted shingle-hash set AND the per-band LSH bucket keys of every
    * doc from a single shingling traversal. Callers that need both
    * representations of the same frame checkpoint THIS instead of
    * materializing two separate projections that each re-tokenize and
    * re-hash every shingle (the build/append/LSH/suppressor paths —
    * guide §1.2: don't compute the same expensive thing twice).
    *
    * Two deliberate shape choices, both measured in the first
    * iteration of this rewrite (bench_ab_r17_neardup.json,
    * bench_ab_r17_neardupsuppress.json):
    * - banding is folded INTO the pass, so the materialized row
    *   carries `bands` 8-byte bucket keys (128 B at the 64/16
    *   defaults) instead of the raw `hashes` minhash array (512 B) —
    *   the raw-mh variant materialized MORE bytes than the two legacy
    *   checkpoints combined on short docs and re-ran the banding
    *   explode per consumer, measurably slower;
    * - the sketch struct is aliased in one projection and its fields
    *   extracted in a second: a non-cheap alias referenced more than
    *   once is not inlined by projection collapse, so the sketch
    *   expression evaluates exactly once per row (pinned by
    *   ShingleSketchSpec's optimized-plan assertion). */
  private def sketchSig(docs: DataFrame, idCol: String, textCol: String,
                        shingle: Int, hashes: Int, bands: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        shingleSketch(lower(col(textCol)), shingle, hashes).as("__sk"))
      .select(col("doc_id") +: sketchCols("__sk", hashes, bands): _*)

  /** (sh, n, bkeys) from the sketch struct column `sk`. */
  private def sketchCols(sk: String, hashes: Int, bands: Int): Seq[Column] = {
    require(hashes % bands == 0, "hashes must divide evenly into bands")
    val rowsPerBand = hashes / bands
    Seq(col(s"$sk.sh").as("sh"), size(col(s"$sk.sh")).as("n"),
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col(s"$sk.mh"), b * lit(rowsPerBand) + 1,
          lit(rowsPerBand)))).as("bkeys"))
  }

  /** The [[shingleSets]] schema (doc_id, sh, n) from a [[sketchSig]]
    * frame. */
  private def setsFromSig(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("sh"), col("n"))

  /** The [[bandedSignatures]] schema (doc_id, band, bkey) from a
    * [[sketchSig]] frame — posexplode position IS the band index, and
    * each bkey was computed with the exact expression
    * [[bandsFromMinHashes]] uses, so rows are bit-identical. */
  private def bandsFromSig(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), posexplode(col("bkeys")).as(Seq("band", "bkey")))
      .select(col("doc_id"), col("band"), col("bkey"))

  def minHashLshPairs(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", threshold: Double = 0.8,
                      shingle: Int = 3, hashes: Int = 64,
                      bands: Int = 16): DataFrame = {
    // sets verify twice and the banded signatures feed both sides of
    // the candidate self-join: ONE combined-sketch pass materializes
    // both representations (r17 — two separate checkpoints re-shingled
    // the corpus twice and cost two materialization jobs); released at
    // exit; MATERIALIZED result, [[releaseMaterialized]]
    val sk = PlanAudit.checkpoint(
      sketchSig(docs, idCol, textCol, shingle, hashes, bands))
    val sets = setsFromSig(sk)
    val bb = bandsFromSig(sk)
    try PlanAudit.checkpoint(verify(joinBack(
      bandCandidates(bb, bb, ordered = true), sets, sets), threshold))
    finally releaseCheckpoint(sk)
  }

  /** Distinct (doc_a, doc_b) pairs colliding in some (band, bkey)
    * bucket; `ordered` keeps only doc_a < doc_b (a self-join). */
  private def bandCandidates(a: DataFrame, b: DataFrame, ordered: Boolean): DataFrame = {
    val on = col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
    a.as("a").join(b.as("b"), if (ordered) on && col("a.doc_id") < col("b.doc_id") else on)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** The MinHash near-dup family of [[BandedIndex]]. Layout under the
    * index root:
    *   sketches/ (doc_id, sh, n) — sorted 64-bit shingle-hash sets for
    *             exact-Jaccard verification (the price of exactness:
    *             ~text-sized, but recomputing them per increment would
    *             cost a full corpus re-read)
    *   bands/    (doc_id, bkey) partitioned by band — the LSH
    *             candidate-join side
    * A doc's band rows land in EVERY band partition (that is what makes
    * it findable), so deletes rewrite both tables in full. */
  private object NearDupIndex extends BandedIndex("near-dup",
      Seq("shingle", "hashes", "bands"),
      Seq(IndexTable("sketches", None, Seq("doc_id", "sh", "n")),
        IndexTable("bands", Some("band"), Seq("doc_id", "bkey", "band")))) {
    def validate(p: Seq[Int]): Unit =
      require(p(1) % p(2) == 0, "hashes must divide evenly into bands")
    def partitions(p: Seq[Int]): Int = p(2)
    def sigFrame(docs: DataFrame, idCol: String, textCol: String, p: Seq[Int]): DataFrame =
      sketchSig(docs, idCol, textCol, p(0), p(1), p(2))
    def views(sig: DataFrame): Views =
      Map("sketches" -> setsFromSig(sig), "bands" -> bandsFromSig(sig))
    // a lazy lookup reads each form in its own branch: two narrow
    // projections, not the combined sketch twice
    override def lookupViews(docs: DataFrame, idCol: String, textCol: String,
                             p: Seq[Int]): Views =
      Map("sketches" -> shingleSets(docs, idCol, textCol, p(0)),
        "bands" -> bandedSignatures(docs, idCol, textCol, p(0), p(1), p(2)))
    // r18: the sketch rides the batch checkpoint (it is a projection of
    // the batch — a second checkpoint was a second job per commit)
    override def batchSketch(textCol: String, p: Seq[Int]): Option[Column] =
      Some(shingleSketch(lower(col(textCol)), p(0), p(1)))
    override def batchViews(ck: DataFrame, idCol: String, textCol: String,
                            p: Seq[Int]): Views =
      views(ck.select(col(idCol).as("doc_id") +: sketchCols("__gsig", p(1), p(2)): _*))
    // candidates: banded (band, bkey) equi-join, verified with exact
    // Jaccard; within a batch, the prefix-filtered PPJoin over the sets
    def pairs(a: Views, b: Views, p: Seq[Int], threshold: Double, within: Boolean,
              self: String, other: String): DataFrame =
      if (within)
        pairsFromSets(a("sketches"), threshold)
          .select(col("doc_b").as(self), col("doc_a").as(other), col("jaccard"))
      else verify(joinBack(bandCandidates(a("bands"), b("bands"), ordered = false),
        a("sketches"), b("sketches")), threshold, self, other)
    val explainNames: (String, String) = ("doc_a", "doc_b")
    val scoreCol = "score"
    // highest jaccard, ties -> lowest match id (the q162 argmax shape)
    def best(pairs: DataFrame): DataFrame = pairs
      .groupBy(col("doc_a"))
      .agg(max(col("jaccard")).as("score"),
        min(struct((lit(1d) - col("jaccard")).as("negj"),
          col("doc_b").as("doc_b"))).as("w"))
      .select(col("doc_a"), col("w.doc_b").as("match_id"), col("score"))
  }

  /** Persisted MinHash-LSH near-dup index — the signature state of an
    * already-curated corpus written ONCE, so daily increments can
    * near-dedup against a 100 TB corpus without re-reading or
    * re-shingling it (the near-dup analogue of [[exactAgainstCorpus]]'s
    * fingerprint set). One shingling pass materializes the combined
    * sketch once and both tables derive from it. Layout, versioning and
    * crash safety: `NearDupIndex` / [[BandedIndex]]. */
  def buildNearDupIndex(docs: DataFrame, path: String,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingle: Int = 3, hashes: Int = 64,
                        bands: Int = 16): Unit =
    NearDupIndex.build(docs, path, idCol, textCol, Seq(shingle, hashes, bands))

  /** Vacuum superseded near-dup index versions (see
    * [[graft.api.Similarity.vacuumIndexVersions]]) — run only when no
    * reader may still hold a pre-swap resolution. */
  def vacuumNearDupIndexVersions(spark: org.apache.spark.sql.SparkSession,
                                 path: String): Seq[String] =
    NearDupIndex.vacuum(spark, path)

  /** Compact a persisted near-dup index — after months of daily
    * appends every band-bucket probe opens hundreds of small files —
    * into one file per band partition (and `sketchFiles` sketch files)
    * behind the atomic `_current` pointer; the data is IDENTICAL. */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, sketchFiles: Int = 8): Unit = {
    require(sketchFiles >= 1, s"sketchFiles must be >= 1, got $sketchFiles")
    NearDupIndex.compact(spark, path, sketchFiles)
  }

  /** Append documents to a persisted near-dup index under the INDEX'S
    * OWN parameters; append the survivors of [[nearDupAgainstIndex]] to
    * keep it duplicate-free. Sketches append BEFORE bands: a crash in
    * between leaves orphan sketch rows, inert since only band rows
    * generate candidates. Re-append the batch after a crash. */
  def appendToNearDupIndex(docs: DataFrame, path: String,
                           idCol: String = "doc_id",
                           textCol: String = "text"): Unit =
    NearDupIndex.append(docs, path, idCol, textCol)

  /** Delete documents from a persisted near-dup index WITHOUT touching
    * corpus text (takedowns / re-curation): one anti-join rewrite of
    * each signature table into a fresh version, committed atomically —
    * never a bands/sketches mix that silently stops matching. Returns
    * the number of indexed docs removed; 0 leaves the index untouched. */
  def deleteFromNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                             path: String, ids: DataFrame,
                             idCol: String = "doc_id"): Long =
    NearDupIndex.delete(spark, path, ids, idCol)

  /** Incremental NEAR-dup dedup: the fresh batch's rows that have no
    * Jaccard ≥ threshold match in the indexed corpus, original columns
    * intact. Candidates come from the banded equi-join on (band, bkey)
    * — cost ∝ band collisions, never fresh × corpus — verified with
    * EXACT Jaccard against the stored sketches, so (as with
    * [[minHashLshPairs]]) the only error mode is an LSH-missed pair at
    * the threshold boundary; the index side never reads corpus text.
    * Within-batch near-dups are out of scope by design — compose
    * [[minHashLshPairs]] + [[keepOne]] over the survivors. */
  def nearDupAgainstIndex(fresh: DataFrame, path: String,
                          threshold: Double = 0.8,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    NearDupIndex.againstIndex(fresh, path, idCol, textCol, threshold)

  /** One commit unit of CONTINUOUS near-dup curation — the
    * per-micro-batch body of [[nearDupSuppressStream]], public so a
    * scheduler replaying daily batches gets the identical semantics.
    *
    * Deterministic suppression rule (what the DuckDB oracle replays):
    *  1. drop every batch doc with Jaccard ≥ threshold against any
    *     ALREADY-indexed doc (batch ids excluded from the index side);
    *  2. among the remainder, drop every doc with a strictly-lower-id
    *     near-dup in the remainder. Survivors form an independent set
    *     without the transitive over-deletion of component-min
    *     election — compose [[keepOne]] for component semantics;
    *  3. append the survivors' signatures under a per-batch
    *     [[AppendLedger]] marker: a replayed completed batch skips in
    *     O(1), a fresh batch appends blindly, and only a batch that
    *     crashed inside its append window pays the repairing diff.
    * Replay-idempotent; requires globally-unique doc ids across
    * batches. Index candidates are banded equi-joins, within-batch
    * pairs the prefix-filtered PPJoin — never a product. Returns the
    * survivors materialized BEFORE the append; consume them, then call
    * [[releaseMaterialized]]. Mechanics: [[BandedIndex]]. */
  def nearDupSuppressAndIndex(batch: DataFrame, path: String,
                              threshold: Double = 0.8,
                              idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame =
    NearDupIndex.suppressAndIndex(batch, path, idCol, textCol, threshold)

  /** DRY-RUN of [[nearDupSuppressAndIndex]] — the per-document
    * decision table, with NO side effects: how an operator tunes
    * `threshold`, and the audit a drop needs when a creator asks "why
    * was my document removed". Output: (<idCol>, verdict, match_id,
    * score) where verdict ∈
    *  - 'index_dup' — best Jaccard ≥ threshold match among ALREADY-
    *    indexed docs (highest jaccard, ties → lowest match id; score on
    *    the file-wide 6-decimal grid);
    *  - 'batch_dup' — survived the index pass but has a strictly-lower-
    *    id near-dup among its survivors; evidence = the best such
    *    neighbor, whatever its own fate;
    *  - 'kept' — would survive; match_id/score null.
    * Same replay exclusion and scale shape as the real pass. */
  def nearDupSuppressExplain(batch: DataFrame, path: String,
                             threshold: Double = 0.8,
                             idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame =
    NearDupIndex.explain(batch, path, idCol, textCol, threshold)

  /** Streaming near-dup suppression — dedup-at-ingest against a
    * PERSISTED, GROWING corpus index: each micro-batch runs
    * [[nearDupSuppressAndIndex]] and its survivors land under
    * `outPath/batch=<id>/`. The single foreachBatch writer serializes
    * the index; a crash replays the batch idempotently. The index must
    * exist (build it first, over the curated corpus or an empty frame).
    * `compactEveryBatches` > 0 runs [[compactNearDupIndex]] after every
    * Nth batch (at micro-batch cadence the compaction cycle IS the scale
    * story) and retention-vacuums the append ledger to `ledgerKeepLast`
    * completed markers ([[vacuumSuppressorAppendLedger]]). */
  def nearDupSuppressStream(stream: DataFrame, indexPath: String,
                            outPath: String, checkpointDir: String,
                            threshold: Double = 0.8,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            compactEveryBatches: Int = 0,
                            ledgerKeepLast: Int = 100000)
      : org.apache.spark.sql.streaming.StreamingQuery =
    NearDupIndex.stream(stream, indexPath, outPath, checkpointDir,
      compactEveryBatches, ledgerKeepLast)(
      nearDupSuppressAndIndex(_, indexPath, threshold, idCol, textCol))

  /** Integrity report for a persisted near-dup index — the check an
    * operator runs before trusting a store that outlived crashes,
    * appends, deletes, and merges. One row:
    *  - n_docs — distinct sketch docs;
    *  - structure_ok — exactly one sketch row per doc AND exactly
    *    `bands` band rows per sketch doc (a torn append leaves a doc
    *    with sketch rows but missing band rows: candidate-invisible —
    *    the silent false-negative this check exists to surface);
    *  - consistency_ok — the band-side and sketch-side doc sets are
    *    EQUAL (an orphan band row yields candidates that can never
    *    verify; an orphan sketch can never be found).
    * Pure aggregation over the two signature tables — no text, no
    * pair joins; safe to run at any corpus size. */
  def nearDupIndexIntegrity(spark: org.apache.spark.sql.SparkSession,
                            path: String): DataFrame = {
    val (root, p) = NearDupIndex.resolve(spark, path)
    val sk = spark.read.parquet(s"$root/sketches")
      .groupBy("doc_id").agg(count(lit(1)).as("n_sk"))
    val bd = spark.read.parquet(s"$root/bands")
      .groupBy("doc_id").agg(count(lit(1)).as("n_bd"))
    sk.join(bd, Seq("doc_id"), "full_outer")
      .agg(
        coalesce(sum(when(col("n_sk").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("n_docs"),
        (coalesce(sum(when(col("n_sk") =!= 1 ||
            coalesce(col("n_bd"), lit(-1L)) =!= p(2).toLong, 1L)
          .otherwise(0L)), lit(0L)) === 0L).as("structure_ok"),
        (coalesce(sum(when(col("n_sk").isNull || col("n_bd").isNull, 1L)
          .otherwise(0L)), lit(0L)) === 0L).as("consistency_ok"))
      .select(lit("neardup").as("store"), col("n_docs"),
        col("structure_ok"), col("consistency_ok"))
  }

  /** The append ledger of a suppressor store as a DataFrame —
    * (batch_token, state) with state ∈ {'done', 'intent'}: the
    * operational companion to the integrity reports. A 'done' token is
    * a completed batch (its replays skip in O(1)); an 'intent' token is
    * a batch that CRASHED inside its append window and has not been
    * replayed yet — its rows may be partially present (the integrity
    * report's structure flags stay green either way: partial appends
    * are doc-granular per table), and its next replay takes the
    * repairing id-diff path. Works on any of the three suppressor
    * stores (near-dup / hamming / IVF) — the ledger layout is shared. */
  def suppressorAppendLedger(spark: org.apache.spark.sql.SparkSession,
                             path: String): DataFrame = {
    import spark.implicits._
    AppendLedger.entries(spark, path).toDF("batch_token", "state")
  }

  /** Retention vacuum for a suppressor store's append ledger: drop the
    * oldest COMPLETED batch markers beyond `keepLast` (intent markers
    * — crashed windows awaiting repair — are never dropped). The
    * ledger gains two tiny files per batch forever, its own small-file
    * hazard at stream lifetimes; safe under the streaming wrappers
    * (a checkpoint replays at most the most recent uncommitted
    * batches), NOT safe for schedulers that re-submit arbitrarily old
    * batches — see [[AppendLedger.vacuum]]. Returns markers removed. */
  def vacuumSuppressorAppendLedger(spark: org.apache.spark.sql.SparkSession,
                                   path: String,
                                   keepLast: Int = 100000): Long =
    AppendLedger.vacuum(spark, path, keepLast)

  /** Near-dup pairs ACROSS two persisted indexes, from signature state
    * alone — the federation primitive for merging two independently-
    * curated corpora: banded keys give candidates, stored sketches the
    * exact Jaccard; NO re-read or re-shingle of either corpus. Both
    * indexes must share (shingle, hashes, bands) and have disjoint ids
    * — verified loudly (mismatched params make every band key
    * incomparable: silently zero dups). Output: (doc_a from A, doc_b
    * from B, jaccard); the candidate join is keyed on (band, bkey),
    * never |A| × |B|. */
  def crossIndexNearDupPairs(spark: org.apache.spark.sql.SparkSession,
                             pathA: String, pathB: String,
                             threshold: Double = 0.8): DataFrame =
    NearDupIndex.crossPairs(spark, pathA, pathB, threshold)

  /** Self-merge guard: `outPath` must not alias an input — plain string
    * equality misses trailing slashes, relative-vs-absolute spellings,
    * and scheme defaults, and an aliased overwrite clobbers an input
    * index mid-read. Compares filesystem-qualified paths (scheme +
    * authority + normalized absolute path). */
  private[api] def requireDistinctOutPath(
      spark: org.apache.spark.sql.SparkSession,
      outPath: String, pathA: String, pathB: String): Unit = {
    import org.apache.hadoop.fs.Path
    def q(p: String): Path = {
      val hp = new Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(hp)
    }
    val out = q(outPath)
    require(out != q(pathA) && out != q(pathB),
      "merging an index onto itself would clobber an input mid-read — " +
        "merge to a fresh path")
  }

  /** Merge two near-dup indexes into a NEW index at `outPath` — the
    * corpus-federation step: index A's docs all survive; index B's
    * docs that near-dup A (per [[crossIndexNearDupPairs]], when
    * `dedupAcross`) are dropped, so the merged index is duplicate-free
    * under the same invariant each input maintained. Pure signature
    * surgery — neither corpus is re-read. Ids must be disjoint and
    * params equal (verified loudly, even without `dedupAcross`); an
    * already-VERSIONED outPath gets a fresh committed version. Returns
    * the number of B docs dropped. */
  def mergeNearDupIndexes(spark: org.apache.spark.sql.SparkSession,
                          pathA: String, pathB: String, outPath: String,
                          threshold: Double = 0.8,
                          dedupAcross: Boolean = true): Long =
    NearDupIndex.merge(spark, pathA, pathB, outPath, dedupAcross, threshold)

  /** Release the storage behind a MATERIALIZED result frame returned
    * by [[nearDupSuppressAndIndex]] /
    * [[graft.api.Similarity.semanticSuppressAndIndex]] once it has
    * been consumed (written out / collected). The suppressors return
    * `localCheckpoint()`'d survivors — necessary so callers can read
    * them without re-planning over the already-grown index — and
    * those blocks stay pinned until released: a long-running
    * daily-batch JVM that never releases accumulates storage
    * proportional to every survivor it ever processed. The streaming
    * wrappers release automatically after the sink write; batch
    * callers own the call. Reads the RDD id off the frame's OWN plan
    * (LogicalRDD) — unpersisting by a global getPersistentRDDs diff
    * would race concurrent threads caching on the same session and
    * could truncate THEIR only copy of a checkpointed lineage. No-op
    * on frames that are not checkpoint-backed. */
  def releaseMaterialized(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.foreach(id => df.sparkSession.sparkContext.getPersistentRDDs
      .get(id).foreach(_.unpersist(false)))

  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    releaseMaterialized(df)

  /** Pigeonhole chunk layout: 64 bits partitioned into `chunksN`
    * NONEMPTY contiguous chunks, as (shift, mask) pairs. Bits are
    * distributed evenly (64/n or 64/n+1 per chunk) — a ceil-width
    * layout would leave trailing chunks with zero or even negative bits
    * for many n (e.g. n=12: 11×6 bits = 66 > 64), silently breaking
    * the pigeonhole guarantee with FALSE NEGATIVES. Every chunk
    * nonempty ⇒ any pair within hamming ≤ n-1 shares at least one
    * intact chunk. Valid for n in [1, 64]; ApiSpec pins exact bit
    * coverage for every n. */
  private[graft] def chunkLayout(chunksN: Int): Seq[(Int, Long)] = {
    require(chunksN >= 1 && chunksN <= 64)
    val base = 64 / chunksN
    val rem = 64 % chunksN
    val widths = Seq.tabulate(chunksN)(c => base + (if (c < rem) 1 else 0))
    val shifts = widths.scanLeft(0)(_ + _).dropRight(1)
    shifts.zip(widths).map { case (shift, bits) =>
      (shift, if (bits >= 64) -1L else (1L << bits) - 1)
    }
  }

  /** SimHash near-dup pairs at hamming distance ≤ maxHamming over the
    * 64-bit frequency-weighted token signature. Pigeonhole candidate
    * generation: the signature is split into maxHamming+1 chunks that
    * partition all 64 bits, so any pair within the distance bound shares
    * at least one chunk — the candidate join is keyed on (chunk, value).
    * Output: (doc_a, doc_b, hamming). */
  def simHashPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", maxHamming: Int = 3): DataFrame =
    hammingPairs(docs.select(col(idCol).as("doc_id"),
      simHash64(lower(col(textCol))).as("sig")), maxHamming = maxHamming)

  /** Near-dup pairs at hamming distance ≤ maxHamming over ANY 64-bit
    * signature column — the pigeonhole candidate machinery behind
    * [[simHashPairs]], exposed for other signature spaces (e.g. a
    * perceptual image dHash): the signature splits into maxHamming+1
    * chunks partitioning all 64 bits, so any pair within the bound
    * shares at least one intact chunk; the candidate join is keyed on
    * (chunk, value), never all-pairs. Input: (idCol, sigCol); output
    * (doc_a, doc_b, hamming), doc_a < doc_b. */
  /** (doc_id, sig, chunk, cval) pigeonhole chunk rows for a 64-bit
    * signature frame — the candidate key shared by [[hammingPairs]]
    * and the persisted hamming index. */
  private def sigChunks(sigs: DataFrame, idCol: String, sigCol: String,
                        maxHamming: Int): DataFrame = {
    require(maxHamming >= 1 && maxHamming < 64,
      s"maxHamming must be in [1, 63], got $maxHamming")
    sigs.select(col(idCol).as("doc_id"), col(sigCol).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(array(chunkLayout(maxHamming + 1).zipWithIndex.map {
          case ((shift, mask), c) =>
            struct(lit(c).as("chunk"),
              shiftrightunsigned(col("sig"), shift).bitwiseAND(lit(mask)).as("cval"))
        }: _*)).as("cc"))
      .select(col("doc_id"), col("sig"), col("cc.chunk").as("chunk"), col("cc.cval").as("cval"))
  }

  def hammingPairs(sigs: DataFrame, idCol: String = "doc_id",
                   sigCol: String = "sig", maxHamming: Int = 3): DataFrame = {
    // the signature frame feeds both sides of the chunk self-join (and
    // may itself be an expensive projection, e.g. simHash64 over text):
    // materialize once, release at exit; MATERIALIZED result,
    // [[releaseMaterialized]]
    val sg = PlanAudit.checkpoint(sigs.select(col(idCol), col(sigCol)))
    try {
      val chunks = sigChunks(sg, idCol, sigCol, maxHamming)
      PlanAudit.checkpoint(chunks.as("a").join(chunks.as("b"),
          col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= maxHamming))
    } finally releaseCheckpoint(sg)
  }

  /** The hamming family of [[BandedIndex]]: the corpus' pigeonhole
    * chunk rows (doc_id, sig, cval) partitioned by chunk, plus a one-row
    * params table pinning maxHamming. Every chunk partition holds a row
    * per indexed doc, so deletes rewrite the chunk store in full. */
  private object HammingIndex extends BandedIndex("hamming", Seq("max_hamming"),
      Seq(IndexTable("chunks", Some("chunk"), Seq("doc_id", "sig", "cval", "chunk")))) {
    def validate(p: Seq[Int]): Unit =
      require(p(0) >= 1 && p(0) < 64, s"maxHamming must be in [1, 63], got ${p(0)}")
    def partitions(p: Seq[Int]): Int = p(0) + 1
    def sigFrame(sigs: DataFrame, idCol: String, sigCol: String, p: Seq[Int]): DataFrame =
      sigChunks(sigs, idCol, sigCol, p(0))
    def views(sig: DataFrame): Views = Map("chunks" -> sig)
    // candidates: (chunk, cval) equi-join; the distance rides the joined
    // rows (both sigs are in the candidate row — no second lookup)
    private def chunkJoin(a: Views, b: Views, within: Boolean): DataFrame = {
      val on = col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval")
      a("chunks").as("a").join(b("chunks").as("b"),
        if (within) on && col("b.doc_id") < col("a.doc_id") else on)
    }
    private val distance = bit_count(col("a.sig").bitwiseXOR(col("b.sig")))
    def pairs(a: Views, b: Views, p: Seq[Int], threshold: Double, within: Boolean,
              self: String, other: String): DataFrame =
      chunkJoin(a, b, within)
        .select(col("a.doc_id").as(self), col("b.doc_id").as(other),
          distance.as("hamming"))
        .distinct()
        .filter(col("hamming") <= p(0))
    // flag passes filter the joined rows directly: no distinct over pairs
    override def matched(a: Views, b: Views, p: Seq[Int], threshold: Double,
                         within: Boolean, as: String): DataFrame =
      chunkJoin(a, b, within).filter(distance <= p(0))
        .select(col("a.doc_id").as(as)).distinct()
    val explainNames: (String, String) = ("doc_id", "mid")
    val scoreCol = "distance"
    // lowest distance, ties -> lowest match id (distances are small
    // ints, so the tie rule is load-bearing)
    def best(pairs: DataFrame): DataFrame = pairs
      .groupBy(col("doc_id"))
      .agg(min(struct(col("hamming").as("hamming"), col("mid").as("mid"))).as("w"))
      .select(col("doc_id"), col("w.mid").as("match_id"),
        col("w.hamming").as("distance"))
  }

  /** Persisted HAMMING near-dup index — the third member of the index
    * family (exact fingerprints: [[exactAgainstCorpus]]; Jaccard
    * shingles: [[buildNearDupIndex]]; 64-bit perceptual signatures:
    * this). Stores the corpus' pigeonhole chunk rows ONCE, so
    * image/audio batches dedup against a 100 TB corpus without
    * re-decoding any media: the signature is all the index ever needs.
    * Build from any (id, sig) frame (e.g.
    * [[graft.multimodal.Multimodal.imageDHash]] /
    * [[graft.multimodal.Multimodal.audioPcmHash]] output). Lifecycle:
    * `HammingIndex` / [[BandedIndex]]. */
  def buildHammingIndex(sigs: DataFrame, path: String,
                        idCol: String = "doc_id", sigCol: String = "sig",
                        maxHamming: Int = 3): Unit =
    HammingIndex.build(sigs, path, idCol, sigCol, Seq(maxHamming))

  /** Vacuum superseded hamming index versions (see
    * [[graft.api.Similarity.vacuumIndexVersions]]) — run only when no
    * reader may still hold a pre-swap resolution. */
  def vacuumHammingIndexVersions(spark: org.apache.spark.sql.SparkSession,
                                 path: String): Seq[String] =
    HammingIndex.vacuum(spark, path)

  /** Compact a persisted hamming index — the [[compactNearDupIndex]]
    * discipline for the chunk table: one file per chunk partition,
    * atomic pointer commit, results invariant. */
  def compactHammingIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String): Unit =
    HammingIndex.compact(spark, path)

  /** Append signatures under the index's own persisted maxHamming —
    * chunking differently from the build would silently break matching
    * against the old rows. */
  def appendToHammingIndex(sigs: DataFrame, path: String,
                           idCol: String = "doc_id",
                           sigCol: String = "sig"): Unit =
    HammingIndex.append(sigs, path, idCol, sigCol)

  /** One commit unit of CONTINUOUS MEDIA curation —
    * [[nearDupSuppressAndIndex]] for the 64-bit signature space (the
    * third suppressor: Jaccard text / cosine embeddings / hamming
    * perceptual signatures): drop batch signatures within the index's
    * maxHamming of an ALREADY-indexed doc (batch ids excluded), then
    * within-batch signatures with a strictly-lower-id neighbor within
    * the bound, then append the survivors' chunk rows once under
    * [[AppendLedger]]. A crash inside a previous append window repairs
    * by diffing against the FULL chunk table at (doc_id, chunk)
    * granularity — a doc's chunk rows are not guaranteed to land
    * all-or-nothing (ADVICE r11). Media decode happens upstream; this
    * pass never touches bytes. Returns surviving rows materialized;
    * consume then [[releaseMaterialized]]. */
  def hammingSuppressAndIndex(batch: DataFrame, path: String,
                              idCol: String = "doc_id",
                              sigCol: String = "sig"): DataFrame =
    HammingIndex.suppressAndIndex(batch, path, idCol, sigCol)

  /** DRY-RUN of [[hammingSuppressAndIndex]] — the decision table for
    * the perceptual-signature suppressor, completing the explain triad
    * (Jaccard [[nearDupSuppressExplain]], cosine
    * [[graft.api.Similarity.semanticSuppressExplain]]): every batch
    * sig's verdict (kept / index_dup / batch_dup) with best-match
    * evidence — LOWEST hamming distance, ties → lowest match id, as
    * (<idCol>, verdict, match_id, distance) — and no side effects. */
  def hammingSuppressExplain(batch: DataFrame, path: String,
                             idCol: String = "doc_id",
                             sigCol: String = "sig"): DataFrame =
    HammingIndex.explain(batch, path, idCol, sigCol)

  /** Streaming media dedup — [[nearDupSuppressStream]] for signature
    * frames: each micro-batch runs [[hammingSuppressAndIndex]],
    * survivors land under `outPath/batch=<id>/`, and
    * `compactEveryBatches` > 0 runs [[compactHammingIndex]] every Nth
    * batch and retention-vacuums the append ledger to `ledgerKeepLast`
    * completed markers ([[vacuumSuppressorAppendLedger]]). */
  def hammingSuppressStream(stream: DataFrame, indexPath: String,
                            outPath: String, checkpointDir: String,
                            idCol: String = "doc_id",
                            sigCol: String = "sig",
                            compactEveryBatches: Int = 0,
                            ledgerKeepLast: Int = 100000)
      : org.apache.spark.sql.streaming.StreamingQuery =
    HammingIndex.stream(stream, indexPath, outPath, checkpointDir,
      compactEveryBatches, ledgerKeepLast)(
      hammingSuppressAndIndex(_, indexPath, idCol, sigCol))

  /** [[nearDupIndexIntegrity]] for the hamming chunk store: exactly
    * maxHamming+1 chunk rows per doc (a missing chunk breaks the
    * pigeonhole guarantee — FALSE NEGATIVES for pairs whose only
    * intact shared chunk was the lost one) and exactly one distinct
    * signature per doc (two sigs under one id make delete/search
    * ambiguous). */
  def hammingIndexIntegrity(spark: org.apache.spark.sql.SparkSession,
                            path: String): DataFrame = {
    val (root, p) = HammingIndex.resolve(spark, path)
    spark.read.parquet(s"$root/chunks")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("sig")).as("n_sigs"))
      .agg(count(lit(1)).as("n_docs"),
        (coalesce(sum(when(col("n_rows") =!= (p(0) + 1).toLong, 1L)
          .otherwise(0L)), lit(0L)) === 0L).as("structure_ok"),
        (coalesce(sum(when(col("n_sigs") =!= 1L, 1L).otherwise(0L)),
          lit(0L)) === 0L).as("consistency_ok"))
      .select(lit("hamming").as("store"), col("n_docs"),
        col("structure_ok"), col("consistency_ok"))
  }

  /** Near-dup pairs ACROSS two persisted hamming indexes, from chunk
    * state alone — [[crossIndexNearDupPairs]] for the 64-bit signature
    * space: candidates from the stored pigeonhole keys, distances from
    * the stored signatures, no media re-decode. Requires equal
    * maxHamming (the chunk LAYOUTS differ otherwise — every key
    * incomparable) and disjoint ids. Output: (doc_a from A, doc_b from
    * B, hamming). */
  def crossIndexHammingPairs(spark: org.apache.spark.sql.SparkSession,
                             pathA: String, pathB: String): DataFrame =
    HammingIndex.crossPairs(spark, pathA, pathB)

  /** Merge two hamming indexes into a NEW index at `outPath` —
    * [[mergeNearDupIndexes]] for the signature space: A's docs all
    * survive, B's cross-dups (per [[crossIndexHammingPairs]], when
    * `dedupAcross`) drop, chunk rows union under A's params. Pure
    * chunk-store surgery — no media re-decode. Returns B docs dropped. */
  def mergeHammingIndexes(spark: org.apache.spark.sql.SparkSession,
                          pathA: String, pathB: String, outPath: String,
                          dedupAcross: Boolean = true): Long =
    HammingIndex.merge(spark, pathA, pathB, outPath, dedupAcross)

  /** Delete signatures from a persisted hamming index: one anti-join
    * rewrite of the chunk store into a fresh version, committed
    * atomically like [[deleteFromNearDupIndex]]. Returns the number of
    * indexed docs removed; 0 leaves the index untouched. */
  def deleteFromHammingIndex(spark: org.apache.spark.sql.SparkSession,
                             path: String, ids: DataFrame,
                             idCol: String = "doc_id"): Long =
    HammingIndex.delete(spark, path, ids, idCol)

  /** Incremental perceptual dedup: the fresh signatures with NO index
    * match within the index's maxHamming, original columns intact.
    * Candidates come from the (chunk, cval) equi-join — cost ∝ chunk
    * collisions, never fresh × corpus; the fresh side is a batch, AQE
    * broadcasts it unhinted. */
  def hammingAgainstIndex(fresh: DataFrame, path: String,
                          idCol: String = "doc_id",
                          sigCol: String = "sig"): DataFrame =
    HammingIndex.againstIndex(fresh, path, idCol, sigCol)

  /** Benchmark-contamination profile: for every corpus document, how
    * many of its distinct lowercase word n-shingles also occur anywhere
    * in `benchmark` (the eval/test set a training corpus must not
    * leak). Returns (doc_id, overlap) for documents at or above
    * `minOverlap` — the candidates [[decontaminate]] removes. The
    * GPT-3-style n-gram decontamination pass: at real scale n is 8–13;
    * the fixture uses the corpus-wide shingle width.
    *
    * Shape: benchmark collapses to its distinct shingle-hash set (eval
    * sets are tiny next to the corpus — AQE broadcasts it unhinted);
    * the corpus side is one explode + keyed equi-join + keyed count.
    * Corpus text never moves — only 8-byte shingle hashes shuffle. */
  def contaminationProfile(corpus: DataFrame, benchmark: DataFrame,
                           idCol: String = "doc_id", textCol: String = "text",
                           shingle: Int = 3, minOverlap: Int = 1): DataFrame = {
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    val benchShingles = benchmark
      .select(explode(distinctShingleHashes(lower(col(textCol)), shingle)).as("sh"))
      .distinct()
    corpus
      .select(col(idCol).as("doc_id"),
        explode(distinctShingleHashes(lower(col(textCol)), shingle)).as("sh"))
      .join(benchShingles, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** Cross-document duplicated n-gram profile — the exact-substring
    * duplication signal of the "deduplicating training data" line of
    * work, at n-gram granularity: for every document, how many of its
    * token n-gram POSITIONS carry a gram that also occurs in at least
    * one other document, and the resulting duplicated fraction.
    * Boilerplate, licenses, and templated spans light up long before
    * whole-document dedup would pair them. Output: (doc_id, n_grams,
    * n_dup_grams, dup_ratio).
    *
    * Shape: grams travel as 64-bit hashes (8 bytes/gram through both
    * keyed aggregations — document frequency, then per-doc counts);
    * short documents (< n tokens) carry zero grams and ratio 0. */
  def duplicatedNgramProfile(docs: DataFrame, idCol: String = "doc_id",
                             textCol: String = "text", n: Int = 8): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    // one-pass native gram kernel (r17, guide §1.2 step 2): the gram
    // array IS max(tokens-n+1, 0) long, so n_grams reads off its size
    // (greatest keeps the legacy 0 for null text, where size is null)
    val base = docs.select(col(idCol).as("doc_id"),
        gramHashes(col(textCol), n).getField("g").as("__g"))
      .withColumn("n_grams", greatest(size(col("__g")), lit(0)))
    val grams = base.select(col("doc_id"), explode(col("__g")).as("g"))
    val dupGrams = grams.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select("g")
    val dupCounts = grams.join(dupGrams, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("__dup"))
    base.select(col("doc_id"), col("n_grams"))
      .join(dupCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("__dup"), lit(0L)).as("n_dup_grams"),
        when(col("n_grams") > 0,
          round(coalesce(col("__dup"), lit(0L)).cast("double") / col("n_grams"), 6))
          .otherwise(lit(0.0)).as("dup_ratio"))
  }

  /** Exact-substring span REMOVAL — the ExactSubstr half of the
    * "deduplicating training data" line of work, at token granularity:
    * every token n-gram occurring at least `minCount` times corpus-wide
    * (across documents OR repeated within one) marks its span, spans
    * are merged per document, and the covered tokens are CUT — the
    * surgical alternative to dropping whole near-dup documents when the
    * duplication is boilerplate, licenses, or templated fragments
    * embedded in otherwise-unique text. All occurrences are removed
    * (the reference method's default — a span that exists elsewhere
    * carries no unique signal). Matching is case-insensitive; output
    * text is whitespace-normalized (tokens rejoined with single
    * spaces), with original token case preserved. Documents shorter
    * than n tokens pass through (normalized) untouched; a fully-covered
    * document survives as an empty string so the caller decides whether
    * to drop it. Output: (idCol, textCol, n_tokens, n_removed).
    *
    * Shape: grams travel as 8-byte hashes through one keyed count; the
    * interval merge windows ONLY over marked gram starts (the
    * duplicated subset — never the corpus), so the cover never blows up
    * n-fold; per-doc spans ride back as one small array on a keyed
    * join, and the cut itself is a narrow codegen'd projection inside
    * the document row — text never explodes token-wise. */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text", n: Int = 50,
                            minCount: Int = 2): DataFrame =
    removeDuplicatedSpansTiered(docs, idCol, textCol, Seq((n, minCount)))

  /** VARIABLE-LENGTH span removal — the multi-tier generalization of
    * [[removeDuplicatedSpans]] that closes the gap with the published
    * ExactSubstr's maximal-repeat semantics without a distributed
    * suffix array: each (n, minCount) tier marks its own repeated
    * n-gram spans, and the UNION of all tiers' marked intervals merges
    * into one cover before a single cut. The tiers encode the
    * frequency–length tradeoff a real curation pass wants: a LONG
    * passage shared by even two documents is boilerplate (e.g. (50, 2)
    * — and a repeat of any length ≥ n is fully covered by its repeated
    * n-grams, so one tier handles all longer maximal repeats), while a
    * SHORT phrase is only boilerplate when it recurs widely (e.g.
    * (8, 10)) — cutting rare short matches would shred natural
    * language. A single-n pass cannot express this: lowering n to
    * catch short boilerplate cuts every rare short match with it.
    *
    * Same scale shape as the single-tier form, ×|tiers| gram passes:
    * 8-byte gram hashes through keyed counts, the interval merge
    * windows only over MARKED starts, the cut is one narrow projection.
    * Output: (idCol, textCol, n_tokens, n_removed). */
  def removeDuplicatedSpansTiered(docs: DataFrame, idCol: String = "doc_id",
                                  textCol: String = "text",
                                  tiers: Seq[(Int, Int)] = Seq((8, 10), (20, 2))
                                 ): DataFrame = {
    require(tiers.nonEmpty, "at least one (n, minCount) tier required")
    tiers.foreach { case (n, minCount) =>
      require(n >= 1, s"n must be positive, got $n")
      require(minCount >= 2, s"minCount below 2 would cut everything, got $minCount")
    }
    val toks = filter(wsTokens(col(textCol)), t => t =!= "")
    val base = docs.select(col(idCol).as("doc_id"), toks.as("__t"))
    // gram markers come from the one-pass native kernel over the
    // case-folded text (r17, guide §1.2 step 2): per-position hash
    // equality classes match the legacy interpreted chain
    // (posexplode(transform(sequence) + slice + concat_ws + lower +
    // xxhash64) — see GramHashes), and lowercasing never moves a
    // token boundary, so positions line up with `base`'s
    // original-case tokens that the final cut rejoins on.
    def markedSpans(n: Int, minCount: Int): DataFrame = {
      val grams = docs.select(col(idCol).as("doc_id"),
        posexplode(gramHashes(col(textCol), n).getField("g"))
          .as(Seq("pos", "g")))
      val dupGrams = grams.groupBy("g")
        .agg(count(lit(1)).as("c")).filter(col("c") >= minCount).select("g")
      grams.join(dupGrams, "g")
        .select(col("doc_id"), col("pos"), (col("pos") + (n - 1)).as("e"))
    }
    // classic running-max interval merge of the union of every tier's
    // marked [pos, pos+n-1] spans: a span that starts past every
    // previous end opens a group. Ties on pos (two tiers marking the
    // same start) are order-independent: a tied row can never open a
    // group, since the earlier twin's end ≥ its own start.
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    val spans = tiers.map { case (n, mc) => markedSpans(n, mc) }
      .reduce(_ unionAll _)
      .withColumn("brk",
        when(col("pos") > coalesce(max(col("e")).over(wPrev), lit(-1)), 1)
          .otherwise(0))
      .withColumn("grp", sum(col("brk")).over(wRun))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("__spans"))
    val noSpans = array().cast("array<struct<s:int,e:int>>")
    base.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol),
        coalesce(col("__spans"), noSpans).as("__spans"), col("__t"))
      .withColumn("__keep",
        // guard: sequence(0, -1) would count DOWN, not come back empty
        filter(when(size(col("__t")) > 0,
            sequence(lit(0), size(col("__t")) - 1))
          .otherwise(array().cast("array<int>")),
          i => !exists(col("__spans"),
            sp => i >= sp.getField("s") && i <= sp.getField("e"))))
      .select(col(idCol),
        array_join(transform(col("__keep"),
          i => element_at(col("__t"), i + 1)), " ").as(textCol),
        size(col("__t")).as("n_tokens"),
        (size(col("__t")) - size(col("__keep"))).as("n_removed"))
  }

  /** Remove benchmark-contaminated documents from a corpus: drops every
    * document sharing at least `minOverlap` distinct n-shingles with
    * the benchmark set (per [[contaminationProfile]]); all other rows
    * pass through unchanged. One anti-join on the id — the corpus is
    * never widened or re-encoded. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    shingle: Int = 3, minOverlap: Int = 1): DataFrame =
    corpus.join(
      contaminationProfile(corpus, benchmark, idCol, textCol, shingle, minOverlap)
        .select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")

  /** FRACTIONAL contamination profile — the PaLM-style complement to
    * [[contaminationProfile]]'s absolute count: for EVERY corpus
    * document (zero rows included), its distinct-shingle count and how
    * many of those shingles occur in the benchmark. An absolute floor
    * treats a 50-word quiz question and a 5000-word article the same;
    * the fraction is what "substantially contained in the eval set"
    * actually means. Output: (doc_id, n_shingles, overlap) — callers
    * compare by integer cross-multiplication, never a float ratio.
    *
    * Shape: identical to the absolute profile (benchmark collapses to
    * a distinct hash set, corpus side is explode + keyed join + keyed
    * count) plus one more keyed count for the per-doc denominator —
    * still only 8-byte hashes shuffling. */
  def contaminationFractionProfile(corpus: DataFrame, benchmark: DataFrame,
                                   idCol: String = "doc_id",
                                   textCol: String = "text",
                                   shingle: Int = 3): DataFrame = {
    val benchShingles = benchmark
      .select(explode(distinctShingleHashes(lower(col(textCol)), shingle)).as("sh"))
      .distinct()
    // ONE explode of the corpus feeds BOTH counts: left-join the
    // benchmark set (distinct on sh — the join can't duplicate rows)
    // and count total vs matched in one keyed aggregation. The
    // previous two-aggregation form exploded and shingle-hashed every
    // corpus document twice — the dominant cost at corpus scale.
    val per = corpus.select(col(idCol).as("doc_id"),
        explode(distinctShingleHashes(lower(col(textCol)), shingle)).as("sh"))
      .join(benchShingles.withColumn("__b", lit(1)), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("__b")).as("overlap"))
    // the id spine keeps null-text docs (whose explode emits nothing)
    // in the profile with zero counts
    corpus.select(col(idCol).as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("overlap"), lit(0L)).as("overlap"))
  }

  /** Drop every document whose benchmark-shingle overlap exceeds
    * `maxOverlapPct` percent of its own distinct shingles
    * (100·overlap > pct·n_shingles — integer-exact, no float ratio).
    * A document shorter than the shingle width hashes as ONE
    * whole-text shingle (the native expression's contract), so a
    * short doc fully contained in the benchmark still drops. One
    * anti-join on the id, corpus never re-encoded. */
  def decontaminateByFraction(corpus: DataFrame, benchmark: DataFrame,
                              idCol: String = "doc_id",
                              textCol: String = "text",
                              shingle: Int = 3,
                              maxOverlapPct: Int = 50): DataFrame = {
    require(maxOverlapPct >= 0 && maxOverlapPct <= 100,
      s"maxOverlapPct must be in [0, 100], got $maxOverlapPct")
    val dropped =
      contaminationFractionProfile(corpus, benchmark, idCol, textCol, shingle)
        .filter(lit(100) * col("overlap") > lit(maxOverlapPct) * col("n_shingles"))
        .select(col("doc_id").as(idCol))
    corpus.join(dropped, Seq(idCol), "left_anti")
  }

  /** Paragraph-level exact dedup — the CCNet line-dedup stage: split
    * every document on `sep`, keep only the globally FIRST occurrence
    * of each distinct non-empty paragraph (first = smallest
    * (document id, position) pair), and reassemble documents from
    * their surviving paragraphs in original order. Documents whose
    * every paragraph occurred earlier disappear from the output —
    * that is the point: boilerplate headers/footers shared by
    * thousands of pages survive exactly once, corpus-wide.
    *
    * Scale shape: paragraphs shuffle by a 128-bit md5 key twice — one
    * keyed aggregate electing each paragraph's winner (a min-struct,
    * partially aggregated map-side) and one keyed equi-join carrying
    * the paragraph text back to its winning slot — then one keyed
    * regroup by document rebuilds the survivors. No window over the
    * corpus, no driver-side state; the dedup key is the hash, so two
    * md5-colliding distinct paragraphs would merge (the standard
    * accepted risk, same as [[exact]]). Output: (idCol, textCol) with
    * only surviving documents. */
  def dedupParagraphs(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", sep: String = "\n"): DataFrame = {
    val paras = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "para")))
      .filter(col("para") =!= "")
      .withColumn("ph", md5(col("para").cast("binary")))
    val winners = paras.groupBy(col("ph"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
    paras.join(winners, "ph")
      .filter(col("doc_id") === col("w.doc_id") && col("pos") === col("w.pos"))
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")),
        sep).as(textCol))
      .withColumnRenamed("doc_id", idCol)
  }

  /** Keep-one dedup over a near-dup pair graph: connected components by
    * iterative min-label propagation with POINTER DOUBLING — each round
    * takes the min over (own label, neighbors' labels, label-of-label),
    * so the distance the component min has travelled at least doubles
    * per round: O(log diameter) rounds instead of O(diameter) on
    * chain-shaped components (a 1000-node path converges in ~11 rounds,
    * not 999 — KeepOneSpec pins it), at one extra keyed self-join per
    * round. Canonical = component min. Input: (doc_a, doc_b) pairs;
    * output: (doc_id, canonical_id) for every node in a pair.
    *
    * Correctness: labels are always member ids, monotonically
    * non-increasing, so the loop converges; at a fixpoint labels are
    * constant across every edge and the min node's own label (≤ itself,
    * ≥ component min) forces the constant to be the component min.
    *
    * Scale hygiene and per-round shape (re-derived from the r14
    * stage-timing A/B at 10M chain nodes — `graft.tools.ProbeCC`):
    *  - the edge set is materialized once via localCheckpoint,
    *    SYMMETRIZED, SELF-LOOPED, and PRE-PARTITIONED on the per-round
    *    join key, with the layout DECLARED past the checkpoint
    *    (PlanAudit.checkpointHash — localCheckpoint records
    *    UnknownPartitioning under AQE, measured in r17 by
    *    graft.tools.ProbePartitioning, so without the declaration
    *    every round re-shuffled the edges). The edge rows shuffle once
    *    for the whole run, not once per round. The self-loops fold
    *    each node's own label into the
    *    neighborhood-min aggregation, so a round's propagate step is
    *    ONE keyed join + ONE keyed agg — the pre-r14 shape paid an
    *    extra node-keyed left join (two more 10M-row exchanges per
    *    round) to merge own labels back in;
    *  - each round chases the label pointer TWICE (label :=
    *    label(label), twice): reach grows ×4 per round instead of ×2,
    *    so a diameter-D component converges in ~log₄(D) rounds; a
    *    chase is one cheap self-join on the materialized labels
    *    (~1.3 s at 10M nodes) while a full round is 4-6 s — halving
    *    the round count for two extra chases wins ~40%;
    *  - convergence reads off the label SUM (exact decimal, one scan
    *    of the round's own materialization): labels are member ids,
    *    per-node monotonically non-increasing, so the sum strictly
    *    decreases until the fixpoint and equality IS convergence — no
    *    old-label column, no convergence join;
    *  - superseded rounds release their blocks.
    * Fails loudly if convergence exceeds maxIter. */
  def keepOne(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    // The checkpointed RDD behind a localCheckpoint()'d frame, read off
    // its own plan (LogicalRDD) — unpersisting by a global
    // getPersistentRDDs diff would race concurrent threads caching on
    // the same session and could truncate THEIR only copy of a
    // checkpointed lineage.
    def ownRddId(df: DataFrame): Option[Int] =
      df.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }
    def release(id: Option[Int]): Unit = id.foreach(i =>
      sc.getPersistentRDDs.get(i).foreach(_.unpersist(false)))
    val np = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val sym = pairs.select(col("doc_a"), col("doc_b"))
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val edges = PlanAudit.checkpointHash(sym
      .union(sym.select(col("doc_a"), col("doc_a").as("doc_b")).distinct())
      .repartition(np, col("doc_b")), np, Seq("doc_b"))
    var prevId: Option[Int] = None
    var labels = edges.select(col("doc_a").as("node")).distinct()
      .withColumn("label", col("node"))
    // decimal(38,0) exact convergence sum: strictly decreasing until
    // fixpoint (ids can be any long; 1e10 rows × 9e18 ids still fits
    // 38 digits). r18: the sum rides the chase2 checkpoint job as an
    // observe metric — the standalone labelSum aggregation was one
    // extra job and one extra pass over the labels frame per iteration.
    var prevSum: java.math.BigDecimal = null
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // neighborhood min over the self-looped edges: the self-loop row
      // carries the node's own label into the same aggregation,
      // partially aggregated map-side before the exchange
      val stepped = PlanAudit.checkpoint(edges
        .join(labels, edges("doc_b") === labels("node"))
        .groupBy(col("doc_a").as("node")).agg(min("label").as("label")))
      // pointer doubling, chased twice: label := min(label,
      // label(label)) — the join is keyed on the label (a member id
      // whose row always exists, so exactly one match). As labels
      // converge this key distribution degenerates toward the
      // component minima (a giant component funnels its rows onto one
      // key) — deliberately un-hinted so AQE's skew-join split (on by
      // default) re-splits those partitions; the per-key match side is
      // a single row, the duplicable case the splitter handles.
      def chase(df: DataFrame,
                obs: Option[org.apache.spark.sql.Observation]): DataFrame = {
        val byNode = df.select(col("node").as("pnode"), col("label").as("plabel"))
        val joined = df
          .join(byNode, df("label") === byNode("pnode"))
          .select(df("node"), least(df("label"), col("plabel")).as("label"))
        PlanAudit.checkpoint(obs.fold(joined)(o => joined.observe(o,
          sum(col("label").cast("decimal(38,0)")).as("s"))))
      }
      val chased1 = chase(stepped, None)
      release(ownRddId(stepped))
      val sumObs = org.apache.spark.sql.Observation()
      val next = chase(chased1, Some(sumObs))
      release(ownRddId(chased1))
      val s = sumObs.get("s").asInstanceOf[java.math.BigDecimal]
      converged = (s == null && prevSum == null) ||
        (s != null && prevSum != null && s.compareTo(prevSum) == 0)
      prevSum = s
      release(prevId)
      prevId = ownRddId(next)
      labels = next
      iter += 1
    }
    // the edge materialization only feeds the loop — release it; the
    // final labels stay MATERIALIZED for the caller
    // ([[releaseMaterialized]] contract)
    ownRddId(edges).foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    require(converged,
      s"connected-components did not converge within $maxIter iterations")
    labels.select(col("node").as("doc_id"), col("label").as("canonical_id"))
  }

  /** Quality-aware survivor election over near-dup components: label
    * components with [[keepOne]]'s min-label propagation, then elect
    * each component's survivor by the HIGHEST score (ties → lowest id)
    * — what a production dedup pass actually keeps (min-id keeps
    * whichever duplicate happened to be crawled first; keepBest keeps
    * the best-quality copy). `scores` must cover every doc appearing
    * in `pairs` (members without a score are dropped with their
    * component — score your corpus first). Output: (doc_id,
    * canonical_id, survivor_id) for every component member. Scale
    * shape: the election is one row_number window keyed by component —
    * components are near-dup clusters, bounded in practice; nothing
    * funnels through a single partition. */
  def keepBest(pairs: DataFrame, scores: DataFrame, idCol: String = "doc_id",
               scoreCol: String = "score", maxIter: Int = 50): DataFrame = {
    val labels = keepOne(pairs, maxIter)
    val sc = scores.select(col(idCol).as("doc_id"), col(scoreCol).as("__score"))
    val members = labels.join(sc, "doc_id")
    val w = Window.partitionBy("canonical_id")
      .orderBy(col("__score").desc, col("doc_id"))
    val survivors = members.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("canonical_id"), col("doc_id").as("survivor_id"))
    members.join(survivors, "canonical_id")
      .select(col("doc_id"), col("canonical_id"), col("survivor_id"))
  }

  /** Persisted Bloom "seen-ids" filter — the probabilistic fast path
    * in front of the exact dedup indexes: ~1.2 bytes per expected id
    * at fpp=1% (≈12 MB per 10M ids) answer "might this id have been
    * ingested before?" without touching the index. The contract is
    * asymmetric by design: NO false negatives (an id that was
    * built/appended ALWAYS flags), bounded false positives (`fpp`), so
    * [[markSeen]]'s unflagged rows are GUARANTEED new and skip the
    * exact check entirely — only the flagged minority pays the index
    * join. Ids hash through xxhash64 (any type).
    *
    * Persistence uses the [[VersionedIndex]] discipline shared with
    * the near-dup/hamming/IVF indexes: each build/append writes a
    * COMPLETE new `path/v<N>` tree (shard files + `_meta`) and commits
    * by flipping the `path/_current` pointer — a crash at any earlier
    * moment leaves the previous version fully live. Appends serialize
    * on a per-path JVM lock, and the pointer commit re-checks the
    * based-on version first, so a cross-process racing append FAILS
    * LOUDLY (IllegalStateException; retry it) instead of silently
    * dropping the other writer's ids — the false-negative hazard a
    * plain read-merge-write file has. The stage-recheck-commit
    * sequence itself runs under an exclusive-create `_lock` file, so
    * two processes cannot land inside the check-then-rename window
    * and both commit; a crashed holder leaves a stale `_lock` to
    * remove manually (loud bounded-wait failure, never silent theft).
    * Superseded versions accumulate until [[vacuumSeenFilter]].
    *
    * Sharding (`shards` > 1) bounds PER-FILTER driver memory for
    * builds and appends: ids route to `pmod(xxhash64(id), shards)`,
    * each shard sized `expectedItems / shards`, which Spark's Bloom
    * aggregate clamps to 4M ids and 64 Mi bits (8 MiB;
    * spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits) —
    * size shards so each stays under ~4M ids, past which a shard's fpp
    * degrades. [[markSeen]] handles any shard
    * count transparently (each id probes exactly its own shard via one
    * CASE dispatch); note the marking PLAN carries every shard's bytes
    * (total ~1.2 B/id regardless of shard count) — at extreme corpus
    * sizes mark in per-shard passes over pre-partitioned input. */
  def buildSeenFilter(df: DataFrame, idCol: String, path: String,
                      expectedItems: Long = 1000000L,
                      fpp: Double = 0.01, shards: Int = 1): Unit = {
    val spark = df.sparkSession
    val filters = shardFilters(df, idCol, shards,
      math.max(1L, expectedItems / shards), fpp)
    val next = VersionedIndex.nextVersion(spark, path)
    writeSeenVersion(spark, path, next, shards, expectedItems, fpp, filters)
    // rebuild semantics: a build replaces whatever was current
    VersionedIndex.commitPointer(spark, path, next)
  }

  /** Merge a new batch into the persisted filter (same-parameter
    * per-shard batch filters → bit-compatible mergeInPlace → new
    * version + CAS pointer commit). Size for the LIFETIME id count at
    * build: a Bloom filter never shrinks, and appending past
    * expectedItems degrades fpp, never correctness. Throws
    * IllegalStateException if a concurrent writer committed between
    * this append's read and its commit — retry on a fresh read. */
  def appendToSeenFilter(df: DataFrame, idCol: String, path: String): Unit =
    seenLock(path).synchronized {
      val spark = df.sparkSession
      val st = readSeenState(spark, path)
      val batch = shardFilters(df, idCol, st.shards,
        math.max(1L, st.items / st.shards), st.fpp)
      st.filters.zip(batch).foreach { case (old, b) => old.mergeInPlace(b) }
      commitSeenVersion(spark, path, st)
    }

  /** Build-or-append in one serialized step — the ingest commit loop's
    * entry point: the existence check and the write hold the same
    * per-path lock, so two in-process committers cannot both "create"
    * the filter and drop each other's ids. Cross-process FIRST-build
    * races are not detected (both builds commit unconditionally) —
    * pre-create the filter before fanning out across processes. */
  def buildOrAppendSeenFilter(df: DataFrame, idCol: String, path: String,
                              expectedItems: Long = 1000000L,
                              fpp: Double = 0.01, shards: Int = 1): Unit =
    seenLock(path).synchronized {
      if (!seenFilterExists(df.sparkSession, path))
        buildSeenFilter(df, idCol, path, expectedItems, fpp, shards)
      else appendToSeenFilter(df, idCol, path)
    }

  /** Merge two persisted seen filters into a NEW filter at `outPath`
    * — federation for the probabilistic tier (two ingest pipelines,
    * each maintaining its own filter, converge on one): per-shard
    * bitwise OR of the Bloom bit arrays, so every id flagged by EITHER
    * input flags in the merge — the no-false-negatives contract
    * survives union exactly. Requires identical (shards, expected
    * items, fpp) — Bloom arrays of different geometry are not
    * bit-compatible, and the shard ROUTING must agree or an id would
    * probe the wrong shard's bits. The union carries both corpora's
    * ids in arrays sized for one: fpp degrades toward the sum of the
    * inputs' (never correctness) — size both pipelines' filters for
    * the combined lifetime count when a merge is planned. Idempotent
    * overwrite (a re-merge commits a fresh version at outPath) under
    * the SAME CAS discipline as [[appendToSeenFilter]]: if a
    * concurrent writer committed at outPath between this merge's start
    * and its commit, the staged version is deleted and the merge FAILS
    * LOUDLY — its ids were flagged by a filter this merge never read,
    * and committing over it would un-flag them (the false negative the
    * contract forbids). Retry the merge on failure. */
  def mergeSeenFilters(spark: org.apache.spark.sql.SparkSession,
                       pathA: String, pathB: String, outPath: String): Unit =
    seenLock(outPath).synchronized {
      val based = seenFilterVersion(spark, outPath)
      val a = readSeenState(spark, pathA)
      val b = readSeenState(spark, pathB)
      require(a.shards == b.shards && a.items == b.items && a.fpp == b.fpp,
        s"seen-filter geometry differs: $pathA has (shards, items, fpp)=" +
          s"(${a.shards}, ${a.items}, ${a.fpp}), $pathB has " +
          s"(${b.shards}, ${b.items}, ${b.fpp}) — Bloom bit arrays are " +
          "not bit-compatible; rebuild one side to match")
      a.filters.zip(b.filters).foreach { case (fa, fb) => fa.mergeInPlace(fb) }
      commitSeenVersion(spark, outPath, a, based)
    }

  /** True when a committed filter exists at `path`. */
  def seenFilterExists(spark: org.apache.spark.sql.SparkSession,
                       path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(p, "_current"))
  }

  /** Delete superseded filter versions (every append leaves one). Run
    * only when no reader may still hold a pre-swap resolution.
    * `keepVersions` names superseded versions a version-pinned replay
    * may still need (the ingest `_dedup` ledger's pins — ADVICE r16):
    * they survive the vacuum. */
  def vacuumSeenFilter(spark: org.apache.spark.sql.SparkSession,
                       path: String,
                       keepVersions: Set[String] = Set.empty): Seq[String] =
    VersionedIndex.vacuum(spark, path, Seq.empty, keepVersions)

  /** Flag each row's id against the persisted filter: `flagCol` true =
    * PROBABLY seen (verify exactly), false = GUARANTEED new. The
    * filter rides into the plan as literals behind the native
    * might_contain expression — codegen'd, no UDF, no shuffle; with
    * shards, one CASE on the id's shard dispatches to exactly one
    * bloom probe per row. */
  def markSeen(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
               idCol: String, path: String,
               flagCol: String = "probably_seen",
               version: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.GraftExprBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    // Version-pinned reads hit a small READ-ONLY cache (ADVICE r16): a
    // committed version dir is immutable, and the ingest suppressor
    // consults the same pinned version on every commit of a quiet
    // stretch — re-deserializing a multi-MB Bloom from disk per commit
    // was pure waste. Only the PINNED branch caches: the unpinned read
    // returns state the append paths MUTATE via mergeInPlace, which
    // must never alias a cached copy.
    val st = version.fold(readSeenState(spark, path))(v =>
      seenStateCache.computeIfAbsent((path, v),
        _ => readSeenStateAt(spark, path, v)))
    def mc(bf: org.apache.spark.util.sketch.BloomFilter): Column = {
      val os = new java.io.ByteArrayOutputStream()
      bf.writeTo(os)
      GraftExprBridge.column(BloomFilterMightContain(
        GraftExprBridge.expression(lit(os.toByteArray)),
        GraftExprBridge.expression(xxhash64(col(idCol)))))
    }
    if (st.shards == 1) df.withColumn(flagCol, mc(st.filters.head))
    else {
      val shardCol = pmod(xxhash64(col(idCol)), lit(st.shards.toLong)).cast("int")
      // one flat CASE (not nested whens): codegen splits wide CaseWhen
      // branches into separate methods, so shard count never trips the
      // janino 64 KB method limit
      val flag = (1 until st.shards)
        .foldLeft(when(shardCol === 0, mc(st.filters(0)))) { (acc, s) =>
          acc.when(shardCol === s, mc(st.filters(s)))
        }
        .otherwise(lit(false))
      df.withColumn(flagCol, flag)
    }
  }

  /** Observability report for a persisted seen filter — one row per
    * shard, completing the ops console over the fourth persisted store
    * (near-dup/hamming/IVF have [[nearDupIndexIntegrity]] siblings).
    * The operational question it answers is the one a Bloom filter
    * degrades on silently: HOW FULL is each shard? `saturation`
    * (set-bit fraction) and `fpp_now` (the filter's own
    * `expectedFpp()` = saturation^k) rise as appends approach the
    * build-time `expected_items`; once `fpp_now` crosses the target
    * `fpp`, the exact-check tier behind [[markSeen]] starts paying for
    * filter exhaustion — rebuild bigger. `est_ids` is the
    * Swamidass–Baldi cardinality estimate -(m/k)·ln(1 − X/m) per shard
    * (k re-derived exactly as the filter's constructor chose it:
    * max(1, round(m/n·ln 2)) over the shard's clamped geometry
    * [[seenGeometry]] — n = expected_items/shards capped at Spark's
    * maxNumItems); a shard at full saturation reports
    * Long.MaxValue — the estimate is unbounded there, which is itself
    * the signal. Driver-side metadata read (≤4096 shard headers +
    * popcounts), no Spark jobs, no shuffle. */
  def seenFilterStats(spark: org.apache.spark.sql.SparkSession,
                      path: String): DataFrame = {
    val st = readSeenState(spark, path)
    val (n, bits) = seenGeometry(spark, math.max(1L, st.items / st.shards), st.fpp)
    val k = math.max(1L, math.round(bits.toDouble / n * math.log(2.0)))
    val rows = st.filters.zipWithIndex.map { case (bf, s) =>
      val m = bf.bitSize()
      val x = bf.cardinality()
      val est =
        if (x >= m) Long.MaxValue
        else math.round(-(m.toDouble / k) * math.log1p(-(x.toDouble / m)))
      (s, st.version, st.shards, st.items, st.fpp, m, x,
        x.toDouble / m, bf.expectedFpp(), est)
    }
    spark.createDataFrame(rows).toDF("shard", "version", "n_shards",
      "expected_items", "fpp", "bit_size", "bits_set", "saturation",
      "fpp_now", "est_ids")
  }

  /** Read-only cache of version-PINNED filter states for [[markSeen]]
    * (ADVICE r16). Bounded: entries evict once the map exceeds 8 —
    * the suppressor pins one version per quiet stretch, so 8 covers
    * several concurrently-suppressing tables with margin while keeping
    * worst-case residency a few filter sizes. Never handed to a
    * mutating path (mergeInPlace aliasing would corrupt the cache). */
  private val seenStateCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), SeenFilterState]() {
      override def computeIfAbsent(
          k: (String, String),
          f: java.util.function.Function[_ >: (String, String), _ <: SeenFilterState])
          : SeenFilterState = {
        if (size() > 8) clear() // coarse, correct: cache is pure read-through
        super.computeIfAbsent(k, f)
      }
    }

  /** Test hook: drop the pinned-state cache, simulating the fresh
    * process a real crash-replay runs in (the vacuumed-pin loud-failure
    * specs need the uncached read path). */
  private[graft] def clearSeenStateCache(): Unit = seenStateCache.clear()

  /** Per-path append locks: in-process writers serialize here; the CAS
    * on the `_current` pointer plus [[withSeenPathLock]] catch
    * cross-process racers. */
  private val seenFilterLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def seenLock(path: String): Object =
    seenFilterLocks.computeIfAbsent(path, _ => new Object)

  /** Cross-process critical section for the seen filter's
    * stage-recheck-commit sequence: an exclusive-create `_lock` file
    * under `path` (atomic on HDFS; effectively so on local FS), held
    * across version numbering, the staged write, the based-on recheck,
    * and the pointer rename — closing the check-then-rename window two
    * processes could previously land inside (both would commit and one
    * append's ids silently dropped, the false negative the filter
    * contract forbids). Bounded wait, then a LOUD failure: a crashed
    * holder leaves a stale `_lock`, which an operator must remove
    * manually after confirming no writer is live — deadlocking a
    * correctness-critical writer beats silently stealing a live
    * holder's lock.
    *
    * Automated break path (VERDICT r11 #8, OPT-IN): set
    * `spark.graft.seenFilter.lockStaleMs` > 0 and a lock whose file is
    * older than that is treated as crashed — deleted with a loud WARN,
    * acquisition retried. Off by default because no age proves a
    * holder dead: only enable it above the longest commit the
    * deployment can legitimately run (a live holder's lock file age IS
    * its commit duration). Either way the failure message now reports
    * the lock's age, so the alert carries the evidence the manual call
    * needs. */
  private def withSeenPathLock[T](spark: org.apache.spark.sql.SparkSession,
                                  path: String)(body: => T): T = {
    import org.apache.hadoop.fs.Path
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new Path(base, "_lock")
    val staleMs = spark.conf
      .getOption("spark.graft.seenFilter.lockStaleMs").map(_.toLong)
      .getOrElse(0L)
    def lockAgeMs(): Option[Long] =
      try Some(System.currentTimeMillis() -
        fs.getFileStatus(lock).getModificationTime)
      catch { case _: java.io.IOException => None } // racing holder released
    var attempts = 0
    while (!graft.core.Commit.createExclusive(fs, lock)) {
      val age = lockAgeMs()
      if (staleMs > 0 && age.exists(_ > staleMs)) {
        // break-or-alert: the operator opted into an age bound, and
        // this lock has outlived it — declare the holder crashed
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"breaking stale seen-filter lock $lock (age ${age.get} ms " +
            s"> spark.graft.seenFilter.lockStaleMs=$staleMs) — if a " +
            "writer was live, its commit may now race this one")
        fs.delete(lock, false)
        // loop retries the exclusive create — another waiter may
        // win the broken lock first, which is fine
      } else {
        attempts += 1
        if (attempts >= 100) throw new IllegalStateException(
          s"could not acquire seen-filter lock $lock after ~10 s — " +
            "another writer holds it, or a crashed writer left it " +
            s"behind (lock age: ${age.map(_ + " ms").getOrElse("unknown")}; " +
            "remove the stale _lock manually after confirming no " +
            "writer is live, or opt into automated breaking via " +
            "spark.graft.seenFilter.lockStaleMs)")
        Thread.sleep(100)
      }
    }
    try body finally { fs.delete(lock, false); () }
  }

  private[graft] final case class SeenFilterState(
      version: String, shards: Int, items: Long, fpp: Double,
      filters: IndexedSeq[org.apache.spark.util.sketch.BloomFilter])

  /** The (items, bits) geometry a Bloom filter for `items` ids at `fpp`
    * really gets from Spark's `bloom_filter_agg` (and so from
    * `stat.bloomFilter`): both are clamped to
    * spark.sql.optimizer.runtime.bloomFilter.maxNumItems / maxNumBits
    * (4M ids, 64 Mi bits by default). */
  private def seenGeometry(spark: org.apache.spark.sql.SparkSession, items: Long,
                           fpp: Double): (Long, Long) = {
    def cap(k: String) =
      spark.conf.get(s"spark.sql.optimizer.runtime.bloomFilter.$k").toLong
    (math.min(items, cap("maxNumItems")),
      math.min(org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(items, fpp),
        cap("maxNumBits")))
  }

  /** `stat.bloomFilter` that tolerates EMPTY input, in one job: the
    * same `bloom_filter_agg` aggregate Spark's stat.bloomFilter
    * selects, given the clamped [[seenGeometry]] it would build, but
    * its NULL result — which bloom_filter_agg yields over zero rows
    * only, and on which stat.bloomFilter NPEs — maps to an empty filter
    * of that same geometry (bit-compatible for merge), so an empty
    * batch (a stream's first trigger, a shard no batch id routed to)
    * needs no separate emptiness scan. A failed non-empty build still
    * throws: nothing here can substitute an empty filter for one
    * holding ids. */
  private[graft] def bloomOf(df: DataFrame, c: Column, items: Long,
                             fpp: Double): org.apache.spark.util.sketch.BloomFilter = {
    import org.apache.spark.sql.GraftExprBridge
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.util.sketch.BloomFilter
    val (n, bits) = seenGeometry(df.sparkSession, items, fpp)
    val agg = new BloomFilterAggregate(GraftExprBridge.expression(c),
      GraftExprBridge.expression(lit(n)), GraftExprBridge.expression(lit(bits)))
    val bytes = df.select(GraftExprBridge.column(agg.toAggregateExpression()))
      .head().getAs[Array[Byte]](0)
    if (bytes == null) BloomFilter.create(n, bits) else BloomFilter.readFrom(bytes)
  }

  /** Per-shard Bloom filters over xxhash64(id); shard = pmod(hash,
    * shards). The multi-shard pass caches the narrow (hash, shard)
    * projection so the S per-shard jobs rescan 12 bytes/row, not the
    * corpus. */
  private def shardFilters(df: DataFrame, idCol: String, shards: Int,
                           perShardItems: Long, fpp: Double)
      : IndexedSeq[org.apache.spark.util.sketch.BloomFilter] = {
    require(shards >= 1 && shards <= 4096, s"shards must be in [1, 4096], got $shards")
    val hashed = df.select(xxhash64(col(idCol)).as("__h"),
      pmod(xxhash64(col(idCol)), lit(shards.toLong)).cast("int").as("__s"))
    if (shards == 1) IndexedSeq(bloomOf(hashed, col("__h"), perShardItems, fpp))
    else {
      val cached = hashed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try (0 until shards).map(s =>
        bloomOf(cached.filter(col("__s") === s), col("__h"), perShardItems, fpp))
        .toIndexedSeq
      finally { cached.unpersist(false); () }
    }
  }

  private def writeSeenVersion(spark: org.apache.spark.sql.SparkSession,
                               path: String, version: String, shards: Int,
                               items: Long, fpp: Double,
                               filters: Seq[org.apache.spark.util.sketch.BloomFilter]): Unit = {
    import org.apache.hadoop.fs.Path
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(base) || fs.getFileStatus(base).isDirectory,
      s"seen-filter path $path is a plain file (pre-versioned layout) — " +
        "delete it and rebuild with buildSeenFilter")
    val vdir = new Path(base, version)
    fs.mkdirs(vdir)
    filters.zipWithIndex.foreach { case (bf, s) =>
      val out = new java.io.DataOutputStream(
        fs.create(new Path(vdir, f"filter-$s%04d"), true))
      try bf.writeTo(out) finally out.close()
    }
    // _meta last — but completeness is anyway gated by the pointer
    val out = new java.io.DataOutputStream(fs.create(new Path(vdir, "_meta"), true))
    try { out.writeInt(shards); out.writeLong(items); out.writeDouble(fpp) }
    finally out.close()
  }

  /** Write the (already-merged) state as a new version and CAS the
    * pointer from the version `st` was read at. */
  private[graft] def commitSeenVersion(spark: org.apache.spark.sql.SparkSession,
                                path: String, st: SeenFilterState): Unit =
    commitSeenVersion(spark, path, st, Some(st.version))

  /** Write `st` as a new version at `path` and CAS the pointer: if
    * `_current` is no longer `based` (None: no filter yet), delete the
    * staged version and fail loudly — ids were NOT lost (the racer's
    * commit stands; committing would drop its ids, so the append or
    * merge must retry on a fresh read). */
  private def commitSeenVersion(spark: org.apache.spark.sql.SparkSession,
                                path: String, st: SeenFilterState,
                                based: Option[String]): Unit =
    withSeenPathLock(spark, path) {
      import org.apache.hadoop.fs.Path
      val next = VersionedIndex.nextVersion(spark, path)
      writeSeenVersion(spark, path, next, st.shards, st.items, st.fpp, st.filters)
      val cur = seenFilterVersion(spark, path)
      if (cur != based) {
        val base = new Path(path)
        val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new Path(base, next), true)
        throw new IllegalStateException(
          s"concurrent seen-filter write at $path: based on " +
            s"${based.getOrElse("<none>")}, now ${cur.getOrElse("<none>")} — " +
            "retry on a fresh read (no ids were lost)")
      }
      VersionedIndex.commitPointer(spark, path, next)
    }

  private[graft] def readSeenState(spark: org.apache.spark.sql.SparkSession,
                            path: String): SeenFilterState =
    seenFilterVersion(spark, path) match {
      case Some(v) => readSeenStateAt(spark, path, v)
      case None =>
        // distinguish "never built" from "pre-versioned single file" so
        // the user gets the right one-step fix, not a misleading
        // build-then-fail-again loop
        val p = new org.apache.hadoop.fs.Path(path)
        val pfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(!(pfs.exists(p) && pfs.getFileStatus(p).isFile),
          s"seen-filter at $path uses the pre-versioned single-file " +
            "layout — delete it and rebuild with buildSeenFilter")
        throw new IllegalArgumentException(
          s"no committed seen-filter at $path — buildSeenFilter first")
    }

  /** Current committed seen-filter version name at `path`, None when
    * no filter exists — the handle a replay-deterministic consumer
    * (the ingest near-dup suppressor's `_dedup` ledger) pins before
    * consulting. */
  private[graft] def seenFilterVersion(spark: org.apache.spark.sql.SparkSession,
                                       path: String): Option[String] = {
    val root = VersionedIndex.resolveRoot(spark, path)
    if (root == path) None else Some(root.stripPrefix(s"$path/"))
  }

  /** [[readSeenState]] pinned to an explicit version dir — the replay
    * path of version-recorded consumers. A vacuumed-away version fails
    * loudly (the vacuum-breaks-replay contract every version-pinned
    * read shares), never silently reads a different state. */
  private[graft] def readSeenStateAt(spark: org.apache.spark.sql.SparkSession,
                                     path: String, version: String): SeenFilterState = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path, version)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(root, "_meta")),
      s"seen-filter version $version at $path no longer exists (vacuumed?) — " +
        "a version-pinned replay cannot proceed")
    val metaIn = new java.io.DataInputStream(fs.open(new Path(root, "_meta")))
    val (shards, items, fpp) =
      try (metaIn.readInt(), metaIn.readLong(), metaIn.readDouble())
      finally metaIn.close()
    val filters = (0 until shards).map { s =>
      val in = new java.io.DataInputStream(
        fs.open(new Path(root, f"filter-$s%04d")))
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      finally in.close()
    }
    SeenFilterState(version, shards, items, fpp, filters)
  }

  /** Triangle census of a similarity graph — the structural health
    * check for a near-dup pair set: duplicates come in CLIQUES (a
    * 5-copy document yields 10 pairs and 10 triangles), so a pair set
    * with many edges but few triangles signals a too-loose threshold
    * chaining unrelated docs (the transitivity failure that makes
    * keep-one delete originals). One row: nodes, edges, wedges
    * (two-paths), triangles, and the global clustering coefficient
    * 3·T/W (rounded; 0 when no wedges).
    *
    * Scale shape: edges are normalized to (lo, hi) and the triangle
    * join is the classic ordered two-hop — each triangle counted once
    * as a<b<c, cost ∝ Σ per-node deg² (bounded: near-dup components
    * are cliques of duplicate count, not corpus-sized); wedges are one
    * integer aggregation over the degree table, no float moments. */
  def triangleStats(pairs: DataFrame): DataFrame = {
    val e = pairs.select(
        least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct().localCheckpoint()
    val deg = e.select(col("lo").as("node"))
      .union(e.select(col("hi").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // Integral throughout: sum the long degree products FIRST, halve
    // with a bit shift AFTER (both totals are even — handshake lemma /
    // consecutive-integer product) — `/ 2` would promote to double and
    // lose exactness past 2^53 on high-degree graphs.
    val base = deg.agg(
      count(lit(1)).as("n_nodes"),
      shiftright(coalesce(sum(col("d")), lit(0L)), 1).as("n_edges"),
      shiftright(coalesce(sum(col("d") * (col("d") - 1)), lit(0L)), 1)
        .as("n_wedges"))
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.hi") === col("bc.lo"))
      .join(e.as("ac"),
        col("ac.lo") === col("ab.lo") && col("ac.hi") === col("bc.hi"))
      .agg(count(lit(1)).as("n_triangles"))
    base.crossJoin(tri)
      .withColumn("clustering",
        when(col("n_wedges") > 0,
          round(col("n_triangles") * lit(3.0) / col("n_wedges"), 6))
          .otherwise(lit(0.0)))
  }

  /** Leakage-safe train/eval split: near-duplicates must never
    * straddle a split boundary — an eval doc with a training-set
    * near-copy inflates benchmark scores (the contamination the
    * decontamination operators exist to stop, introduced HERE by a
    * naive per-doc split). The split decision routes through the
    * near-dup COMPONENT (min-label over `pairs`, [[keepOne]]) instead
    * of the doc: every member of a component hashes the same canonical
    * id, so the whole cluster lands in one split; docs in no pair are
    * their own singleton component. The hash contract mirrors
    * [[graft.api.TextAnalysis.trainEvalSplit]] — split is a pure
    * function of the canonical id (md5 first hex chars in
    * `evalPrefixes` → eval), reproducible across runs, engines, and
    * corpus growth that doesn't touch the component. Output: the input
    * columns + (canonical_id, split). */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
                       idCol: String = "doc_id",
                       evalPrefixes: Seq[String] = Seq("0", "1"),
                       maxIter: Int = 50): DataFrame = {
    require(evalPrefixes.nonEmpty)
    // md5 renders lowercase hex: an uppercase or non-hex prefix would
    // silently match nothing and route the whole corpus to train —
    // normalize case, reject anything that can never match.
    val prefixes = evalPrefixes.map(_.toLowerCase(java.util.Locale.ROOT))
    require(prefixes.forall(_.matches("[0-9a-f]+")),
      s"evalPrefixes must be hex strings, got ${evalPrefixes.mkString(",")}")
    val len = prefixes.head.length
    require(prefixes.forall(_.length == len), "prefixes must share a length")
    val labels = keepOne(pairs, maxIter)
      .withColumnRenamed("doc_id", "__lid")
    docs.join(labels, docs(idCol) === labels("__lid"), "left")
      .withColumn("canonical_id", coalesce(col("canonical_id"), docs(idCol)))
      .drop("__lid")
      .withColumn("split",
        when(substring(md5(col("canonical_id").cast("string").cast("binary")),
          1, len).isin(prefixes: _*), "eval").otherwise("train"))
  }
}
