package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-smoke probe (VERDICT r11 #5, widened r13): sf0.1 is 17 MB, so
  * the 100 TB story otherwise rests on plan shapes alone. This
  * materializes a multi-GB synthetic corpus with the engine's own
  * expression pipeline (deterministic — no RNG, no wall-clock in the
  * data) and drives the heavy LLM-pipeline operators through ONE
  * commit-sized batch each, against indexes built over a corpus-scale
  * slice:
  *   - near-dup suppressor  (MinHash index build + suppress-and-append)
  *   - hamming suppressor   (simhash chunk index + suppress-and-append)
  *   - semantic suppressor  (IVF index + suppress-and-append)
  *   - containment filter   (posting index + filter-against)
  *   - semanticDedup        (embedding slice)
  *   - graph family         (connectedComponents / pageRank / LPA /
  *                           degreeProfile over a chain graph)
  *   - commit protocol      (staged-publish batches + mid-run
  *                           compaction + replay + vacuum)
  * Wall-times and counts land in BENCH as `scale_smoke`.
  *
  * Pass/fail is NO LONGER blunt (VERDICT r12 #5): the planted structure
  * is closed-form, so each stage's survivor count has a DERIVED
  * expectation, computed by an independent driver-side scalar oracle
  * over the generator arithmetic — exact for the text suppressors and
  * the hamming triad (set sizes and signatures are pure functions of
  * (content id, length, marker)), tight bounds for the cosine family
  * (planted pairs score ~0.9997 but IVF nprobe cell probing is
  * approximate by contract). A threshold nudge, a lost partition, or a
  * banding false-negative bug now fails the smoke loudly instead of
  * shipping as a silent count drift.
  *
  * Planted structure, tuned to REALISTIC duplicate density (the first
  * cut planted every vector near one of 64 shared centers, which made
  * every same-cell candidate a genuine ≥-threshold pair — ~10⁹ verify
  * hits per batch, a shape no curated corpus shows): every 10th
  * doc/vector near-duplicates its predecessor (same word sequence + one
  * token / same direction + ≤2% jitter), every 7th doc keeps only the
  * first 6 words of its sequence (a proper-containment seed), the batch
  * replays a corpus slice under fresh ids — so the suppressors exercise
  * their flag paths against ~10% true-positive density while the
  * non-dup bulk stays far below every threshold (independent 16-dim
  * directions: |cos| concentrates near 0.25; distinct word sequences
  * share no shingles). Quantizer cell counts scale as ~√corpus (the IVF
  * sizing rule), so per-cell candidate volume stays bounded as `rows`
  * grows. */
object ScaleSmoke {

  /** Deterministic pseudo-word `k` of document `gid`: "w" + a
    * 50k-vocabulary token. Shared by corpus and batch generators so
    * planted duplicates reproduce the same text. */
  private def word(gid: Column, k: Column) =
    concat(lit("w"), pmod(xxhash64(gid * 31 + k, lit(1337)), lit(50000)))

  /** Render a document from its closed-form description — the single
    * source of truth shared by the corpus/batch generators AND the
    * expected-count oracle's carrier rendering, so the two can never
    * drift apart. */
  private def renderText(gid: Column, nWords: Column, marker: Column): Column =
    concat_ws(" ",
      concat(transform(sequence(lit(0), nWords - 1), k => word(gid, k)),
        when(marker, array(lit("xdup")))
          .otherwise(array().cast("array<string>"))))

  /** Content id of row `id`: which row's CONTENT this row carries —
    * id−1 for every 10th row (a planted near-dup), a corpus-slice
    * replay for every `replayEvery`-th (cross-frame duplicates under
    * fresh ids), the row's own id otherwise. */
  private def contentId(rows: Long, offset: Long, replayEvery: Long) = {
    val nearDup = (col("id") % 10) === 0 && col("id") > 0
    val base = when(nearDup, col("id") - 1).otherwise(col("id"))
    if (replayEvery > 0)
      when(col("id") % replayEvery === 0, pmod(col("id") * 7919, lit(rows)))
        .otherwise(base + offset)
    else base
  }

  /** (doc_id, text): ~12-word docs; id%10==0 copies its predecessor's
    * words + one marker token (a near-dup), id%7==0 keeps only the
    * first 6 words of its sequence (a containment seed for longer
    * copies). `offset` shifts ids (fresh batches); `replayEvery`
    * plants cross-frame duplicates.
    *
    * The FULL word count is keyed on gid — the content id — not the
    * row's own id (ADVICE r12): a near-dup/replay row must reproduce
    * its source's full word sequence, or the planted pair is a mere
    * prefix (Jaccard ≈ 0.62, below the suppressors' 0.8) and the
    * claimed ~10% true-positive density is not realized. Only the
    * containment TRUNCATION stays keyed on the row's own id — that is
    * what plants proper-subset pairs (a 6-word row vs a full copy of
    * the same sequence elsewhere). */
  private[graft] def docs(spark: SparkSession, rows: Long, offset: Long = 0L,
                          replayEvery: Long = 0L): DataFrame = {
    val id = col("id") + offset
    val nearDup = (col("id") % 10) === 0 && col("id") > 0
    val gid = contentId(rows, offset, replayEvery)
    val nWords = when(col("id") % 7 === 0, lit(6))
      .otherwise(lit(10) + pmod(gid, lit(5)))
    spark.range(rows).select(
      id.as("doc_id"),
      renderText(gid, nWords, nearDup).as("text"))
  }

  /** (vec_id, embedding float[16]): each content id gets its own
    * uniform-[-1,1) direction (independent directions in 16-d — pair
    * cosines concentrate well below any dedup threshold), plus a ≤2%
    * per-ROW jitter so planted duplicates (id%10==0 copies its
    * predecessor's direction; `replayEvery` replays corpus directions)
    * score ~0.998, never bit-equal. */
  private[graft] def embeddings(spark: SparkSession, rows: Long, offset: Long = 0L,
                                replayEvery: Long = 0L): DataFrame = {
    val id = col("id") + offset
    val gid = contentId(rows, offset, replayEvery)
    spark.range(rows).select(
      id.as("vec_id"),
      transform(sequence(lit(0), lit(15)), k =>
        ((pmod(xxhash64(gid, k, lit(7)), lit(2000)) / lit(1000.0) - lit(1.0)) +
          pmod(xxhash64(col("id") + offset, k, lit(13)), lit(100)) / lit(5000.0)
        ).cast("float")).as("embedding"))
  }

  // ------------------------------------------------------------------
  // Closed-form expected-count oracle (VERDICT r12 #5). Scalar mirrors
  // of the generator arithmetic above: a document IS its (gid, n,
  // marker) triple — words are pseudo-random over a 50k vocabulary, so
  // two renderings share shingles only through a shared gid (an
  // accidental ≥0.8 trigram-set overlap across independent 8–12-word
  // sequences is impossible by counting), and shingle sets have
  // exactly n−2 (+1 marker) distinct trigrams (a repeated trigram
  // needs three consecutive word collisions, ~50000⁻³).

  /** One row's rendering: own (post-offset) id, content id, word
    * count, marker flag. Mirrors [[contentId]]/[[docs]] bit for bit —
    * `rows` is the GENERATOR'S OWN row count (the replay modulus), so
    * for a batch it is batchRows: replay rows sample contents from
    * [0, batchRows), a slice that sits entirely inside the index. */
  private final case class Rnd(id: Long, gid: Long, n: Int, marker: Boolean)

  private def renderRow(id: Long, rows: Long, offset: Long,
                        replayEvery: Long): Rnd = {
    val nearDup = id % 10 == 0 && id > 0
    val base = if (nearDup) id - 1 else id
    val gid =
      if (replayEvery > 0) {
        if (id % replayEvery == 0) java.lang.Math.floorMod(id * 7919, rows)
        else base + offset
      } else base
    val n = if (id % 7 == 0) 6
      else (10 + java.lang.Math.floorMod(gid, 5L)).toInt
    Rnd(id + offset, gid, n, nearDup)
  }

  /** The INDEX-resident renderings of content `g` (corpus rows with
    * doc/vec_id < indexRows): row g carries its own content unless it
    * is itself a planted near-dup (g%10==0, g>0 → it carries g−1), and
    * row g+1 carries content g with the marker when (g+1)%10==0. */
  private def carriers(g: Long, rows: Long, indexRows: Long): Seq[Rnd] = {
    val out = Seq.newBuilder[Rnd]
    if (g < indexRows && (g == 0 || g % 10 != 0))
      out += renderRow(g, rows, 0L, 0L)
    if (g + 1 < indexRows && (g + 1) % 10 == 0)
      out += renderRow(g + 1, rows, 0L, 0L)
    out.result()
  }

  /** Distinct-shingle-set size of a rendering (word 3-shingles). */
  private def setSize(r: Rnd): Int = r.n - 2 + (if (r.marker) 1 else 0)

  /** Shared shingles of two SAME-GID renderings: the shorter one's
    * trigrams are a prefix of the longer's; the marker trigram
    * (w[n−2], w[n−1], xdup) is shared only when both carry it at the
    * same length. */
  private def interSize(a: Rnd, b: Rnd): Int =
    math.min(a.n, b.n) - 2 +
      (if (a.marker && b.marker && a.n == b.n) 1 else 0)

  private def jaccard(a: Rnd, b: Rnd): Double = {
    if (a.gid != b.gid) return 0.0
    val i = interSize(a, b)
    i.toDouble / (setSize(a) + setSize(b) - i)
  }

  /** Containment of `a` in `b` (the filter's fresh-in-corpus ratio). */
  private def containment(a: Rnd, b: Rnd): Double =
    if (a.gid != b.gid) 0.0 else interSize(a, b).toDouble / setSize(a)

  /** Expected survivor count of a suppress pass: drop vs the index
    * first, then drop anything with a strictly-lower-id match among
    * the step-1 survivors — the operators' exact two-step rule. */
  private def expectedSurvivors(batch: Seq[Rnd],
                                matchesIndex: Rnd => Boolean,
                                matchesPeer: (Rnd, Rnd) => Boolean): Long = {
    val afterIdx = batch.filterNot(matchesIndex)
    val byGid = afterIdx.groupBy(_.gid)
    afterIdx.count(r =>
      !byGid(r.gid).exists(o => o.id < r.id && matchesPeer(o, r)))
  }

  /** √n clamped to [lo, hi] — the standard IVF cell-count sizing. */
  private def cellsFor(n: Long, lo: Int, hi: Int): Int =
    math.max(lo, math.min(hi, math.sqrt(n.toDouble).toInt))

  /** Stage timer WITH load provenance (VERDICT r14 #1: the smoke was
    * the one bench section with zero load fields, so three recorded
    * stage regressions were unattributable). Each stage records
    * `<name>_amb` (the shared [[AmbientLoad]] external-load estimate at
    * stage end — the suite's own just-finished burst is discounted by
    * the EWMA) and `<name>_load1` (raw loadavg at stage end, the
    * undiscounted context). A stage time recorded at ambient < 4 is an
    * engine number; at higher ambient it is a busy-box number and says
    * so in the artifact. */
  private[graft] def timed[A](buf: scala.collection.mutable.ArrayBuffer[(String, Double)],
                              name: String)(body: => A): A = {
    val io0 = IoLoad.snap()
    val t0 = System.nanoTime()
    val r = body
    val sec = (System.nanoTime() - t0) / 1e9
    val amb = AmbientLoad.ambientNow()
    val l1 = AmbientLoad.load1Now()
    // IO provenance per stage (VERDICT r15 #1): the CPU-ambient gate
    // provably cannot adjudicate the IO-bound index builds — PSI stall
    // says whether the WINDOW was IO-pressured, proc read-MB says
    // whether THIS run hit a cold page cache, FS MB say how much the
    // stage logically moved (the denominator for IO-shrink A/Bs)
    val io = IoLoad.stageFields(name, io0, IoLoad.snap())
    buf += name -> sec
    buf += s"${name}_amb" -> amb
    buf += s"${name}_load1" -> l1
    buf ++= io
    val ioMap = io.toMap
    // progress line per stage (stderr, not the bench JSON): a failed
    // run shows WHERE it died, not just that it died
    System.err.println(f"[smoke] $name%-24s $sec%8.1f s  (amb $amb%.2f, load1 $l1%.2f," +
      f" iostall ${ioMap(s"${name}_io_stall")}%.1f%%, pr ${ioMap(s"${name}_io_rmb")}%.0fMB," +
      f" pw ${ioMap(s"${name}_io_wmb")}%.0fMB, fsw ${ioMap(s"${name}_fs_wmb")}%.0fMB)")
    r
  }

  /** Run the smoke; returns (stage, seconds) plus (counter, value)
    * entries in run order. `rows` is the corpus size; the index slice
    * scales with it, the batch is commit-sized but capped (a
    * micro-batch does not grow with the corpus — that is the point of
    * incremental suppressors). */
  def run(spark: SparkSession, rows: Long): Seq[(String, Double)] = {
    AmbientLoad.start()
    val times = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def record(name: String, actual: Long): Unit = times += name -> actual.toDouble
    def assertCount(name: String, actual: Long, lo: Long, hi: Long): Unit = {
      record(name, actual)
      System.err.println(s"[smoke] $name = $actual (expected [$lo, $hi])")
      require(actual >= lo && actual <= hi,
        s"scale-smoke correctness drift: $name = $actual, expected [$lo, $hi]")
    }
    val root = java.nio.file.Files.createTempDirectory("graft-scale-smoke")
    def p(n: String) = s"$root/$n"
    val indexRows = math.max(rows / 5, 1L)   // corpus-scale index slice
    val batchRows = math.min(math.max(rows / 50, 1L), 250000L)
    val ivfCells = cellsFor(indexRows, 64, 2048)
    try {
      // 0. the ground-truth oracle: closed-form renderings of the batch
      // and of every index carrier it references — O(batch) scalar work
      val (truth, truthSemIdx) = timed(times, "truth_prep") {
        val batchR = (0L until batchRows).map(renderRow(_, batchRows, rows, 3L))
        val carr: Map[Long, Seq[Rnd]] =
          batchR.map(_.gid).distinct.map(g =>
            g -> carriers(g, rows, indexRows)).toMap
        // semantic carriers ignore text truncation/marker — a vector is
        // its direction; any same-gid index vector is a ~0.9997 match
        val semIdx = batchR.filter(r => carr(r.gid).nonEmpty).map(_.id).toSet
        ((batchR, carr), semIdx)
      }
      val (batchR, carr) = truth

      // 1. materialize the corpus + embeddings (the multi-GB artifacts)
      timed(times, "gen_corpus") {
        docs(spark, rows).write.mode("overwrite").parquet(p("corpus"))
      }
      timed(times, "gen_embeddings") {
        embeddings(spark, rows).write.mode("overwrite").parquet(p("emb"))
      }
      val corpus = spark.read.parquet(p("corpus"))
      val emb = spark.read.parquet(p("emb"))
      // fresh batches replay corpus content under fresh ids (flag-path
      // work, not empty joins)
      val batch = docs(spark, batchRows, offset = rows, replayEvery = 3L)
        .localCheckpoint()
      val embBatch = embeddings(spark, batchRows, offset = rows,
          replayEvery = 3L)
        .localCheckpoint()
      try {
        // 2. near-dup suppressor — expected survivors are EXACT: the
        // banded candidate step misses a planted J=0.889 pair with
        // p ≈ (1−0.889⁴)¹⁶ ≈ 2e-7, and the within-batch PPJoin is
        // exact-complete by construction
        timed(times, "neardup_index") {
          graft.api.Dedup.buildNearDupIndex(
            corpus.filter(col("doc_id") < indexRows), p("nd"))
        }
        val nearDupSurv = timed(times, "neardup_suppress") {
          val k = graft.api.Dedup.nearDupSuppressAndIndex(batch, p("nd"))
          val n = k.count()
          graft.api.Dedup.releaseMaterialized(k)
          n
        }
        val expNd = expectedSurvivors(batchR,
          r => carr(r.gid).exists(c => jaccard(r, c) >= 0.8),
          (a, b) => jaccard(a, b) >= 0.8)
        assertCount("neardup_survivors", nearDupSurv, expNd - 2, expNd + 2)

        // 3. hamming suppressor over simhash signatures — expected
        // survivors are EXACT: the pigeonhole chunk candidates have no
        // false negatives, accidental cross-content collisions within
        // hamming ≤ 3 have expectation ≈ 1e-2 over the whole batch, and
        // the planted families' signatures are computed below with the
        // same expression the operator hashes with (two KB-sized jobs)
        val sigOf = graft.functions.TextFunctions.simHash64(lower(col("text")))
        timed(times, "hamming_index") {
          graft.api.Dedup.buildHammingIndex(
            corpus.filter(col("doc_id") < indexRows)
              .select(col("doc_id"), sigOf.as("sig")),
            p("ham"))
        }
        val hammingSurv = timed(times, "hamming_suppress") {
          val k = graft.api.Dedup.hammingSuppressAndIndex(
            batch.select(col("doc_id"), sigOf.as("sig")), p("ham"))
          val n = k.count()
          graft.api.Dedup.releaseMaterialized(k)
          n
        }
        val expHam = {
          import spark.implicits._
          val batchSigs = batch.select(col("doc_id"), sigOf.as("sig"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val carrierRows = carr.values.flatten.toSeq.distinct
          val carrierSigs =
            if (carrierRows.isEmpty) Map.empty[Long, Long]
            else carrierRows.map(c => (c.id, c.gid, c.n, c.marker))
              .toDF("id", "gid", "n", "marker")
              .select(col("id"),
                graft.functions.TextFunctions.simHash64(
                  lower(renderText(col("gid"), col("n"), col("marker"))))
                  .as("sig"))
              .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          def near(s1: Long, s2: Long) =
            java.lang.Long.bitCount(s1 ^ s2) <= 3
          expectedSurvivors(batchR,
            r => carr(r.gid).exists(c =>
              near(batchSigs(r.id), carrierSigs(c.id))),
            (a, b) => near(batchSigs(a.id), batchSigs(b.id)))
        }
        assertCount("hamming_survivors", hammingSurv, expHam - 1, expHam + 1)

        // 4. semantic suppressor — cells sized ~√slice so per-cell
        // candidate volume stays bounded at any corpus size. The smoke
        // runs the cosine stages at threshold 0.97, NOT the 0.9
        // default: same-CELL candidates are similar by construction
        // (that is what a quantizer cell is), and in 16 dims the
        // cell-mate cosine tail above 0.9 is ~20% per row — measured,
        // not hypothetical — so 0.9 admits background, while planted
        // same-direction pairs score ~0.9997 and the 0.97 background
        // rate is ~1e-4. Bounds, not exact: the nprobe=2 cell probe is
        // approximate BY CONTRACT (a jittered copy near a Voronoi
        // boundary can sit outside its source's probed cells). Slack:
        // 2% of the planted count each way.
        //
        // The IVF build + the graph family run in a FORKED FRESH JVM
        // for the record (VERDICT r16 #2): the in-suite numbers
        // measure ~50 minutes of heap history, not the engine — the
        // r16 A/B pinned lpa 94.2 s in-suite vs 27.2 s fresh-JVM and
        // ivf 164 vs 84.4, both at quiet CPU AND quiet IO, and
        // graph_lpa failed its ≤60 s bar in the record on hot-JVM
        // inflation alone. The child builds the ivf index at the SAME
        // path the suppressor consumes below; an optional in-suite
        // audit leg re-runs the stages as `<stage>_insuite` so every
        // record carries its own hot-vs-fresh A/B evidence.
        runForkedStages(spark, times, p("emb"), p("ivf"), rows, indexRows,
          ivfCells)
        val semanticSurv = timed(times, "semantic_suppress") {
          val k = graft.api.Similarity.semanticSuppressAndIndex(
            embBatch, p("ivf"), threshold = 0.97)
          val n = k.count()
          graft.api.Dedup.releaseMaterialized(k)
          n
        }
        val expSem = expectedSurvivors(batchR,
          r => truthSemIdx(r.id),
          (_, _) => true) // any same-gid peer is a ~0.9997 cosine pair
        // asymmetric slack: cell-probe MISSES inflate survivors (a
        // split planted pair goes unflagged — measured ~2% per planted
        // pair, more cells → more splits), accidental ≥0.97 background
        // deflates them (~1e-4 of the batch)
        val semDropped = batchRows - expSem
        assertCount("semantic_survivors", semanticSurv,
          expSem - math.max(16L, batchRows / 500),
          expSem + math.max(16L, semDropped / 8))

        // 5. containment posting index + ingestion filter — EXACT: a
        // truncated 6-word row's 4 trigrams are a subset of any longer
        // same-gid rendering (containment 1.0); full-length rows are
        // contained only in an equal-length rendering; the posting
        // prefix filter is exact-complete (candEps)
        timed(times, "containment_index") {
          graft.api.Dedup.buildContainmentIndex(
            corpus.filter(col("doc_id") < indexRows), p("ct"))
        }
        val containSurv = timed(times, "containment_filter") {
          val k = graft.api.Dedup.containmentFilterAgainstIndex(batch, p("ct"))
          val n = k.count()
          graft.api.Dedup.releaseMaterialized(k)
          n
        }
        val expCt = batchRows - batchR.count(r =>
          carr(r.gid).exists(c => containment(r, c) >= 0.8))
        // threshold-boundary rows (ADVICE r13): id%210==0 plants
        // truncated+marker+replay rows whose best containment is
        // EXACTLY 4/5 = 0.8 — dropped under the >= contract, but a
        // benign operator reformulation of the comparison (e.g.
        // inter >= threshold*n in floats) could flip them to
        // survivors; widen the upper bound by their count instead of
        // demanding bit-equality of two double divisions
        val nBoundary = batchR.count { r =>
          val best = carr(r.gid).foldLeft(0.0)((m, c) =>
            math.max(m, containment(r, c)))
          math.abs(best - 0.8) < 1e-9
        }
        assertCount("containment_survivors", containSurv,
          expCt, expCt + nBoundary)

        // 6. semantic dedup over an embedding slice (cells ~√slice —
        // the function's own 100 TB sizing note): keep-lowest-id over
        // planted (x−1, x%10==0) pairs → ⌊(slice−1)/10⌋ drops, same
        // cosine-family slack as the suppressor
        val slice = math.min(batchRows * 2, rows)
        val semDedupSurv = timed(times, "semantic_dedup") {
          graft.api.Similarity.semanticDedup(
              emb.filter(col("vec_id") < slice), threshold = 0.97,
              cells = cellsFor(slice, 16, 1024))
            .count()
        }
        val expSd = slice - (slice - 1) / 10
        assertCount("semdedup_survivors", semDedupSurv,
          expSd - math.max(16L, slice / 500),
          expSd + math.max(16L, ((slice - 1) / 10) / 8))
      } finally {
        graft.api.Dedup.releaseMaterialized(batch)
        graft.api.Dedup.releaseMaterialized(embBatch)
      }

      // 7. graph family at corpus scale (VERDICT r12 #1): runs in the
      // forked child leg above (stage 4's runForkedStages) — the chain
      // graph is generator-defined, so it needs nothing from this
      // process but indexRows. See [[graphStages]] for the closed-form
      // assert rationale.

      // 8. commit-protocol soak (VERDICT r12 #6): the staged-publish
      // protocol at ≥1M rows/batch — N commits, a MID-RUN compaction,
      // a replayed batch (must be an O(1) no-op), a post-run vacuum —
      // asserting exact committedView row accounting throughout. The
      // lakehouse half was spec-proven at fixture scale only.
      timed(times, "ingest_commit_soak") {
        val soakPath = p("soak")
        val cfg = graft.ingest.IngestConfig(
          outputPath = Some(soakPath), parallelism = 16)
        val per = math.max(1000000L, rows / 50)
        val nBatches = 5
        var committed = 0L
        // Per-phase attribution (VERDICT r13 #2): the r13 soak bundled
        // commits + compaction + replay + two full-view counts + vacuum
        // into ONE 370 s number, leaving the commit protocol's actual
        // write amplification invisible. Each phase now times
        // separately; soak_committed_rows_per_sec is the committed-path
        // rate directly comparable to the raw bucketed write probe.
        var commitSec = 0.0
        def phase[A](buf: Double => Unit)(body: => A): A = {
          val t0 = System.nanoTime()
          val r = body
          buf((System.nanoTime() - t0) / 1e9)
          r
        }
        (0 until nBatches).foreach { i =>
          val raw = spark.range(i * per, (i + 1) * per, 1, cfg.parallelism)
            .select(col("id").as("value"), spark_partition_id().as("__pid"))
          committed += phase(s => commitSec += s) {
            graft.ingest.Ingest.commitBatch(cfg, soakPath, raw, i)
          }
          if (i == 2) phase(s => times += "soak_compact_sec" -> s) {
            // mid-run compaction: later commits land AFTER a rewrite
            val c = graft.ingest.Compact.compact(spark, soakPath)
            require(c.exists(_.rows == 3 * per),
              s"soak compaction rewrote ${c.map(_.rows)} rows, expected ${3 * per}")
          }
          if (i == 3) phase(s => times += "soak_replay_sec" -> s) {
            // replay an already-committed batch: marker makes it a no-op
            val replay = spark.range(per, 2 * per, 1, cfg.parallelism)
              .select(col("id").as("value"), spark_partition_id().as("__pid"))
            val n = graft.ingest.Ingest.commitBatch(cfg, soakPath, replay, 1)
            require(n == 0L, s"replayed batch committed $n rows, expected 0")
          }
        }
        times += "soak_commit_sec" -> commitSec
        times += "soak_committed_rows_per_sec" ->
          (committed / math.max(commitSec, 1e-9))
        require(committed == nBatches * per,
          s"soak committed $committed rows, expected ${nBatches * per}")
        // row-count accounting: a replay that published twice inflates
        // it, a lost publish deflates it (the view projects the event
        // schema — pool-based columns, so counts ARE the accounting)
        phase(s => times += "soak_verify_sec" -> s) {
          val viewRows = graft.core.Tables.committedView(spark, soakPath).count()
          require(viewRows == committed,
            s"soak committedView: $viewRows rows, expected $committed " +
              "(duplicate or lost rows)")
        }
        phase(s => times += "soak_vacuum_sec" -> s) {
          graft.ingest.Compact.vacuum(spark, soakPath)
        }
        phase(s => times += "soak_verify2_sec" -> s) {
          val afterVacuum =
            graft.core.Tables.committedView(spark, soakPath).count()
          require(afterVacuum == committed,
            s"soak after vacuum: $afterVacuum rows, expected $committed")
        }
        record("soak_committed_rows", committed)
      }

      // 9. cross-process race soak (VERDICT r13 #4, hardened r15).
      // BOTH failure classes land in the record as `*_error` entries —
      // which Bench counts as query errors (VERDICT r14 #4), so either
      // turns the board red — while the eight stages of smoke evidence
      // already collected stay in the record (a rethrow here would
      // discard the whole `times` buffer into Bench's coarse
      // smoke_error catch). The classes stay DISTINGUISHED:
      //  - `race_spawn_error`: the environment could not fork a second
      //    JVM — tagged at the ProcessBuilder call itself
      //    (RaceChild.SpawnUnavailable), so an IOException from the
      //    commit protocol (e.g. a publish-rename failure — exactly
      //    the regression this stage hunts) can never be misfiled as
      //    an environment problem;
      //  - `race_error`: a PROTOCOL violation (lost cross-process
      //    commits, CONFLICT_SILENT_WIN, lost ids after retry) or any
      //    other failure — the message is printed loudly and the full
      //    stage evidence survives for the post-mortem.
      try raceSoak(spark, times, p)
      catch {
        case t: graft.tools.RaceChild.SpawnUnavailable =>
          System.err.println(s"[smoke] race_soak SPAWN-FAILED - ${t.getMessage}")
          times += "race_spawn_error" -> -1.0
        case t: Throwable =>
          System.err.println(
            s"[smoke] race_soak PROTOCOL FAILURE - ${t.getClass.getSimpleName}: ${t.getMessage}")
          times += "race_error" -> -1.0
      }

      times.toSeq
    } finally {
      IngestProbes.rmrfQuiet(root.toFile)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
  }

  /** The IVF index-build stage — shared verbatim by the forked child
    * (the record leg), the in-suite audit leg (`suffix = "_insuite"`),
    * and the spawn-failure fallback, so every leg measures the same
    * work. */
  private[graft] def ivfStage(spark: SparkSession,
                              times: scala.collection.mutable.ArrayBuffer[(String, Double)],
                              embPath: String, target: String,
                              indexRows: Long, ivfCells: Int,
                              suffix: String = ""): Unit =
    timed(times, s"ivf_index$suffix") {
      graft.api.Similarity.buildIvfIndex(
        spark.read.parquet(embPath).filter(col("vec_id") < indexRows),
        target, cells = ivfCells)
    }

  /** Graph family at corpus scale (VERDICT r12 #1): the planted
    * duplicate pairs alone give trivial 2-node components, which
    * exercise nothing iterative — so the graph smoke runs on a
    * closed-form CHAIN graph (gNodes/1000 chains of length 1000):
    * deep components drive keepOne's pointer doubling through
    * ~log₂(1000) full-graph iterations, and every operator's output
    * has an exact closed form to assert against. Edges are
    * generator-defined, so the stage needs nothing but `indexRows` —
    * which is what lets a fresh child JVM run it bit-identically. */
  private[graft] def graphStages(spark: SparkSession,
                                 times: scala.collection.mutable.ArrayBuffer[(String, Double)],
                                 indexRows: Long, suffix: String = ""): Unit = {
    def record(name: String, actual: Long): Unit = times += name -> actual.toDouble
    val chainL = 1000L
    val gNodes = indexRows - indexRows % chainL
    if (gNodes < chainL) return
    val edges = spark.range(gNodes - 1)
      .filter(col("id") % chainL =!= chainL - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    timed(times, s"graph_cc$suffix") {
      val cc = graft.api.Graph.connectedComponents(edges)
      val bad = cc.filter(col("component") =!=
        col("node") - pmod(col("node"), lit(chainL))).count()
      val n = cc.count()
      graft.api.Dedup.releaseMaterialized(cc)
      require(bad == 0 && n == gNodes,
        s"graph_cc drift: $bad mislabeled nodes, $n labeled (expected $gNodes)")
      record(s"graph_cc${suffix}_nodes", n)
    }
    timed(times, s"graph_pagerank$suffix") {
      // after 5 iterations a node's score depends only on
      // min(position-in-chain, 5) upstream hops → at most 6
      // distinct score values across ALL chains
      val pr = graft.api.Graph.pageRank(edges, iters = 5)
      val n = pr.count()
      val distinct = pr.select(col("score")).distinct().count()
      graft.api.Dedup.releaseMaterialized(pr)
      require(n == gNodes && distinct <= 6,
        s"graph_pagerank drift: $n rows (expected $gNodes), " +
          s"$distinct distinct scores (expected <= 6)")
      record(s"graph_pagerank${suffix}_nodes", n)
    }
    timed(times, s"graph_lpa$suffix") {
      // directed chain + self-vote: each iteration every node ties
      // (in-neighbor's label vs own) and takes the min → after 4
      // iterations label(x) = max(x − 4, chain start), exactly
      val lpa = graft.api.Graph.labelPropagation(edges, iters = 4)
      val bad = lpa.filter(col("label") =!=
        greatest(col("node") - 4,
          col("node") - pmod(col("node"), lit(chainL)))).count()
      val n = lpa.count()
      graft.api.Dedup.releaseMaterialized(lpa)
      require(bad == 0 && n == gNodes,
        s"graph_lpa drift: $bad mislabeled nodes, $n labeled (expected $gNodes)")
      record(s"graph_lpa${suffix}_nodes", n)
    }
    timed(times, s"graph_degree$suffix") {
      // dangling nodes = exactly the chain tails
      val dangling = graft.api.Graph.degreeProfile(edges)
        .filter(col("dangling")).count()
      require(dangling == gNodes / chainL,
        s"graph_degree drift: $dangling dangling (expected ${gNodes / chainL})")
      record(s"graph_degree${suffix}_dangling", dangling)
    }
  }

  /** Record-leg orchestration for the IVF-build + graph stages
    * (VERDICT r16 #2): fork `graft.tools.SmokeStagesChild` — a fresh
    * JVM, the variance class no box-level gate can see — and merge its
    * per-stage fields (sec, amb, load1, the six IO fields, the count
    * asserts' echoes) into `times` under the CANONICAL stage names;
    * then optionally re-run the same stages in-suite as
    * `<stage>_insuite` audit fields so the record carries its own
    * hot-vs-fresh evidence. A spawn failure or child death records
    * `smoke_fork_*error` (red, like the race stage's) and falls back
    * to the in-suite leg for the record so survivor exactness and
    * stage coverage never regress. The child builds the IVF index at
    * `ivfTarget` — the same path the semantic suppressor consumes. */
  private def runForkedStages(spark: SparkSession,
                              times: scala.collection.mutable.ArrayBuffer[(String, Double)],
                              embPath: String, ivfTarget: String,
                              rows: Long, indexRows: Long,
                              ivfCells: Int): Unit = {
    val forkWanted = sys.env.getOrElse("SPARK_GRAFT_SMOKE_FORK", "1") == "1"
    var forked = false
    if (forkWanted) {
      val out = java.io.File.createTempFile("graft-smoke-child", ".log")
      try {
        val pr = graft.tools.RaceChild.spawn(
          Seq(embPath, ivfTarget, indexRows.toString, ivfCells.toString),
          out, mainClass = "graft.tools.SmokeStagesChild", xmx = "16g")
        val finished = pr.waitFor(40, java.util.concurrent.TimeUnit.MINUTES)
        if (!finished) pr.destroyForcibly()
        val src = scala.io.Source.fromFile(out, "UTF-8")
        val lines = try src.getLines().toList finally src.close()
        // progress transparency: the child's own [smoke] stage lines
        // (its Spark INFO startup chatter stays in the temp log only)
        lines.filter(l => l.contains("[smoke]") || l.contains("Exception") ||
            l.contains("ERROR"))
          .foreach(l => System.err.println(s"[smoke-child] $l"))
        if (finished && pr.exitValue() == 0) {
          val fields = lines.filter(_.startsWith("SMOKE_CHILD_FIELD="))
            .flatMap { l =>
              l.stripPrefix("SMOKE_CHILD_FIELD=").split(',') match {
                case Array(k, v) => v.toDoubleOption.map(k -> _)
                case _ =>
                  System.err.println(s"[smoke] malformed child field skipped: $l")
                  None
              }
            }
          if (fields.nonEmpty) { times ++= fields; forked = true }
          else times += "smoke_fork_error" -> -1.0
        } else {
          System.err.println(s"[smoke] forked stages child " +
            (if (finished) s"exited ${pr.exitValue()}" else "timed out"))
          times += "smoke_fork_error" -> -1.0
        }
      } catch {
        case t: graft.tools.RaceChild.SpawnUnavailable =>
          System.err.println(s"[smoke] forked stages SPAWN-FAILED - ${t.getMessage}")
          times += "smoke_fork_spawn_error" -> -1.0
        case t: Throwable =>
          System.err.println(s"[smoke] forked stages failed - " +
            s"${t.getClass.getSimpleName}: ${t.getMessage}")
          times += "smoke_fork_error" -> -1.0
      } finally { out.delete(); () }
    }
    times += "smoke_forked_stages" -> (if (forked) 1.0 else 0.0)
    if (!forked) {
      // record numbers fall back to the in-suite leg — coverage and
      // survivor exactness never depend on fork availability
      ivfStage(spark, times, embPath, ivfTarget, indexRows, ivfCells)
      graphStages(spark, times, indexRows)
    } else if (sys.env.getOrElse("SPARK_GRAFT_SMOKE_INSUITE_AB", "1") == "1") {
      // the audit leg: same stages, hot JVM, `_insuite` names —
      // file-only fields (Bench filters them off the stdout line)
      val abTarget = s"${ivfTarget}_insuite_ab"
      ivfStage(spark, times, embPath, abTarget, indexRows, ivfCells,
        suffix = "_insuite")
      IngestProbes.rmrfQuiet(new java.io.File(abTarget))
      graphStages(spark, times, indexRows, suffix = "_insuite")
    }
  }

  /** Cross-process race soak (VERDICT r13 #4): the commit protocol
    * and the seen-filter CAS were spec-proven against a SIMULATED
    * racer inside one JVM; this stage forks a REAL second JVM
    * (graft.tools.RaceChild) and races it on the same paths.
    *  (a) concurrent staged-publish commits, disjoint batch ids —
    *      exact row accounting across both processes, plus a
    *      CROSS-PROCESS replay (parent replays the child's batch:
    *      the marker must make it a 0-row no-op);
    *  (b) a deterministic conflicting append pair on the seen
    *      filter — the child stages on a stale version while the
    *      parent commits in between; exactly the child must fail
    *      LOUDLY (IllegalStateException), and its documented retry
    *      must land every id (no false negatives after the race). */
  private def raceSoak(spark: SparkSession,
                       times: scala.collection.mutable.ArrayBuffer[(String, Double)],
                       p: String => String): Unit = {
    def record(name: String, actual: Long): Unit = times += name -> actual.toDouble
    // Per-phase attribution (VERDICT r16 #4: the stage doubled 42→84 s
    // with no way to name the phase — the children's CPU counts as
    // parent own-load, so ambient could not explain it): each phase
    // records its own wall, and each child prints its own physical IO
    // + exit-time PSI io10 (CHILD_IO), folded in as
    // race_<phase>_child_* fields.
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      times += s"race_${name}_sec" -> (System.nanoTime() - t0) / 1e9
      r
    }
    def childIo(name: String, log: String): Unit =
      log.linesIterator.find(_.startsWith("CHILD_IO=")).foreach { l =>
        l.stripPrefix("CHILD_IO=").split(',') match {
          case Array(r, w, io10) =>
            for (v <- r.toDoubleOption) times += s"race_${name}_child_rmb" -> v
            for (v <- w.toDoubleOption) times += s"race_${name}_child_wmb" -> v
            for (v <- io10.toDoubleOption) times += s"race_${name}_child_io10" -> v
          case _ => ()
        }
      }
    timed(times, "race_soak") {
        import java.nio.file.{Files, Paths}
        val raceTable = p("racetbl")
        val raceFilter = p("racefilter")
        val rv = p("racerv")
        Files.createDirectories(Paths.get(rv))
        val perB = 200000L
        val nB = 3
        // (a) concurrent commits
        val commitOut = new java.io.File(s"$rv/commit.out")
        val commitChild = phase("spawn")(graft.tools.RaceChild.spawn(
          Seq("race-commit", raceTable, "100", nB.toString, perB.toString),
          commitOut))
        val cfg = graft.ingest.IngestConfig(
          outputPath = Some(raceTable), parallelism = 4)
        var parentRows = 0L
        phase("commit") {
          (0 until nB).foreach { i =>
            val raw = spark.range(i * perB, (i + 1) * perB, 1, cfg.parallelism)
              .select(col("id").as("value"), spark_partition_id().as("__pid"))
            parentRows += graft.ingest.Ingest.commitBatch(cfg, raceTable, raw, i)
          }
        }
        phase("commit_wait") {
          require(commitChild.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
            && commitChild.exitValue() == 0,
            s"race-commit child failed (exit ${commitChild.exitValue()}):\n" +
              new String(Files.readAllBytes(commitOut.toPath), "UTF-8").takeRight(3000))
        }
        val childOut = new String(Files.readAllBytes(commitOut.toPath), "UTF-8")
        childIo("commit", childOut)
        require(childOut.contains(s"CHILD_COMMITTED=${nB * perB}"),
          s"race-commit child under-committed: $childOut")
        require(parentRows == nB * perB,
          s"race parent committed $parentRows, expected ${nB * perB}")
        phase("replay_verify") {
          val raceView =
            graft.core.Tables.committedView(spark, raceTable).count()
          require(raceView == 2L * nB * perB,
            s"race table has $raceView rows, expected ${2L * nB * perB} " +
              "(a cross-process commit was lost or duplicated)")
          // cross-process replay: the parent replays the CHILD's batch —
          // the marker the other process wrote must make it a no-op
          val replayRaw = spark.range(100L * perB, 101L * perB, 1, cfg.parallelism)
            .select(col("id").as("value"), spark_partition_id().as("__pid"))
          val replayed =
            graft.ingest.Ingest.commitBatch(cfg, raceTable, replayRaw, 100L)
          require(replayed == 0L,
            s"cross-process replay committed $replayed rows, expected 0")
          record("race_committed_rows", raceView)
        }

        // (b) the deterministic conflicting append pair
        val appendLog = phase("append") {
          val idsPer = 50000L
          locally {
            import spark.implicits._
            graft.api.Dedup.buildSeenFilter(
              (0L until idsPer).toDF("doc_id"), "doc_id", raceFilter)
          }
          val appendOut = new java.io.File(s"$rv/append.out")
          val appendChild = graft.tools.RaceChild.spawn(
            Seq("race-append", raceFilter, rv,
              (2 * idsPer).toString, idsPer.toString), appendOut)
          // wait for the child's stale read, then commit a new version
          val deadline = System.currentTimeMillis() + 120000
          while (!Files.exists(Paths.get(rv, "child_read")) &&
                 System.currentTimeMillis() < deadline) Thread.sleep(100)
          require(Files.exists(Paths.get(rv, "child_read")),
            "race-append child never read the filter state")
          locally {
            import spark.implicits._
            graft.api.Dedup.buildOrAppendSeenFilter(
              (idsPer until 2 * idsPer).toDF("doc_id"), "doc_id", raceFilter)
          }
          Files.createFile(Paths.get(rv, "go"))
          require(appendChild.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
            && appendChild.exitValue() == 0,
            s"race-append child failed (exit ${appendChild.exitValue()}):\n" +
              new String(Files.readAllBytes(appendOut.toPath), "UTF-8").takeRight(3000))
          new String(Files.readAllBytes(appendOut.toPath), "UTF-8")
        }
        childIo("append", appendLog)
        require(appendLog.contains("CONFLICT_LOUD") &&
          !appendLog.contains("CONFLICT_SILENT_WIN") &&
          appendLog.contains("RETRY_OK"),
          s"race-append child protocol violation: $appendLog")
        phase("verify") {
          // no lost ids across the race: every id either side appended
          // must flag (the no-false-negatives contract)
          val idsPer = 50000L
          import spark.implicits._
          val allIds = (0L until 3 * idsPer).toDF("doc_id")
          val flagged = graft.api.Dedup
            .markSeen(spark, allIds, "doc_id", raceFilter)
            .filter(col("probably_seen")).count()
          require(flagged == 3 * idsPer,
            s"race lost ids: $flagged of ${3 * idsPer} flagged after the race")
          record("race_conflict_loud", 1L)
        }
    }
  }

  /** Standalone entry for local iteration:
    * runMain graft.ScaleSmoke [rows] */
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local("graft-scale-smoke")
    spark.sparkContext.setLogLevel("WARN")
    // race-only bypasses run(), which is where the sampler normally
    // starts — without it ambient degrades to raw load1
    AmbientLoad.start()
    val t0 = System.nanoTime()
    val times =
      if (args.headOption.contains("race-only")) {
        // quick loop for the cross-process stage alone
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
        val root = java.nio.file.Files.createTempDirectory("graft-race-only")
        try { raceSoak(spark, buf, n => s"$root/$n"); buf.toSeq }
        finally IngestProbes.rmrfQuiet(root.toFile)
      } else run(spark, args.headOption.map(_.toLong).getOrElse(50000000L))
    times.foreach { case (k, v) => println(f"[smoke] $k%-28s $v%12.2f") }
    println(f"[smoke] TOTAL ${(System.nanoTime() - t0) / 1e9}%.1f s (${args.mkString(" ")})")
    spark.stop()
  }
}
