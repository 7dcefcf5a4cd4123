package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Similarity-search operators over an embedding column
  * (`array<float>`): brute-force cosine top-k as the exactness baseline
  * and two approximate scale paths (multi-table hyperplane LSH, IVF).
  * Every function is `DataFrame → DataFrame` with column names as
  * parameters; the fixture queries in `graft.queries.Pipeline` delegate
  * here and carry the oracle/recall checks.
  *
  * Output schema of the top-k functions: (vec_id, rank, neighbor_id,
  * cos) with cos rounded to 6, rank 1-based in (cos desc, neighbor asc)
  * order — identical across exact and approximate variants so recall
  * joins are trivial.
  */
object Similarity {

  private def withNorm(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
      norm(col(vecCol)).as("nrm"))

  /** `round(cos, 6) >= threshold` with the BigDecimal-backed `round()`
    * kept OFF the per-candidate hot path. Spark's double `round` goes
    * through `BigDecimal.valueOf` → `Double.toString` — ~100× the cost
    * of the 16–64-dim dot product it follows, and an IVF probe scores
    * MANY candidates per match. A plain double pre-compare admits only
    * the ≥ threshold − 2e-6 boundary band (any pair whose ROUNDED
    * cosine clears the threshold has raw cosine ≥ threshold − 5e-7, so
    * nothing the exact compare keeps is ever dropped; the 1.5e-6 gap
    * dwarfs double-literal representation error), then the exact
    * rounded compare decides — results identical to rounding every
    * candidate, with round() evaluated only on near-threshold pairs. */
  private def roundedAtLeast(cos: Column, threshold: Double): Column =
    cos >= lit(threshold - 2e-6) && round(cos, 6) >= threshold

  /** The `pairs` whose cosine clears `threshold` ([[roundedAtLeast]]),
    * with `cos` rounded to the 6-decimal grid. */
  private def clearing(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.filter(roundedAtLeast(col("cos"), threshold)).withColumn("cos", round(col("cos"), 6))

  /** Empty result with the top-k output schema (id types preserved). */
  private def emptyTopK(s: org.apache.spark.sql.SparkSession, e: DataFrame): DataFrame = {
    val idType = e.schema("vec_id").dataType
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id", idType),
        org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("neighbor_id", idType),
        org.apache.spark.sql.types.StructField("cos", org.apache.spark.sql.types.DoubleType))))
  }

  /** Window-sort top-k: stays in Tungsten rows end-to-end (radix sort,
    * no per-row object allocation) — measured FASTER than the typed
    * aggregator when the pair set is huge and dense (the O(n²)
    * brute-force path), slower when pairs are sparse candidates. */
  private def topKWindow(pairs: DataFrame, k: Int,
                         roundCos: Boolean = true): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("rank"), col("neighbor_id"),
        (if (roundCos) round(col("cos"), 6) else col("cos")).as("cos"))
  }

  /** Grouped top-k via the typed TopKByScore Aggregator: bounded
    * k-entry buffers with MAP-SIDE partial aggregation, so the shuffle
    * carries ≤ k rows per (vec_id, partition) instead of every scored
    * pair under a window sort. Pays per-row typed deserialization, so
    * it wins on SPARSE candidate pair sets (the ANN paths) and loses
    * to topKWindow on the dense brute-force product. Order contract
    * identical to row_number() over (cos desc, neighbor_id asc) —
    * TopKAggregatorSpec pins it, and the oracles re-prove it on every
    * gate run.
    *
    * The typed path needs integral ids (the aggregator's encoder);
    * any other id type (UUID strings etc.) transparently falls back to
    * the generic window formulation — same results, no type
    * restriction on the library surface. */
  private def topK(pairs: DataFrame, k: Int,
                   roundCos: Boolean = true): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val integral = Seq(pairs.schema("vec_id").dataType,
        pairs.schema("neighbor_id").dataType)
      .forall(t => t == org.apache.spark.sql.types.LongType ||
        t == org.apache.spark.sql.types.IntegerType)
    if (!integral) topKWindow(pairs, k, roundCos)
    else pairs.select(col("vec_id").cast("long"), col("neighbor_id").cast("long"), col("cos"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, nid, c) => (nid, c) }
      .agg(new graft.functions.TopKByScore(k).toColumn.name("topk"))
      .toDF("vec_id", "topk")
      .select(col("vec_id"), posexplode(col("topk")))
      .select(col("vec_id"), (col("pos") + 1).as("rank"),
        col("col._1").as("neighbor_id"),
        (if (roundCos) round(col("col._2"), 6) else col("col._2")).as("cos"))
  }

  /** Brute-force cosine top-k — the EXACT baseline, O(n²) by
    * construction (labelled as such; use the ANN variants at scale).
    * Norms are hoisted before the join so each is computed n times,
    * not n². The product is UN-HINTED: below the broadcast threshold
    * the planner picks the broadcast nested-loop itself; above it a
    * forced broadcast would OOM before the product even starts, while
    * the planner's shuffled product degrades gracefully. */
  def cosineTopKExact(emb: DataFrame, idCol: String = "vec_id",
                      vecCol: String = "embedding", k: Int = 3): DataFrame = {
    val e = withNorm(emb, idCol, vecCol)
    // spread the STREAMED side before the product: the corpus often
    // arrives as one small file = one partition, and a BNLJ inherits
    // the streamed side's partitioning — without this every one of the
    // n² dot products runs on a single task while the other cores
    // idle. The count is EXPLICIT because the row payload is tiny: AQE
    // would coalesce a bytes-based exchange right back to one
    // partition, blind to the n× per-row join work behind each row. A
    // keyed exchange of n rows is noise next to the n² it parallelizes
    // (this operator is the documented bounded-fixture-scale oracle
    // baseline either way — the production paths are the indexed ANNs).
    val shufflePartitions =
      emb.sparkSession.sessionState.conf.numShufflePartitions
    val a = e.repartition(shufflePartitions, col("vec_id"))
      .select(col("vec_id"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("eb"), col("nrm").as("nb"))
    // the full ordered product, scored directly: an A/B that scored
    // each unordered pair once (`<` join) and mirrored via explode was
    // ~40% SLOWER — the struct/explode materialization of every pair
    // costs more than the halved codegen'd dots save, and the BNLJ
    // enumerates n² predicate evaluations either way
    val pairs = a.join(b, col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos", cosinePrenormed(dot(col("ea"), col("eb")), col("na"), col("nb")))
    topKWindow(pairs, k)
  }

  /** Multi-table hyperplane-LSH ANN top-k: `tables` independent salted
    * signature tables of `planes` hyperplanes each; a pair is a
    * candidate if it collides in ANY table; candidates get exact
    * cosines; grouped top-k via the typed TopKByScore Aggregator
    * (bounded k-entry buffers, map-side partial aggregation). Candidate
    * generation is an equi-join on (table, signature) — cost ∝
    * collisions, not n²; verify joins are keyed on vec_id with NO
    * broadcast hint (corpus-sized side — AQE decides). */
  def hyperplaneAnnTopK(emb: DataFrame, idCol: String = "vec_id",
                        vecCol: String = "embedding", k: Int = 3,
                        // candidate volume ∝ tables; measured on the
                        // sf0.1 fixture: 16 tables → recall 0.64,
                        // 12 → 0.53 at ~60% of the cost, 8 → 0.39 —
                        // 12 is the knee (q70 contracts recall ≥ 0.3)
                        tables: Int = 12, planes: Int = 6): DataFrame = {
    // normed vectors feed the signature projection plus two re-attach
    // joins: materialize once; MATERIALIZED result
    PlanAudit.scope { s =>
      val e = s.checkpoint(withNorm(emb, idCol, vecCol))
      // dimension probe: one metadata-sized lookup so the plane weights
      // can be precomputed as literals (hyperplaneSignatureFast). An
      // empty corpus short-circuits to an empty result with the standard
      // schema — head() on nothing would throw, unlike the exact baseline
      val probe = e.select(size(col("embedding"))).head(1)
      if (probe.isEmpty) emptyTopK(emb.sparkSession, e) else {
        val dim = probe.head.getInt(0)
        // Signature rows carry ONLY (vec_id, tbl, sig): an A/B that carried
        // the embedding + norm through the collision join (to skip the
        // re-attach joins below) was ~2× slower — the join materializes
        // both payloads into every candidate row (candidates × 2×256 B of
        // row copying), which dwarfs the two id-only candidate shuffles it
        // saves. Ids through the collision join, payloads re-attached by
        // keyed join, is the right shape at every scale.
        val sigs = e.select(col("vec_id"),
            explode(array((0 until tables).map(t => struct(lit(t).as("tbl"),
              hyperplaneSignatureFast(col("embedding"), planes, t, dim).as("sig"))): _*)).as("ts"))
          .select(col("vec_id"), col("ts.tbl").as("tbl"), col("ts.sig").as("sig"))
        // no distinct() on the candidate pairs: a pair colliding in t tables
        // appears t times with the SAME deterministic cosine, and the top-k
        // aggregator dedupes ids inside its bounded buffers — skipping a
        // full exchange of the multi-million-row pair set at the price of
        // re-scoring duplicates (one codegen'd dot each)
        val cand = sigs.as("a").join(sigs.as("b"),
            col("a.tbl") === col("b.tbl") && col("a.sig") === col("b.sig") &&
              col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"))
        val pairs = cand
          .join(e.select(col("vec_id"), col("embedding").as("ea"), col("nrm").as("na")), "vec_id")
          .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("eb"), col("nrm").as("nb")), "neighbor_id")
          .withColumn("cos", cosinePrenormed(dot(col("ea"), col("eb")), col("na"), col("nb")))
        s.keep(s.checkpoint(topK(pairs, k)))
      }
    }
  }

  /** Fit the coarse k-means quantizer DRIVER-SIDE on a bounded,
    * deterministic sample: hash-order the corpus by xxhash64(id, seed),
    * take the first `sampleN` vectors (one TakeOrdered job, driver
    * memory bounded at any corpus size), then k-means++ seeding +
    * Lloyd's iterations locally (sampleN × cells × dim flops —
    * microseconds). This is how production IVF indexes train their
    * quantizers (FAISS trains on a sample, never the full corpus): at
    * 100 TB a distributed fit would pay maxIter full-corpus passes for
    * a model whose only job is to partition space roughly evenly.
    * Deterministic in (seed, corpus) — no RNG order-dependence. */
  private[graft] def fitCentroids(e: DataFrame, cells: Int, seed: Long,
                                maxIter: Int, sampleN: Int = 4096): Array[Array[Float]] =
    lloyds(sampleVectors(e, cells, seed, sampleN), cells, seed, maxIter)

  /** Bounded deterministic sample of the embedding column: hash-order
    * by xxhash64(id, seed), take the first `sampleN` — one TakeOrdered
    * job, driver memory bounded at any corpus size. */
  private def sampleVectors(e: DataFrame, atLeast: Int, seed: Long,
                            sampleN: Int): Array[Array[Double]] =
    e.select(col("embedding"))
      .orderBy(xxhash64(col("vec_id"), lit(seed)))
      .limit(math.max(atLeast, sampleN))
      .collect().map(_.getSeq[Float](0).toArray.map(_.toDouble))

  /** k-means++ seeding + Lloyd's iterations over a local sample —
    * deterministic in (seed, sample). Empty cells keep their previous
    * centroid; if the sample is smaller than `cells` the trailing
    * centroids repeat (ties break to the lowest cell id, extras stay
    * empty). */
  private def lloyds(sample: Array[Array[Double]], cells: Int, seed: Long,
                     maxIter: Int): Array[Array[Float]] = {
    val dim = sample.head.length
    val k = math.min(cells, sample.length)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ seeding over the sample (seeded, deterministic). The
    // per-sample min distance to the chosen centers is maintained
    // INCREMENTALLY — only the newest center is scored each round,
    // O(n·k) total instead of the naive O(n·k²) (which at a 2048-cell
    // quantizer was tens of seconds of driver time); min is exact, so
    // the selection (and the rnd draw sequence) is unchanged.
    val rnd = new java.util.Random(seed)
    val centers = scala.collection.mutable.ArrayBuffer(sample(rnd.nextInt(sample.length)))
    val w = sample.map(v => d2(v, centers(0)))
    while (centers.length < k) {
      val total = w.sum
      centers += (if (total <= 0.0) sample(rnd.nextInt(sample.length)) else {
        val r = rnd.nextDouble() * total
        var acc = 0.0; var i = 0
        while (i < sample.length - 1 && acc + w(i) < r) { acc += w(i); i += 1 }
        sample(i)
      })
      val c = centers.last
      var i = 0
      while (i < sample.length) {
        val d = d2(sample(i), c)
        if (d < w(i)) w(i) = d
        i += 1
      }
    }
    // Lloyd's: assign (ties → lowest cell) / re-mean; empty cells keep
    // their previous centroid
    var cs = centers.toArray
    for (_ <- 0 until maxIter) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bd = d2(v, cs(0)); var i = 1
        while (i < k) { val d = d2(v, cs(i)); if (d < bd) { bd = d; best = i }; i += 1 }
        counts(best) += 1
        var j = 0; while (j < dim) { sums(best)(j) += v(j); j += 1 }
      }
      cs = Array.tabulate(k) { i =>
        if (counts(i) == 0) cs(i)
        else sums(i).map(_ / counts(i))
      }
    }
    // cells > sample size: duplicate trailing centroids are harmless —
    // nearest-cell ties break to the lowest id, extra cells stay empty
    Array.tabulate(cells)(i => cs(i % k).map(_.toFloat))
  }

  /** IVF-style ANN top-k: a coarse k-means quantizer (sample-fit
    * driver-side, seeded — see fitCentroids) assigns every vector to a
    * Voronoi cell; each QUERY vector probes its `nprobe` nearest cells
    * (the real IVF search — nprobe trades candidate volume for recall),
    * while the index side stays in its home cell. Centroids are a tiny
    * local model folded into the plan as literals: assignment is one
    * narrow codegen'd projection (native dots — no MLlib jobs, no
    * assignment join), candidate generation an equi-join on the cell id
    * (un-hinted — the corpus side must shuffle at scale; cost ∝
    * nprobe × cell size). */
  def ivfAnnTopK(emb: DataFrame, idCol: String = "vec_id",
                 vecCol: String = "embedding", k: Int = 3,
                 cells: Int = 16, nprobe: Int = 1,
                 seed: Long = 42, maxIter: Int = 5): DataFrame = {
    require(nprobe >= 1 && nprobe <= cells)
    // normed vectors feed the quantizer sample, the assignment, and
    // both join sides: materialize once; MATERIALIZED result
    PlanAudit.scope { s =>
      val e = s.checkpoint(withNorm(emb, idCol, vecCol))
      // empty corpus → empty result (there is nothing to fit)
      if (e.head(1).isEmpty) emptyTopK(emb.sparkSession, e) else {
        val centroids = fitCentroids(e, cells, seed, maxIter)
        val withCell = e.withColumn("cell", nearestCell(col("embedding"), centroids))
        val probeSide =
          if (nprobe == 1)
            withCell.select(col("cell"), col("vec_id"),
              col("embedding").as("ea"), col("nrm").as("na"))
          else
            e.select(col("vec_id"), col("embedding"), col("nrm"),
                explode(nearestCells(col("embedding"), centroids, nprobe)).as("cell"))
              .select(col("cell"), col("vec_id"),
                col("embedding").as("ea"), col("nrm").as("na"))
        val b = withCell.select(col("cell"), col("vec_id").as("neighbor_id"),
          col("embedding").as("eb"), col("nrm").as("nb"))
        val pairs = probeSide.join(b, Seq("cell"))
          .filter(col("vec_id") =!= col("neighbor_id"))
          .withColumn("cos", cosinePrenormed(dot(col("ea"), col("eb")), col("na"), col("nb")))
        s.keep(s.checkpoint(topK(pairs, k)))
      }
    }
  }

  /** Build a PERSISTENT IVF index under `path`: fit the coarse
    * quantizer once, then write `centroids` (cells × array<float>, a
    * KB-sized model) and `vectors/` — every vector with its
    * precomputed norm, PARTITIONED BY CELL on disk. The point at
    * scale: clustering and norm computation are paid once at build
    * time; every subsequent search is a partition-pruned read + one
    * keyed join — no refit, no rescan of the full corpus.
    */
  def buildIvfIndex(emb: DataFrame, path: String,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    cells: Int = 16, seed: Long = 42, maxIter: Int = 5): Unit =
    VersionedIndex.rewrite(emb.sparkSession, path)(writeIvfTree(
      emb.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")), _,
      cells, None, seed, maxIter))

  /** The complete tree of an IVF index over (vec_id, embedding) rows,
    * into the version directory `root` ([[IvfIndex.write]]), with `pq` =
    * (m, ksub) in the IVF+PQ form. ONE bounded sample feeds both the
    * coarse quantizer and the residual codebooks (deterministic in
    * (seed, corpus), without re-running the TakeOrdered sample job per
    * model). Shared by the builds and [[reindex]]. */
  private def writeIvfTree(e: DataFrame, root: String, cells: Int,
                           pq: Option[(Int, Int)], seed: Long, maxIter: Int): Unit = {
    require(e.head(1).nonEmpty,
      s"cannot build an ${if (pq.isEmpty) "IVF" else "IVF+PQ"} index over an empty corpus")
    val sample = sampleVectors(e, math.max(cells, pq.fold(0)(_._2)), seed, 4096)
    val centroids = lloyds(sample, cells, seed, maxIter)
    IvfIndex.write(e, root, centroids, pq.map { case (m, ksub) =>
      fitResidualCodebooks(sample, centroids, m, ksub, seed, maxIter)
    })
  }

  /** Search a persisted IVF index: each query row ranks the stored
    * centroids inline (literal expressions), probes its `nprobe`
    * nearest cells, and equi-joins the index on the cell id. The set of
    * probed cells is bounded by the cell count (a handful of ints), so
    * it is collected first and pushed as a PARTITION FILTER on the
    * index read — cells no query probes are never read from disk. The
    * price is one extra pass over the query side (ranking centroids is
    * a narrow map); at service scale the query side is orders of
    * magnitude smaller than the index, which is the point of an index.
    * Output: (vec_id, rank, neighbor_id, cos) — same contract as the
    * other top-k operators. */
  def ivfSearchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding", k: Int = 3,
                     nprobe: Int = 2): DataFrame = {
    val idx = IvfIndex.open(spark, path)
    idx.requireNprobe(nprobe)
    val centroids = idx.centroids
    val q = withNorm(queries, idCol, vecCol)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(nearestCells(col("embedding"), centroids, nprobe)).as("cell"))
      .select(col("cell"), col("vec_id"),
        col("embedding").as("ea"), col("nrm").as("na"))
      // materialization barrier (see ivfPqSearchIndex): fused codegen
      // would defer the na dot into the join's match loop — recomputed
      // per candidate; the exchange pins it to once per probe row and
      // routes queries to their probed cells' shards
      .repartition(col("cell"))
    // probed-cell discovery as its own NARROW pass (r18): collecting
    // off `q` executed the whole norm+explode subtree AND its exchange
    // a second time just to learn ≤cells ints; this plan is the same
    // nearestCells expression over the same rows (identical cell set),
    // map-side partial-aggregated, no exchange of payload columns.
    val probed = queries
      .select(explode(nearestCells(col(vecCol), centroids, nprobe)).as("cell"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val index = idx.vectors
      .filter(col("cell").isin(probed: _*))
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("embedding").as("eb"), col("nrm").as("nb"))
    val pairs = q.join(index, Seq("cell"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos", cosinePrenormed(dot(col("ea"), col("eb")), col("na"), col("nb")))
    topK(pairs, k)
  }

  /** Train product-quantization codebooks DRIVER-SIDE on the same
    * bounded deterministic sample the IVF quantizer uses: the embedding
    * is split into `m` contiguous subspaces and each gets its own
    * `k`-centroid Lloyd's codebook (seeded per subspace). Returns
    * codebooks(i)(c) = the c-th codeword of subspace i. PQ is the
    * standard way to hold corpus-scale embedding sets in memory: m
    * small codes per vector instead of dim floats (m=8, k=16 over
    * dim=64 float32 → 4 bytes/vector vs 256 — 64×), with the codebooks
    * a KB-sized model shipped as literals. */
  def pqTrain(emb: DataFrame, idCol: String = "vec_id",
              vecCol: String = "embedding", m: Int = 8, k: Int = 16,
              seed: Long = 42, maxIter: Int = 5,
              sampleN: Int = 4096): Array[Array[Array[Float]]] = {
    val e = withNorm(emb, idCol, vecCol)
    require(e.head(1).nonEmpty, "cannot train PQ codebooks on an empty corpus")
    val sample = sampleVectors(e, k, seed, sampleN)
    val dim = sample.head.length
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m subspaces")
    val sub = dim / m
    Array.tabulate(m) { i =>
      lloyds(sample.map(v => java.util.Arrays.copyOfRange(v, i * sub, (i + 1) * sub)),
        k, seed + i, maxIter)
    }
  }

  /** PQ-encode every vector: (id, codes) where codes(i) is the nearest
    * codeword of subspace i — one narrow codegen'd projection over
    * codebook literals (native dot per codeword), no joins, no
    * shuffles. `dim` must match the training dimension. */
  def pqEncode(emb: DataFrame, codebooks: Array[Array[Array[Float]]],
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val codes = array((0 until m).map { i =>
      // slice() is 1-based; each subspace ranks its own codebook
      nearestCell(slice(col(vecCol), i * sub + 1, sub), codebooks(i))
    }: _*)
    emb.select(col(idCol).as("vec_id"), codes.as("codes"))
  }

  /** Reconstruction of a codes column: the concatenation of each
    * subspace's codeword — the decoded approximation PQ search scores
    * against. Codebooks ride along as array literals; element_at is a
    * constant-time lookup. */
  def pqReconstruct(codes: org.apache.spark.sql.Column,
                    codebooks: Array[Array[Array[Float]]]): org.apache.spark.sql.Column =
    flatten(array(codebooks.zipWithIndex.map { case (cb, i) =>
      element_at(typedLit(cb.map(_.toSeq).toSeq),
        element_at(codes, i + 1) + 1)
    }: _*))

  /** Train RESIDUAL PQ codebooks for an IVF+PQ index, driver-side over
    * the same bounded deterministic sample as the coarse quantizer:
    * each sample vector is assigned to its nearest centroid locally,
    * the residual (v − centroid) is split into `m` subspaces, and each
    * subspace gets a `ksub`-codeword Lloyd's codebook. Residual
    * encoding (vs raw-vector PQ) is the classic IVF+PQ composition:
    * the coarse cell absorbs the vector's location, so the codebooks
    * only model the much smaller within-cell spread — materially
    * better reconstruction at the same code budget. */
  private def fitResidualCodebooks(
      sample: Array[Array[Double]], centroids: Array[Array[Float]],
      m: Int, ksub: Int, seed: Long, maxIter: Int): Array[Array[Array[Float]]] = {
    val dim = sample.head.length
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m subspaces")
    val sub = dim / m
    def nearest(v: Array[Double]): Int = {
      var best = 0; var bd = Double.MaxValue; var i = 0
      while (i < centroids.length) {
        var s = 0.0; var j = 0
        while (j < dim) { val d = v(j) - centroids(i)(j); s += d * d; j += 1 }
        if (s < bd) { bd = s; best = i }
        i += 1
      }
      best
    }
    val residuals = sample.map { v =>
      val c = centroids(nearest(v))
      Array.tabulate(dim)(j => v(j) - c(j))
    }
    Array.tabulate(m) { i =>
      lloyds(residuals.map(r => java.util.Arrays.copyOfRange(r, i * sub, (i + 1) * sub)),
        ksub, seed + i, maxIter)
    }
  }

  /** Build a persistent IVF+PQ index under `path` — the memory-bounded
    * 100 TB ANN serving shape: `centroids` + raw `vectors/` (the
    * buildIvfIndex layout, kept for exact rescoring), plus `codebooks`
    * (m × ksub residual codewords, a KB-sized model) and `codes/` —
    * every vector as m small codes + its reconstruction norm,
    * PARTITIONED BY CELL. At serving time the searcher holds codes in
    * memory (m bytes/vector instead of dim floats — 16× at the
    * defaults) and touches raw vectors only for the bounded rescore
    * set. Everything distributed is a narrow codegen'd projection over
    * centroid/codebook literals — no fit jobs, no shuffles beyond the
    * partitioned write. */
  def buildIvfPqIndex(emb: DataFrame, path: String,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      // m=16 over m=8: measured ADC recall 0.26-0.28 vs
                      // 0.18-0.19 and rescore-9 recall within 0.05 of the
                      // exact-resident search on the fixtures — finer
                      // subspaces halve the residual the codebook must
                      // model, at the same 16x memory claim
                      cells: Int = 16, m: Int = 16, ksub: Int = 16,
                      seed: Long = 42, maxIter: Int = 5): Unit =
    VersionedIndex.rewrite(emb.sparkSession, path)(writeIvfTree(
      emb.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")), _,
      cells, Some((m, ksub)), seed, maxIter))

  /** Append vectors to a persisted IVF or IVF+PQ index WITHOUT
    * refitting: the stored centroids (and, PQ-coded, codebooks) define
    * cell assignment and codes for the life of the index (the standard
    * add() contract — a quantizer is fit once, adding re-trains
    * nothing), so an append is one narrow codegen'd assignment pass
    * plus an append-mode partitioned write per half: `vectors/`, and
    * `codes/` when the index's layout holds codebooks — the caller
    * never picks the form. Searches see the new vectors on their next
    * run; cell partition pruning keeps working because the on-disk
    * layout is unchanged. When the corpus drifts far enough that the
    * fixed cells skew, rebuild — that trade (cheap adds, periodic
    * rebuild) is how every production IVF deployment runs. */
  def appendToIvfIndex(emb: DataFrame, path: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    val idx = IvfIndex.open(emb.sparkSession, path)
    val e = emb.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    e.head(1).foreach { r =>
      val d = r.getSeq[Float](1).length
      require(d == idx.dim, s"appended dim $d != index dim ${idx.dim}")
    }
    idx.append(e)
  }

  /** Maintain a persisted IVF or IVF+PQ index FROM A STREAM — index
    * maintenance at ingest: each micro-batch runs [[appendToIvfIndex]]
    * (narrow assignment under the frozen quantizer, append-mode
    * partitioned write to every half), so searches see a batch as soon
    * as its files land and
    * cell pruning never breaks. Returns the started query; the caller
    * owns its lifecycle. Delivery is the standard foreachBatch
    * contract: at-least-once on crash-replay (a replayed batch
    * re-appends its rows) — dedupe by id at read time or rebuild
    * periodically if exact-once matters; the batch ingest path's
    * staged-publish protocol is the heavier alternative. */
  def appendStreamToIvfIndex(stream: DataFrame, path: String,
                             checkpoint: String,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             trigger: org.apache.spark.sql.streaming.Trigger =
                               org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (batch.head(1).nonEmpty) appendToIvfIndex(batch, path, idCol, vecCol)
      }
      .start()

  /** One commit unit of CONTINUOUS SEMANTIC curation —
    * [[graft.api.Dedup.nearDupSuppressAndIndex]] for the embedding
    * space, against a persisted IVF or IVF+PQ index:
    *  1. drop every batch vector whose cosine against an
    *     ALREADY-indexed vector (probed at `nprobe` cells; batch ids
    *     excluded from the index side for replay safety) clears
    *     `threshold`;
    *  2. among the remainder, drop every vector with a
    *     strictly-lower-id near-dup in the remainder, candidates
    *     CELL-KEYED under the frozen quantizer: the lower-id vector
    *     plays the indexed role at its assigned cell, the higher-id
    *     vector probes its `nprobe` nearest cells — the exact geometry
    *     step 1 applies to the real index, as if the batch had arrived
    *     one row at a time;
    *  3. append the survivors under the FROZEN quantizer to every half
    *     the index holds ([[appendToIvfIndex]]'s write: `vectors/`, and
    *     `codes/` under the frozen codebooks when PQ-coded); a per-batch
    *     idempotence marker (content-hash of the batch's id set, the
    *     ingest `_commits` pattern) makes a replayed batch skip the
    *     append in O(1), and a crash INSIDE a previous append window
    *     falls back to the id-diff repair (each half writes only the ids
    *     it lacks at their assigned cells — `vectors` by vec_id, `codes`
    *     by neighbor_id) — so a re-run changes nothing.
    *
    * Null-embedding rows pass through unsuppressed and unindexed (no
    * evidence either way); zero-norm vectors never flag (cosine
    * defined 0). Approximate by IVF geometry at nprobe < cells — a
    * near-copy assigned to an unprobed cell is missed, in step 2
    * exactly as in step 1; exhaustive at nprobe = cells (what makes
    * the q168 oracle exact). Cosines round to the file-wide 6-decimal
    * grid BEFORE thresholding, engine-portably. Scale shape: the flag
    * pass reads only probed cells and scores only cell-colocated
    * pairs; the within-batch pass is the SAME cell-keyed equi-join —
    * never an O(batch²) pairwise product, which at the engine's 1M-row
    * default commit size would mean 10¹² cosine pairs per micro-batch;
    * the append is marker-gated, so the steady state never re-reads
    * indexed ids. Returns the surviving rows, materialized before the
    * append. */
  def semanticSuppressAndIndex(batch: DataFrame, path: String,
                               threshold: Double = 0.9, nprobe: Int = 2,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): DataFrame = {
    val spark = batch.sparkSession
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val idx = IvfIndex.open(spark, path)
    idx.requireNprobe(nprobe)
    // the batch and its probed/assigned projections each feed 2+
    // subplans (probed-cells collect + flag join; both sides of the
    // cell-keyed within-batch join; the append) — materialize once,
    // like the text-side twin. r18: the append ledger's token
    // aggregates ride this checkpoint as observe metrics instead of a
    // standalone aggregation job per commit.
    val tokObs = org.apache.spark.sql.Observation()
    val tokAggs = AppendLedger.tokenAggs(idCol)
    PlanAudit.scope { s =>
      val b = s.checkpoint(batch.observe(tokObs, tokAggs.head.as("c"),
        tokAggs(1).as("h1"), tokAggs(2).as("h2")))
      val (q, index) = flagSides(s, idx, b, idCol, vecCol, nprobe)
      val flagged = indexPairs(q, index, threshold)
        .select(col("vec_id").as("__dup_id")).distinct()
      // step-1 survivors MATERIALIZE here (r17, guide §5): afterIndex
      // feeds three consumers — the assigned-cell projection, the
      // within-batch probe restriction, and the final anti-join — and
      // two of those run in SEPARATE executions (aAssigned's checkpoint
      // job, then keep's). Unchecked, each execution re-ran the whole
      // flag subtree: the probed-cell index scan (≈ the corpus slice at
      // commit-sized batches — every batch row probes nprobe cells, so
      // a 250k-row batch touches essentially all cells), its exchange,
      // and the per-pair cosine filter — 2× the dominant cost of the
      // operator. One commit-sized localCheckpoint buys flag-join-
      // exactly-once; results are identical (same rows, same plan
      // below the checkpoint).
      val afterIndex = s.checkpoint(
        b.join(flagged, b(idCol) === col("__dup_id"), "left_anti"))
      // step-1 survivors at their ASSIGNED cell — the indexed role for
      // the within-batch pass, and (restricted to the final survivors)
      // exactly the rows the append writes
      val aAssigned = s.checkpoint(assigned(idx, afterIndex, idCol, vecCol))
      // step 2 — cell-keyed, never pairwise (see batchPairs)
      val dropped = batchPairs(q, afterIndex, aAssigned, idCol, threshold)
        .select(col("vec_id").as("__drop_id")).distinct()
      // the caller's to release, or the scope's if the append fails
      val keep = s.keep(s.checkpoint(afterIndex
        .join(dropped, afterIndex(idCol) === col("__drop_id"), "left_anti")))
      val toIndex = aAssigned.join(
        keep.select(col(idCol).as("vec_id")), Seq("vec_id"))
        .select(col("vec_id"), col("embedding"))
      // crash-window repair needs NO committer atomicity, unlike the
      // band/chunk stores: a vector has exactly ONE row per half
      AppendLedger.appendOnce(spark, path,
          AppendLedger.tokenFromParts(
            tokObs.get("c").asInstanceOf[Long],
            tokObs.get("h1").asInstanceOf[java.math.BigDecimal],
            tokObs.get("h2").asInstanceOf[java.math.BigDecimal]))(idx.append(toIndex, _))
      keep
    }
  }

  /** The flag geometry [[semanticSuppressAndIndex]] and its dry run
    * share: the batch's non-null vectors `q` (vec_id, ea, na) at each of
    * their `nprobe` nearest cells (materialized: the probed-cell collect
    * and both joins read it), and the indexed vectors (cell, __iid, eb,
    * nb) in those cells minus the batch's own ids, so rows a crashed
    * attempt already appended never flag their own replay. */
  private def flagSides(s: PlanAudit.Scope, idx: IvfIndex, b: DataFrame, idCol: String,
                        vecCol: String, nprobe: Int): (DataFrame, DataFrame) = {
    val q = s.checkpoint(
      withNorm(b.filter(col(vecCol).isNotNull), idCol, vecCol)
        .select(col("vec_id"), col("embedding").as("ea"), col("nrm").as("na"),
          explode(nearestCells(col("embedding"), idx.centroids, nprobe)).as("cell")))
    val bIds = b.select(col(idCol).as("__bid")).distinct()
    val probed = q.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    (q, idx.vectors
      .filter(if (probed.isEmpty) lit(false) else col("cell").isin(probed: _*))
      .join(bIds, col("vec_id") === col("__bid"), "left_anti")
      .select(col("cell"), col("vec_id").as("__iid"),
        col("embedding").as("eb"), col("nrm").as("nb")))
  }

  /** The non-null vectors of `rows` (vec_id, embedding, nrm) at their
    * assigned cell — the indexed role in the within-batch pass. */
  private def assigned(idx: IvfIndex, rows: DataFrame, idCol: String,
                       vecCol: String): DataFrame =
    withNorm(rows.filter(col(vecCol).isNotNull), idCol, vecCol)
      .withColumn("cell", nearestCell(col("embedding"), idx.centroids))

  /** Batch-vs-index pairs (vec_id, mid = index id, cos) of [[flagSides]]
    * that clear `threshold`. */
  private def indexPairs(q: DataFrame, index: DataFrame, threshold: Double): DataFrame =
    clearing(q.join(index, Seq("cell")).select(col("vec_id"), col("__iid").as("mid"),
      cosinePrenormed(dot(col("ea"), col("eb")), col("na"), col("nb")).as("cos")), threshold)

  /** Within-batch pairs (vec_id, mid, cos) among the `rows` that clear
    * `threshold`, cell-keyed, never pairwise: the higher-id vector
    * probes via its `q` cells, the strictly-lower-id `mid` sits at its
    * assigned cell (`assignedRows`), as if indexed. */
  private def batchPairs(q: DataFrame, rows: DataFrame, assignedRows: DataFrame,
                         idCol: String, threshold: Double): DataFrame =
    clearing(q.join(rows.select(col(idCol).as("vec_id")), Seq("vec_id")).as("x")
      .join(assignedRows.as("y"),
        col("x.cell") === col("y.cell") && col("y.vec_id") < col("x.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("mid"), cosinePrenormed(
        dot(col("x.ea"), col("y.embedding")), col("x.na"), col("y.nrm")).as("cos")), threshold)

  /** DRY-RUN of [[semanticSuppressAndIndex]] —
    * [[graft.api.Dedup.nearDupSuppressExplain]] for the embedding
    * space: every batch vector's verdict (kept / index_dup /
    * batch_dup) with best-match evidence (highest cosine, ties →
    * lowest match id), no side effects. Null-embedding rows report
    * 'kept' with null evidence (no evidence either way — exactly the
    * real pass's passthrough). Approximate by the same nprobe
    * geometry as the real pass — in BOTH stages: the within-batch
    * candidates are the same cell-keyed join (lower-id side at its
    * assigned cell, higher-id side probing nprobe cells), never an
    * O(batch²) pairwise product; exhaustive at nprobe = cells (what
    * makes the q171 oracle exact). Distinct 6-decimal cosines differ
    * by ≥ 1e-6, far above the (1 − cos) subtraction's ulp, so the
    * argmax tie rule resolves identically to the oracle's
    * (score DESC, id) ordering. */
  def semanticSuppressExplain(batch: DataFrame, path: String,
                              threshold: Double = 0.9, nprobe: Int = 2,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    val spark = batch.sparkSession
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val idx = IvfIndex.open(spark, path)
    idx.requireNprobe(nprobe)
    PlanAudit.scope { s =>
      val b = s.checkpoint(batch)
      val (q, index) = flagSides(s, idx, b, idCol, vecCol, nprobe)
      def bestMatch(pairs: DataFrame): DataFrame = pairs
        .groupBy(col("vec_id"))
        .agg(max(col("cos")).as("score"),
          min(struct((lit(1d) - col("cos")).as("negc"),
            col("mid").as("mid"))).as("w"))
        .select(col("vec_id"), col("w.mid").as("match_id"), col("score"))
      val idxBest = s.checkpoint(bestMatch(indexPairs(q, index, threshold)))
      val afterIndex =
        b.join(idxBest, b(idCol) === idxBest("vec_id"), "left_anti")
      // within-batch candidates: the real pass's cell-keyed geometry
      // (each pair appears at most once: the lower-id side has ONE
      // assigned cell, so max/min argmax aggregates are unaffected)
      val batchBest = bestMatch(batchPairs(q, afterIndex,
        assigned(idx, afterIndex, idCol, vecCol), idCol, threshold))
      s.keep(s.checkpoint(b.select(col(idCol))
        .join(idxBest.select(col("vec_id").as(idCol),
          col("match_id").as("__im"), col("score").as("__is")), Seq(idCol), "left")
        .join(batchBest.select(col("vec_id").as(idCol),
          col("match_id").as("__bm"), col("score").as("__bs")), Seq(idCol), "left")
        .select(col(idCol),
          when(col("__im").isNotNull, lit("index_dup"))
            .when(col("__bm").isNotNull, lit("batch_dup"))
            .otherwise(lit("kept")).as("verdict"),
          coalesce(col("__im"), col("__bm")).as("match_id"),
          coalesce(col("__is"), col("__bs")).as("score"))))
    }
  }

  /** Compact a persisted IVF index — layout-only maintenance for the
    * per-batch append path ([[appendStreamToIvfIndex]] /
    * [[semanticSuppressStream]]): every append adds a file set per
    * assigned cell partition, so an uncompacted index accumulates
    * O(batches × cells) small parquet files and every probe pays the
    * open-file tax on all of them. Rewrites the CURRENT version's
    * cell stores into one file per cell under the SAME frozen
    * quantizer (data and assignments identical — unlike [[reindex]],
    * nothing re-clusters) and commits it as a fresh version; a crash
    * leaves the old version fully live. Compacts the PQ `codes` half
    * too when the layout holds it. Vacuum afterwards to reclaim
    * superseded versions, only once no searcher holds a pre-swap
    * resolution. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): Unit =
    IvfIndex.open(spark, path).compact()

  /** Near-dup pairs ACROSS two persisted IVF indexes, from stored
    * state alone — [[graft.api.Dedup.crossIndexNearDupPairs]] for the
    * embedding space, completing the federation triad (Jaccard bands /
    * hamming chunks / IVF cells): each side was deduped internally
    * when its index was built, so the remaining question is only
    * cross-corpus, and both answers sit in the indexes (stored vectors
    * + norms; A's frozen quantizer as the common geometry) — no
    * re-embedding of either corpus. A's centroids define the candidate
    * cells: B's vectors probe their `nprobe` nearest A-cells and score
    * against A's vectors stored there, exactly the suppressor's flag
    * geometry — approximate at nprobe < cells, exhaustive at
    * nprobe = cells (what makes the q176 oracle exact). Requires equal
    * dimensions and disjoint ids (a shared id would report itself as a
    * cosine-1 pair). Output: (vec_a from A, vec_b from B, cos) with
    * the file-wide 6-decimal rounding applied BEFORE the threshold.
    * Scale shape: cost ∝ cell-colocated cross pairs, never |A| × |B|;
    * each pair scores at most once (an A vector sits in exactly one
    * cell). */
  def crossIndexSemanticPairs(spark: org.apache.spark.sql.SparkSession,
                              pathA: String, pathB: String,
                              threshold: Double = 0.9,
                              nprobe: Int = 2): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val (a, b) = IvfIndex.both(spark, pathA, pathB, nprobe,
      "cross-index cosines are undefined")
    crossSemanticPairsCore(a, b, threshold, nprobe)
  }

  /** [[crossIndexSemanticPairs]] body over indexes [[IvfIndex.both]]
    * verified. */
  private def crossSemanticPairsCore(idxA: IvfIndex, idxB: IvfIndex,
                                     threshold: Double, nprobe: Int): DataFrame = {
    val a = idxA.vectors
      .select(col("cell"), col("vec_id").as("vec_a"),
        col("embedding").as("ea"), col("nrm").as("na"))
    val b = idxB.vectors
      .select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("nrm").as("nb"),
        explode(nearestCells(col("embedding"), idxA.centroids, nprobe)).as("cell"))
    clearing(b.join(a, Seq("cell"))
      .select(col("vec_a"), col("vec_b"),
        cosinePrenormed(dot(col("ea"), col("eb")), col("na"), col("nb")).as("cos")), threshold)
  }

  /** Merge two IVF indexes into a NEW index at `outPath` —
    * [[graft.api.Dedup.mergeNearDupIndexes]] for the embedding space:
    * A's vectors all survive under A's quantizer (A wins the
    * geometry); B's vectors that near-dup A (per
    * [[crossIndexSemanticPairs]], when `dedupAcross`) drop, and B's
    * survivors RE-ASSIGN under A's frozen centroids, so the merged
    * index serves searches exactly as if B's survivors had been
    * [[appendToIvfIndex]]'d — cell pruning intact, no re-clustering.
    * Pure stored-state surgery: neither corpus re-embeds. Ids must be
    * disjoint; dimensions must match. PQ-coded indexes refuse loudly —
    * B's codes are valid only under B's codebooks, and re-encoding
    * needs the original vectors the `codes` table does not carry;
    * rebuild instead. The merge lands as a fresh committed version of
    * outPath (v1 on a fresh path). The
    * merged index's cells keep A's geometry even where B's corpus
    * drifts from it — watch [[ivfDriftProfile]] and [[reindex]] on the
    * merge, the same trade every append already makes. Returns the
    * number of B vectors dropped. */
  def mergeIvfIndexes(spark: org.apache.spark.sql.SparkSession,
                      pathA: String, pathB: String, outPath: String,
                      threshold: Double = 0.9, nprobe: Int = 2,
                      dedupAcross: Boolean = true): Long = {
    Dedup.requireDistinctOutPath(spark, outPath, pathA, pathB)
    val (idxA, idxB) = IvfIndex.both(spark, pathA, pathB, nprobe,
      "the merged index cannot serve both")
    Seq(idxA, idxB).foreach(i => require(!i.pq,
      s"${i.path} is PQ-coded — its codes are valid only under its own " +
        "codebooks and cannot re-encode from stored state; rebuild the " +
        "merged index from vectors instead"))
    PlanAudit.scope { s =>
      val dropB =
        if (dedupAcross)
          s.checkpoint(crossSemanticPairsCore(idxA, idxB, threshold, nprobe)
            .select(col("vec_b").as("__drop_id")).distinct())
        else spark.range(0).select(col("id").as("__drop_id"))
      val nDrop = if (dedupAcross) dropB.count() else 0L
      VersionedIndex.rewrite(spark, outPath) { target =>
        idxA.copyModel(target)
        val a = idxA.vectors
          .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
        val bKeep = idxB.vectors
          .join(dropB, col("vec_id") === col("__drop_id"), "left_anti")
          .select(col("vec_id"), col("embedding"), col("nrm"),
            nearestCell(col("embedding"), idxA.centroids).as("cell"))
        a.unionByName(bKeep)
          .repartition(col("cell")) // one file set per cell, not per task x cell
          .write.mode("overwrite").partitionBy("cell").parquet(s"$target/vectors")
      }
      nDrop
    }
  }

  /** Streaming semantic suppression — [[graft.api.Dedup.nearDupSuppressStream]]
    * for the embedding space: each micro-batch runs
    * [[semanticSuppressAndIndex]] and its survivors land under
    * `outPath/batch=<id>/`. The single foreachBatch writer serializes
    * index growth; a crash replays the batch idempotently (own-batch
    * ids excluded from the flag pass, output dirs overwrite, the
    * append writes only cell-missing ids). The index must exist; its
    * frozen quantizer pins cell assignment so every batch routes the
    * way the corpus did — watch [[ivfDriftProfile]] and [[reindex]]
    * when the stream's distribution wanders. `compactEveryBatches` > 0
    * runs [[compactIvfIndex]] after every Nth batch — at micro-batch
    * cadence the per-append small-file accumulation is the scale
    * story, exactly as on the text side — and retention-vacuums the
    * append ledger to `ledgerKeepLast` completed markers
    * ([[graft.api.Dedup.vacuumSuppressorAppendLedger]]). */
  def semanticSuppressStream(stream: DataFrame, indexPath: String,
                             outPath: String, checkpointDir: String,
                             threshold: Double = 0.9, nprobe: Int = 2,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             compactEveryBatches: Int = 0,
                             ledgerKeepLast: Int = 100000)
      : org.apache.spark.sql.streaming.StreamingQuery =
    AppendLedger.suppressStream(stream, indexPath, outPath, checkpointDir,
      compactEveryBatches, ledgerKeepLast)(
      semanticSuppressAndIndex(_, indexPath, threshold, nprobe, idCol, vecCol))(
      compactIvfIndex)

  /** Integrity report for a persisted IVF index
    * ([[graft.api.Dedup.nearDupIndexIntegrity]] for the cell store):
    * one row with n_docs (distinct ids), structure_ok (each id stored
    * exactly once — an at-least-once replay through the blind
    * [[appendStreamToIvfIndex]] path duplicates rows — and every cell
    * id inside [0, cells)), and consistency_ok (the stored norm
    * matches the embedding it rides with, to the 6-decimal grid — a
    * corrupted norm silently skews every cosine the index serves — and,
    * PQ-coded, every `vectors` row has exactly one `codes` row in the
    * same cell and the reverse: a diverged half makes ADC search miss
    * live vectors or serve deleted ones). One aggregation over the
    * vectors table, plus on a PQ index one (id, cell) keyed join of
    * the two halves; no pair joins. */
  def ivfIndexIntegrity(spark: org.apache.spark.sql.SparkSession,
                        path: String): DataFrame = {
    val idx = IvfIndex.open(spark, path)
    val cells = idx.cells
    val v = idx.vectors
    val perDoc = v.groupBy("vec_id").agg(count(lit(1)).as("n_rows"))
      .agg(count(lit(1)).as("n_docs"),
        (coalesce(sum(when(col("n_rows") =!= 1L, 1L).otherwise(0L)),
          lit(0L)) === 0L).as("ids_unique"))
    val rowChecks = v.agg(
      (coalesce(sum(when(col("cell") < 0 || col("cell") >= cells, 1L)
        .otherwise(0L)), lit(0L)) === 0L).as("cells_in_range"),
      (coalesce(sum(when(round(col("nrm"), 6) =!=
          round(norm(col("embedding")), 6), 1L)
        .otherwise(0L)), lit(0L)) === 0L).as("norms_match"))
    def rowsPerCell(half: DataFrame, id: String, n: String) =
      half.groupBy(col(id).as("vec_id"), col("cell")).agg(count(lit(1)).as(n))
    val checks =
      if (!idx.pq) rowChecks.withColumn("halves_match", lit(true))
      else rowChecks.crossJoin(rowsPerCell(v, "vec_id", "nv")
        .join(rowsPerCell(idx.codes, "neighbor_id", "nc"), Seq("vec_id", "cell"), "full_outer")
        .agg((coalesce(sum(when(col("nv") === 1L && col("nc") === 1L, 0L)
          .otherwise(1L)), lit(0L)) === 0L).as("halves_match")))
    perDoc.crossJoin(checks)
      .select(lit("ivf").as("store"), col("n_docs"),
        (col("ids_unique") && col("cells_in_range")).as("structure_ok"),
        (col("norms_match") && col("halves_match")).as("consistency_ok"))
  }

  /** Delete vectors from a persisted IVF or IVF+PQ index by id — the
    * lifecycle step between append and rebuild. Every half the index's
    * layout holds drops the ids: `vectors/`, and `codes/` when PQ-coded.
    * The ids are cast to the stored id type, so any id type the build
    * accepted deletes. Each half touches ONLY the cells that actually
    * hold deleted ids: an id-column-pruned scan finds the affected
    * cells (a handful of ints — no embedding bytes read), the rewrite
    * reads just those cells back partition-pruned, anti-joins the
    * delete set, and lands via DYNAMIC partition overwrite, so
    * untouched cells' files are never listed, read, or replaced. A cell
    * emptied by the delete is removed explicitly: dynamic overwrite
    * cannot clear a partition it writes no rows for — without this, a
    * fully-deleted cell would keep serving its old vectors (the
    * silent-resurrection failure; IndexLifecycleSpec pins it). Searches
    * stay correct throughout because the quantizer is frozen: pruning
    * never routes a query to a cell that could hold a surviving copy of
    * a deleted id. Returns the number of vectors deleted. */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, ids: DataFrame,
                         idCol: String = "vec_id"): Long =
    IvfIndex.open(spark, path).delete(ids, idCol)

  /** Search a persistent IVF+PQ index by ASYMMETRIC DISTANCE: the query
    * side stays exact, residents are their PQ codes. Per QUERY row a
    * lookup table of m × ksub codeword dots is computed once (codegen'd
    * dots over codebook literals — the classic ADC table); each
    * candidate is then scored with m array lookups + adds instead of a
    * dim-float dot:
    *   ⟨q, recon⟩ = ⟨q, centroid(cell)⟩ + Σᵢ lut(i)(codeᵢ)
    * and the cosine divides by the STORED reconstruction norm. Probed
    * cells are pushed as a partition filter on the codes read (same
    * pruning as ivfSearchIndex). With `rescoreDepth` > 0 the PQ ranking
    * keeps that many candidates per query and re-scores them EXACTLY
    * against the raw `vectors/` half of the index (keyed join on the
    * bounded survivor set) — the production serve shape: PQ prunes,
    * exact rescoring ranks. Output: (vec_id, rank, neighbor_id, cos). */
  def ivfPqSearchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       queries: DataFrame, idCol: String = "vec_id",
                       vecCol: String = "embedding", k: Int = 3,
                       nprobe: Int = 2, rescoreDepth: Int = 0): DataFrame = {
    val (rankedRaw, probed, q0, idx) =
      pqAdcRanked(spark, path, queries, idCol, vecCol,
        math.max(k, rescoreDepth), nprobe)
    rankedRaw match {
      case None => emptyTopK(spark, q0)
      case Some(ranked) =>
        if (rescoreDepth <= 0)
          ranked.withColumn("cos", round(col("cos"), 6))
        else pqRescoreTopK(idx,
          ranked.select(col("vec_id"), col("neighbor_id")), q0, probed, k)
    }
  }

  /** One index probe, BOTH rankings: returns (adcTopK, rescoredTopK).
    * The raw-ADC top-k is the head of the same depth ranking the
    * rescore pass starts from, so deriving both from one probe halves
    * the search work vs two [[ivfPqSearchIndex]] calls. The two
    * returned frames share the ranking SUBTREE, not a cache: when both
    * are consumed in one action, ReuseExchange dedupes the probe and
    * ranking exchanges (A/B'd: an explicit persist barrier here LOST
    * ~1 s at sf0.1 by serializing against concurrent subtrees, while
    * plan-level reuse kept full stage overlap). */
  def ivfPqSearchIndexBoth(spark: org.apache.spark.sql.SparkSession, path: String,
                           queries: DataFrame, idCol: String = "vec_id",
                           vecCol: String = "embedding", k: Int = 3,
                           nprobe: Int = 2, rescoreDepth: Int = 10): (DataFrame, DataFrame) = {
    require(rescoreDepth >= k, s"rescoreDepth=$rescoreDepth must be >= k=$k")
    val (rankedRaw, probed, q0, idx) =
      pqAdcRanked(spark, path, queries, idCol, vecCol, rescoreDepth, nprobe)
    rankedRaw match {
      case None => (emptyTopK(spark, q0), emptyTopK(spark, q0))
      case Some(ranked) =>
        val shared = ranked
        val adc = shared.filter(col("rank") <= k)
          .withColumn("cos", round(col("cos"), 6))
        val rescored = pqRescoreTopK(idx,
          shared.select(col("vec_id"), col("neighbor_id")), q0, probed, k)
        (adc, rescored)
    }
  }

  /** Shared ADC candidate stage of the IVF+PQ search: per-query lookup
    * table + probed-cell join + bounded top-`depth` ranking, cos left
    * UNROUNDED so callers derive either output from it. Returns
    * (ranked (None when the query side is empty), probed cells, normed
    * queries, opened index). */
  private def pqAdcRanked(spark: org.apache.spark.sql.SparkSession, path: String,
                          queries: DataFrame, idCol: String, vecCol: String,
                          depth: Int, nprobe: Int)
      : (Option[DataFrame], Seq[Int], DataFrame, IvfIndex) = {
    val idx = IvfIndex.open(spark, path)
    val codebooks = idx.codebooks // a plain IVF index fails here, by name
    idx.requireNprobe(nprobe)
    val centroids = idx.centroids
    val m = codebooks.length
    val ksub = codebooks.head.length
    val sub = codebooks.head.head.length
    val q0 = withNorm(queries, idCol, vecCol)
    // per-query ADC table — m×ksub small dots per query row. FLAT
    // (one array<double>, offset-addressed) rather than nested: one
    // element_at per subspace with no per-access inner-array views.
    val lut = array((0 until m).flatMap { i =>
      (0 until ksub).map { c =>
        dot(slice(col("embedding"), i * sub + 1, sub), lit(codebooks(i)(c)))
      }
    }: _*)
    val cLit = typedLit(centroids.map(_.toSeq).toSeq)
    val q = q0.select(col("vec_id"), col("embedding"), col("nrm"), lut.as("lut"),
        explode(nearestCells(col("embedding"), centroids, nprobe)).as("cell"))
      .withColumn("qdotc", dot(col("embedding"), element_at(cLit, col("cell") + 1)))
      // the raw query vector is spent (lut + qdotc carry everything ADC
      // needs) — don't ship 256 B/row through the exchange below
      .drop("embedding")
      // MATERIALIZATION BARRIER, load-bearing: without an exchange,
      // whole-stage codegen fuses this projection into the join stage
      // and DEFERS the lut evaluation into the join's match loop — the
      // full m×ksub dot table recomputed PER CANDIDATE PAIR (measured
      // 69 s vs 2.9 s at sf0.1, a 24× cliff). The exchange pins lut to
      // once per probe row; routing queries to their probed cells'
      // shards is also exactly how a sharded IVF service fans out.
      .repartition(col("cell"))
    // probed-cell discovery as its own NARROW pass (r18): collecting
    // off `q` evaluated the full m×ksub LUT per query row and ran the
    // cell exchange a second time just to learn ≤cells ints; this plan
    // is the same nearestCells expression over the same rows (identical
    // cell set), no LUT, no exchange.
    val probed = queries
      .select(explode(nearestCells(col(vecCol), centroids, nprobe)).as("cell"))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (probed.isEmpty) return (None, probed, q0, idx)
    val index = idx.codes
      .filter(col("cell").isin(probed: _*))
    val adc = (0 until m).map(i =>
        element_at(col("lut"), lit(i * ksub + 1) + element_at(col("codes"), i + 1)))
      .reduce(_ + _) + col("qdotc")
    val pairs = q.join(index, Seq("cell"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos", when(col("nrm") * col("rnorm") === 0.0, 0.0)
        .otherwise(adc / (col("nrm") * col("rnorm"))))
      .select(col("vec_id"), col("neighbor_id"), col("cos"))
    (Some(topK(pairs, depth, roundCos = false)), probed, q0, idx)
  }

  /** Exact rescore of the bounded PQ-survivor set: raw vectors come
    * from the index (partition-pruned to the probed cells), queries
    * re-attach by keyed join — both joins keyed, no broadcast hints. */
  private def pqRescoreTopK(idx: IvfIndex, rankedIds: DataFrame, q0: DataFrame,
                            probed: Seq[Int], k: Int): DataFrame = {
    val raw = idx.vectors
      .filter(col("cell").isin(probed: _*))
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("eb"), col("nrm").as("nb"))
    val qraw = q0.select(col("vec_id"),
      col("embedding").as("ea"), col("nrm").as("na"))
    topK(rankedIds
      .join(qraw, "vec_id").join(raw, "neighbor_id")
      .withColumn("cos", cosinePrenormed(dot(col("ea"), col("eb")), col("na"), col("nb")))
      .select(col("vec_id"), col("neighbor_id"), col("cos")), k)
  }

  // ---- index lifecycle: drift profiling, reindex, vacuum ----

  /** Per-cell health of a persistent IVF(+PQ) index — the signal that
    * says WHEN to [[reindex]]: appends under the frozen quantizer
    * ([[appendToIvfIndex]]) skew cell occupancy and grow quantization
    * error as the corpus drifts away from the centroids it was built
    * on. Skewed occupancy breaks search cost (a probe of a hot cell
    * scans far more than corpus/cells candidates); high quantization
    * error breaks recall (vectors sit far from every centroid, so the
    * right cell is probed less often).
    *
    * One column-pruned scan of `vectors/`, two keyed aggregations;
    * the per-row error term is a codegen'd dot against the row's own
    * centroid (KB-sized literals). Output, one row per NON-EMPTY cell:
    * (cell, n, share of corpus, occupancy = share × cells — 1.0 is
    * perfectly balanced, max(occupancy) is the skew factor — mean_err,
    * max_err) where err = 1 − cos(vector, its centroid). */
  def ivfDriftProfile(spark: org.apache.spark.sql.SparkSession,
                      path: String): DataFrame = {
    val idx = IvfIndex.open(spark, path)
    val centroids = idx.centroids
    val cells = centroids.length
    val cLit = typedLit(centroids.map(_.toSeq).toSeq)
    val cNorms = lit(centroids.map(c =>
      math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))))
    val per = idx.vectors
      .withColumn("err", lit(1.0) - cosinePrenormed(
        dot(col("embedding"), element_at(cLit, col("cell") + 1)),
        col("nrm"), element_at(cNorms, col("cell") + 1)))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"),
        avg(col("err")).as("mean_err"), max(col("err")).as("max_err"))
    // the aggregated frame is cells-sized — a single-partition window
    // over it is metadata-scale, not a data shuffle
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    per.withColumn("share", col("n") / sum(col("n")).over(w))
      .select(col("cell"), col("n"), round(col("share"), 6).as("share"),
        round(col("share") * cells, 6).as("occupancy"),
        round(col("mean_err"), 6).as("mean_err"),
        round(col("max_err"), 6).as("max_err"))
      .orderBy("cell")
  }

  /** Rebuild a drifted index from its CURRENT live vectors into a new
    * committed version — concurrent searchers resolve either the old
    * version or the new one, never a half-built tree (the old version's
    * files are untouched until [[vacuumIndexVersions]]). Refits the coarse
    * quantizer (and, for an IVF+PQ index, the residual codebooks,
    * preserving m/ksub) on the
    * current corpus. `cells` = 0 keeps the current cell count.
    * Returns the new version name. */
  def reindex(spark: org.apache.spark.sql.SparkSession, path: String,
              cells: Int = 0, seed: Long = 42, maxIter: Int = 5): String = {
    val idx = IvfIndex.open(spark, path)
    val nCells = if (cells > 0) cells else idx.cells
    val pq = if (idx.pq) Some((idx.codebooks.length, idx.codebooks.head.length)) else None
    val live = idx.vectors
      .select(col("vec_id"), col("embedding"))
    VersionedIndex.rewrite(spark, path)(writeIvfTree(live, _, nCells, pq, seed, maxIter))
  }

  /** Delete every superseded index version — run only when no searcher
    * may still hold a pre-swap resolution. Returns what was deleted. */
  def vacuumIndexVersions(spark: org.apache.spark.sql.SparkSession,
                          path: String): Seq[String] =
    VersionedIndex.vacuum(spark, path)

  /** All embedding pairs at-or-above a cosine threshold — brute-force
    * exact baseline (labelled; candidate generation at scale belongs to
    * the LSH/IVF paths). Output: (vec_a, vec_b, cos), vec_a < vec_b. */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            minCosine: Double = 0.45): DataFrame = {
    val e = withNorm(emb, idCol, vecCol)
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    // un-hinted like cosineTopKExact: the planner broadcasts while the
    // side fits and falls back to a shuffled product when it doesn't
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", cosinePrenormed(dot(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cos") >= minCosine)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
  }

  /** Semantic deduplication (the SemDeDup stage — Abbas et al. 2023):
    * cluster the embedding space with the bounded driver-side
    * quantizer fit, find near-duplicate pairs ONLY within each cell
    * (a cell-keyed self-join — never an all-pairs product), resolve
    * transitive groups to one canonical survivor via connected
    * components ([[Dedup.keepOne]], min id wins), and return the input
    * minus the dropped rows (all original columns preserved).
    *
    * Scale shape: one keyed shuffle on cell for the pair join, with
    * per-cell cost n_c² — `cells` is the knob that bounds it (SemDeDup
    * runs k-means with k large enough that clusters stay pairwise-
    * joinable; at 100 TB size `cells` so corpus/cells² pairs fit a
    * task, and reuse a persisted IVF index's assignment when one
    * exists). The component resolution touches only ids of vectors
    * that actually pair — at a sane threshold a small fraction of the
    * corpus. Caveat shared with every clustered dedup: a near-dup pair
    * STRADDLING a cell boundary is not seen (the paper accepts the
    * same miss); lower `cells` or raise nprobe-style assignment
    * multiplicity if recall of the dedup itself matters more than
    * cost. */
  def semanticDedup(emb: DataFrame, idCol: String = "vec_id",
                    vecCol: String = "embedding", cells: Int = 16,
                    threshold: Double = 0.9, seed: Long = 42,
                    maxIter: Int = 5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val e = withNorm(emb, idCol, vecCol)
    semanticDedupAssigned(emb, e, fitCentroids(e, cells, seed, maxIter),
      idCol, threshold)
  }

  /** Per-corpus-row SEMANTIC contamination evidence against a
    * benchmark set: the max cosine to ANY benchmark vector and the
    * benchmark id attaining it (ties at the rounded cosine → lowest
    * benchmark id) — the embedding-space sibling of
    * [[graft.api.Dedup.contaminationProfile]]'s n-gram overlap:
    * shingles catch verbatim/near-verbatim benchmark leakage,
    * embeddings catch the PARAPHRASED leakage n-grams miss.
    *
    * Scale shape: eval suites are thousands of rows against a
    * corpus-scale left side, so the benchmark is explicitly broadcast
    * (the fixed-size-dim case the broadcast hint is licensed for) and
    * the corpus streams ONCE with no shuffle of corpus rows — per-row
    * cost is |benchmark| codegen'd dot products, the same
    * broadcast-nested-loop physique as [[cosineTopKExact]]'s small
    * side. A benchmark too large to broadcast belongs behind a
    * persisted IVF probe ([[semanticDedupWithIndex]] shape) instead.
    * Rows with NULL embeddings carry no semantic evidence and are
    * omitted (they can never be flagged); zero-norm vectors score 0
    * against everything. Output: (vec_id, bench_id, max_bench_cos),
    * one row per non-null-embedding corpus row (empty when the
    * benchmark is empty). */
  def semanticContaminationProfile(corpus: DataFrame, benchmark: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      benchIdCol: String = "vec_id",
      benchVecCol: String = "embedding"): DataFrame = {
    val c = withNorm(corpus.filter(col(vecCol).isNotNull), idCol, vecCol)
    val b = withNorm(benchmark.filter(col(benchVecCol).isNotNull),
        benchIdCol, benchVecCol)
      .select(col("vec_id").as("bench_id"), col("embedding").as("eb"),
        col("nrm").as("nb"))
    c.join(broadcast(b))
      .withColumn("cos",
        round(cosinePrenormed(dot(col("embedding"), col("eb")),
          col("nrm"), col("nb")), 6))
      .groupBy(col("vec_id"))
      // argmax via min(struct(-cos, id)): lexicographic struct order
      // gives the highest cosine, ties broken by lowest bench id; the
      // separate max() keeps max_bench_cos free of -0.0 artifacts
      .agg(max(col("cos")).as("max_bench_cos"),
        min(struct((lit(0d) - col("cos")).as("negc"),
          col("bench_id").as("bench_id"))).as("w"))
      .select(col("vec_id"), col("w.bench_id").as("bench_id"),
        col("max_bench_cos"))
  }

  /** [[semanticContaminationProfile]] against a PERSISTED IVF index of
    * the corpus — the shape when the corpus is already indexed (or the
    * benchmark is too large to broadcast): benchmark vectors probe
    * their `nprobe` nearest cells, the index read is partition-pruned
    * to the probed cells, and only cell-colocated (benchmark, corpus)
    * candidates are scored — never benchmark × corpus. Unlike
    * [[ivfSearchIndex]] there is NO top-k cap (an eval item with 100
    * corpus near-copies flags all 100) and NO self-id exclusion
    * (benchmark and corpus ids are different id spaces; a numeric
    * collision must not hide a real match). APPROXIMATE by the same
    * geometry as every IVF probe: a near-copy assigned to an unprobed
    * cell is missed — raise `nprobe` toward the cell count for exact
    * coverage. Output: (vec_id, bench_id, max_bench_cos) for corpus
    * vectors whose best probed cosine clears `threshold`. */
  def semanticContaminationWithIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, benchmark: DataFrame,
      benchIdCol: String = "vec_id", benchVecCol: String = "embedding",
      threshold: Double = 0.9, nprobe: Int = 2): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val idx = IvfIndex.open(spark, path)
    idx.requireNprobe(nprobe)
    val centroids = idx.centroids
    val q = withNorm(benchmark.filter(col(benchVecCol).isNotNull),
        benchIdCol, benchVecCol)
      .select(col("vec_id").as("bench_id"), col("embedding"), col("nrm"),
        explode(nearestCells(col("embedding"), centroids, nprobe)).as("cell"))
      .select(col("cell"), col("bench_id"),
        col("embedding").as("ea"), col("nrm").as("na"))
      .repartition(col("cell"))
    val probed = q.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val index = idx.vectors
      .filter(if (probed.isEmpty) lit(false) else col("cell").isin(probed: _*))
      .select(col("cell"), col("vec_id"),
        col("embedding").as("eb"), col("nrm").as("nb"))
    // threshold BEFORE the argmax: the aggregation sees only the (rare)
    // contaminated candidates, not every scored pair
    clearing(q.join(index, Seq("cell")).withColumn("cos",
        cosinePrenormed(dot(col("ea"), col("eb")), col("na"), col("nb"))), threshold)
      .groupBy(col("vec_id"))
      .agg(max(col("cos")).as("max_bench_cos"),
        min(struct((lit(0d) - col("cos")).as("negc"),
          col("bench_id").as("bench_id"))).as("w"))
      .select(col("vec_id"), col("w.bench_id").as("bench_id"),
        col("max_bench_cos"))
  }

  /** [[semanticDecontaminate]] through a persisted corpus index: drop
    * every corpus row the index probe flags. Same recall caveat as
    * [[semanticContaminationWithIndex]]. */
  def semanticDecontaminateWithIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, corpus: DataFrame, benchmark: DataFrame,
      idCol: String = "vec_id",
      benchIdCol: String = "vec_id", benchVecCol: String = "embedding",
      threshold: Double = 0.9, nprobe: Int = 2): DataFrame =
    corpus.join(
      semanticContaminationWithIndex(spark, path, benchmark,
        benchIdCol, benchVecCol, threshold, nprobe)
        .select(col("vec_id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Drop every corpus row whose embedding scores >= `threshold`
    * cosine against ANY benchmark vector — semantic decontamination
    * (a training corpus "substantially similar" to an eval item
    * inflates the benchmark even when no n-gram matches). One
    * broadcast scoring pass + one anti-join on the id; the corpus is
    * never widened or re-encoded; rows with null embeddings pass
    * through (no evidence, no drop). */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      benchIdCol: String = "vec_id", benchVecCol: String = "embedding",
      threshold: Double = 0.9): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    corpus.join(
      semanticContaminationProfile(corpus, benchmark, idCol, vecCol,
        benchIdCol, benchVecCol)
        .filter(col("max_bench_cos") >= threshold)
        .select(col("vec_id").as(idCol)),
      Seq(idCol), "left_anti")
  }

  /** Corpus-health report for an embedding column — the gate a
    * pipeline runs before building indexes or training on the
    * vectors: one row with vector count, dimension min/max (a mixed-
    * dimension corpus breaks every ANN structure), zero vectors
    * (cosine-undefined), vectors with non-finite components
    * (NaN/±Inf poison every distance), and norm statistics over the
    * HEALTHY vectors only (mean via order-exact DECIMAL sums;
    * p50/p99 as interpolated order statistics over the round-6 norm,
    * so cross-engine ulp wiggle in the float math cannot reorder the
    * percentile input). NULL embeddings — the most broken state the
    * column can be in — get their own `n_null` counter and stay out
    * of every other statistic. One narrow codegen'd pass + one
    * aggregation. */
  def embeddingHealthProfile(emb: DataFrame,
                             vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorFunctions
    val v = col(vecCol)
    val nonfinite = exists(v, x => isnan(x) || abs(x) > lit(Float.MaxValue))
    val rows = emb.select(when(v.isNotNull, size(v)).as("dims"),
      (v.isNotNull && nonfinite).as("bad"), v.isNull.as("is_null"),
      when(v.isNotNull && !nonfinite, round(VectorFunctions.norm(v), 6))
        .as("nrm"))
    rows.agg( // counters coalesce so an EMPTY corpus reports zeros;
      // dims/norm stats stay null (there is nothing to describe)
      count(lit(1)).as("n_vecs"),
      min("dims").as("min_dims"), max("dims").as("max_dims"),
      coalesce(sum(when(col("nrm") === 0.0, 1L).otherwise(0L)), lit(0L))
        .as("n_zero"),
      coalesce(sum(when(col("bad"), 1L).otherwise(0L)), lit(0L))
        .as("n_nonfinite"),
      coalesce(sum(when(col("is_null"), 1L).otherwise(0L)), lit(0L))
        .as("n_null"),
      round(sum(col("nrm").cast("decimal(18,6)")).cast("double")
        / count(col("nrm")), 6).as("avg_norm"),
      round(percentile(col("nrm"), lit(0.5)), 6).as("p50_norm"),
      round(percentile(col("nrm"), lit(0.99)), 6).as("p99_norm"))
  }

  /** [[semanticDedup]] under a PERSISTED index's frozen quantizer:
    * cell assignment comes from the index at `path` (its current
    * version, like every other reader), so dedup geometry matches
    * the serving index exactly — dedup, search and drift profiling
    * all speak the same cells, and no second quantizer is fit. */
  def semanticDedupWithIndex(spark: org.apache.spark.sql.SparkSession,
                             path: String, emb: DataFrame,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             threshold: Double = 0.9): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    semanticDedupAssigned(emb, withNorm(emb, idCol, vecCol),
      IvfIndex.open(spark, path).centroids, idCol, threshold)
  }

  private def semanticDedupAssigned(emb: DataFrame, e: DataFrame,
                                    centroids: Array[Array[Float]],
                                    idCol: String, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val assigned = e.withColumn("cell", nearestCell(col("embedding"), centroids))
    val a = assigned.select(col("cell"), col("vec_id").as("doc_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("vec_id").as("doc_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    // edges materialized ONCE (id pairs only — bounded by the actual
    // near-dup count, not the corpus): the emptiness probe and the
    // component resolution would otherwise each evaluate the cell
    // self-join. The returned frame reads this pin lazily, so its blocks
    // are freed when the frame is GC'd (the api package's GC-owned
    // exception)
    val pairs = PlanAudit.checkpoint(a.join(b, Seq("cell")).filter(col("doc_a") < col("doc_b"))
      .withColumn("cos", cosinePrenormed(dot(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("doc_a"), col("doc_b")))
    if (pairs.isEmpty) return emb
    val dropped = graft.api.Dedup.keepOne(pairs)
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id").as(idCol))
    emb.join(dropped, Seq(idCol), "left_anti")
  }

  /** Cluster-balanced sampling over the embedding space — the
    * prototypes/diversity selection stage of embedding-based curation:
    * fit the coarse k-means quantizer (the bounded driver-side sample
    * fit shared with IVF), assign every vector to its cell in one
    * narrow codegen'd projection, and keep at most `perCell` vectors
    * per cell — the CLOSEST to the centroid when `prototypes` (the
    * most representative of each region), the FARTHEST otherwise
    * (boundary/outlier mining). Selecting evenly ACROSS cells instead
    * of globally is what prevents the dominant mode of the corpus from
    * monopolizing a subset — the usual failure of naive top-k
    * selection over any single score.
    *
    * Deterministic: the fit is a pure function of (corpus, seed) and
    * the intra-cell ranking breaks distance ties on id. Output: every
    * input column + (cell, d2), at most perCell × cells rows.
    *
    * Shape at 100 TB: one bounded TakeOrdered sample fit, one narrow
    * assignment pass, one keyed shuffle on the cell id with a
    * rank-filter window. Per-cell sort cost tracks the largest cell —
    * size `cells` so cells stay executor-sized (more, smaller cells
    * also sharpens the sample itself). */
  def clusterBalancedSample(emb: DataFrame, perCell: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            cells: Int = 16, prototypes: Boolean = true,
                            seed: Long = 42, maxIter: Int = 5): DataFrame = {
    require(perCell >= 1, s"perCell must be positive, got $perCell")
    if (emb.head(1).isEmpty)
      return emb.withColumn("cell", lit(0)).withColumn("d2", lit(0.0))
    val fitFrame = emb.select(col(idCol).as("vec_id"),
      col(vecCol).as("embedding"))
    val centroids = fitCentroids(fitFrame, cells, seed, maxIter)
    val assigned = emb
      .withColumn("__cd", nearestCellDist(col(vecCol), centroids))
      .withColumn("cell", col("__cd").getField("cell"))
      .withColumn("d2", col("__cd").getField("d2"))
      .drop("__cd")
    val ord =
      if (prototypes) Seq(col("d2").asc, col(idCol).asc)
      else Seq(col("d2").desc, col(idCol).asc)
    val w = Window.partitionBy("cell").orderBy(ord: _*)
    assigned.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= perCell).drop("__r")
  }

  /** Fitted PCA-whitening model: `mean` and the FULL eigensystem of
    * the population covariance (eigenvalues descending,
    * `basis(r)` = r-th eigenvector), with `components` selecting the
    * top-k projection [[whitenEmbeddings]] applies. Whitened
    * coordinates are decorrelated with unit variance — the
    * preconditioning SemDeDup-style pipelines want before cosine
    * thresholds, and the projection that makes Euclidean k-means
    * (IVF fits) isotropic. */
  final case class PcaWhitenModel(dim: Int, components: Int, n: Long,
                                  mean: Array[Double],
                                  eigenvalues: Array[Double],
                                  basis: Array[Array[Double]],
                                  eps: Double,
                                  m2: Array[Double]) {
    /** The model's running co-moment record — what incremental refits
      * merge with a fresh batch's. */
    def stats: graft.functions.MomentAggregators.CovStats =
      graft.functions.MomentAggregators.CovStats(n, mean.toSeq, m2.toSeq)
    def explainedVariance: Double = {
      val tot = eigenvalues.sum
      if (tot <= 0) 1.0 else eigenvalues.take(components).sum / tot
    }
    def trace: Double = eigenvalues.sum
  }

  /** Fit PCA whitening over an `array<float>` embedding column in ONE
    * corpus scan: the covariance accumulates as numerically-stable
    * centered co-moments (Welford update, Chan pairwise merge — a
    * d + d(d+1)/2-double buffer per partition, map-side combined,
    * never raw Σx·xᵀ and never a row collect), then the d×d matrix
    * eigen-decomposes on the DRIVER by cyclic Jacobi — corpus size
    * never enters the driver-side cost. Deterministic: fixed sweep
    * order, eigenvalues descending, each eigenvector sign-normalized
    * (largest-|component| positive). NULL embeddings are skipped;
    * ragged lengths throw. */
  def fitPcaWhitening(emb: DataFrame, components: Int,
                      vecCol: String = "embedding",
                      eps: Double = 1e-9): PcaWhitenModel = {
    val stats = covStatsOf(emb, vecCol)
    modelFromStats(stats, components, eps)
  }

  /** One-pass co-moment aggregation of an `array<float>` column. */
  private def covStatsOf(emb: DataFrame, vecCol: String)
      : graft.functions.MomentAggregators.CovStats = {
    import graft.functions.MomentAggregators
    val dim = emb.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("d")).limit(1).collect() match {
      case Array(r) => r.getInt(0)
      case _ => throw new IllegalArgumentException(
        "fitPcaWhitening: empty frame or all-null embeddings")
    }
    val agg = udaf(new MomentAggregators.CovarianceAgg(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    val stats = emb.filter(col(vecCol).isNotNull)
      .agg(agg(col(vecCol)).as("s"))
      .select(col("s.n").as("n"), col("s.mean").as("mean"), col("s.m2").as("m2"))
      .collect()(0)
    MomentAggregators.CovStats(stats.getAs[Long]("n"),
      stats.getSeq[Double](1).toSeq, stats.getSeq[Double](2).toSeq)
  }

  private def modelFromStats(stats: graft.functions.MomentAggregators.CovStats,
                             components: Int, eps: Double): PcaWhitenModel = {
    import graft.functions.MomentAggregators
    val dim = stats.mean.length
    require(components >= 1 && components <= dim,
      s"components must be in [1, $dim], got $components")
    val (vals, vecs) = MomentAggregators.symmetricEigen(
      MomentAggregators.covarianceMatrix(stats))
    PcaWhitenModel(dim, components, stats.n, stats.mean.toArray, vals, vecs,
      eps, stats.m2.toArray)
  }

  /** Persist a fitted whitening model under the shared versioned
    * layout: each save writes a complete `path/v<N>/model` parquet and
    * commits it ([[VersionedIndex.rewrite]]) — a re-fit (the weekly
    * refresh) publishes at exactly one commit point while readers of
    * the previous version stay live, the same crash discipline as every
    * persisted index in this package. The model is a few KB; one file. */
  def savePcaWhitening(spark: org.apache.spark.sql.SparkSession,
                       model: PcaWhitenModel, path: String): Unit = {
    import spark.implicits._
    VersionedIndex.rewrite(spark, path)(dir =>
      Seq((model.dim, model.components, model.n, model.mean.toSeq,
          model.eigenvalues.toSeq, model.basis.map(_.toSeq).toSeq, model.eps,
          model.m2.toSeq))
        .toDF("dim", "components", "n", "mean", "eigenvalues", "basis", "eps",
          "m2")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/model"))
  }

  /** Load the CURRENT version of a persisted whitening model. */
  def loadPcaWhitening(spark: org.apache.spark.sql.SparkSession,
                       path: String): PcaWhitenModel = {
    val root = VersionedIndex.resolveRoot(spark, path)
    val r = spark.read.parquet(s"$root/model").collect() match {
      case Array(row) => row
      case rows => throw new IllegalStateException(
        s"corrupt whitening model at $path: ${rows.length} rows")
    }
    PcaWhitenModel(r.getAs[Int]("dim"), r.getAs[Int]("components"),
      r.getAs[Long]("n"), r.getSeq[Double](r.fieldIndex("mean")).toArray,
      r.getSeq[Double](r.fieldIndex("eigenvalues")).toArray,
      r.getSeq[scala.collection.Seq[Double]](r.fieldIndex("basis"))
        .map(_.toArray).toArray,
      r.getAs[Double]("eps"),
      r.getSeq[Double](r.fieldIndex("m2")).toArray)
  }

  /** INCREMENTAL whitening refit: merge the persisted model's running
    * co-moment record with a fresh batch's (one scan of the BATCH
    * only — Chan's merge is exactly what executors run between
    * partial buffers, so a daily-append corpus re-fits without ever
    * re-scanning history), re-eigen-decompose driver-side, and
    * publish as a new version. Returns the refreshed model. Readers
    * of the previous version stay live until the new one commits. */
  def appendToPcaWhitening(spark: org.apache.spark.sql.SparkSession,
                           fresh: DataFrame, path: String,
                           vecCol: String = "embedding"): PcaWhitenModel = {
    import graft.functions.MomentAggregators
    val prev = loadPcaWhitening(spark, path)
    val batch = covStatsOf(fresh, vecCol)
    require(batch.mean.length == prev.dim,
      s"embedding dim ${batch.mean.length} != model dim ${prev.dim}")
    val merged = MomentAggregators.mergeStats(prev.stats, batch)
    val next = modelFromStats(merged, prev.components, prev.eps)
    savePcaWhitening(spark, next, path)
    next
  }

  /** Drop superseded whitening-model versions (run when no reader may
    * hold a pre-swap resolution). Returns what was deleted. */
  def vacuumPcaWhitening(spark: org.apache.spark.sql.SparkSession,
                         path: String): Seq[String] =
    VersionedIndex.vacuum(spark, path)

  /** Apply a fitted whitening model: `out_r = (x·U_r − μ·U_r) /
    * √(λ_r + eps)` for the top `model.components` eigenpairs —
    * `components` native codegen'd `vec_dot`s against eigenvector
    * LITERALS plus a scalar shift/scale each; the model (a few KB)
    * rides the plan, no join, no shuffle, whole-stage codegen intact.
    * Output column is `array<double>` of length `model.components`. */
  def whitenEmbeddings(emb: DataFrame, model: PcaWhitenModel,
                       vecCol: String = "embedding",
                       outCol: String = "whitened"): DataFrame = {
    val comps = (0 until model.components).map { r =>
      val u = model.basis(r)
      val shift = {
        // same basis on both sides of (x·U − μ·U): the dot evaluates
        // against the FLOAT-truncated eigenvector literal, so the μ·U
        // shift must use the identical truncation — a full-double shift
        // leaves a systematic ~1e-7·‖x‖ offset on every output and
        // whitened means that are not zero (ADVICE r11)
        var s = 0.0; var i = 0
        while (i < model.dim) { s += model.mean(i) * u(i).toFloat.toDouble; i += 1 }
        s
      }
      val scale = 1.0 / math.sqrt(model.eigenvalues(r) + model.eps)
      ((dot(col(vecCol), lit(u.map(_.toFloat))) - shift) * scale).as(s"__w$r")
    }
    emb.withColumn(outCol, array(comps: _*))
  }
}
