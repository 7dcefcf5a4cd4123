package graft.api

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

import graft.functions.VectorFunctions._

/** One opened IVF index of [[Similarity]] — the IVF counterpart of
  * [[BandedIndex]], shared by the plain and the IVF+PQ form.
  *
  * Layout, per [[VersionedIndex]] version: `centroids` (the frozen coarse
  * quantizer) and `vectors/` (vec_id, embedding, nrm); the IVF+PQ form
  * adds `codebooks` (the frozen residual codebooks) and `codes/`
  * (neighbor_id, codes, rnorm). Both halves are partitioned by cell, and
  * a vector has exactly one row per half, at its assigned cell. The
  * layout says which form an index is — `codebooks` present — so every
  * maintenance step here writes or prunes every half the index holds,
  * whichever entry point the caller used.
  *
  * Opening resolves the committed version once and costs one stat; the
  * centroids and codebooks are read on first use, so an operation that
  * needs neither (a delete) runs no job for them. */
private[api] final class IvfIndex private (spark: SparkSession, val path: String,
                                           val root: String, val pq: Boolean) {

  lazy val centroids: Array[Array[Float]] = {
    val c = spark.read.parquet(s"$root/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
      .map(_._2)
    require(c.nonEmpty, s"no IVF index at $path")
    c
  }

  /** codebooks(i)(c) = codeword c of subspace i. */
  lazy val codebooks: Array[Array[Array[Float]]] = {
    require(pq, s"$path is not PQ-coded (it holds no codebooks); build it " +
      "with buildIvfPqIndex for ADC search")
    spark.read.parquet(s"$root/codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
  }

  def cells: Int = centroids.length
  def dim: Int = centroids.head.length

  def requireNprobe(nprobe: Int): Unit =
    require(nprobe >= 1 && nprobe <= cells, s"nprobe must be in [1, $cells]")

  def vectors: DataFrame = spark.read.parquet(s"$root/vectors")
  def codes: DataFrame = spark.read.parquet(s"$root/codes")

  /** The cell-partitioned halves this index holds, with their id column. */
  private def halves: Seq[(String, String)] =
    ("vectors", "vec_id") +: (if (pq) Seq(("codes", "neighbor_id")) else Nil)

  /** Add (vec_id, embedding) rows under the frozen quantizer and, PQ-coded,
    * the frozen codebooks — nothing refits. With `repair` (a crash inside
    * an earlier attempt may have landed some rows), each half first drops
    * the ids it already holds, read pruned to the rows' assigned cells:
    * one row per vector per half makes that diff row-exact. */
  def append(e: DataFrame, repair: Boolean = false): Unit = {
    lazy val touched = e.select(nearestCell(col("embedding"), centroids).as("cell"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // by name: a blind append never reads the half (a schema job)
    def missing(half: => DataFrame, idName: String): DataFrame =
      if (!repair) e
      else e.join(half.filter(col("cell").isin(touched: _*))
          .select(col(idName).as("__have")).distinct(),
        col("vec_id") === col("__have"), "left_anti")
    IvfIndex.writeVectors(missing(vectors, "vec_id"), centroids, root, "append")
    if (pq)
      IvfIndex.writeCodes(missing(codes, "neighbor_id")
        .withColumn("cell", nearestCell(col("embedding"), centroids)),
        centroids, codebooks, root, "append")
  }

  /** Delete `ids` from every half, each rewriting only the cells that
    * hold them; the delete side is cast to the stored id type. Returns the
    * vectors deleted. */
  def delete(ids: DataFrame, idCol: String): Long = {
    val deleted = halves.map { case (half, idName) =>
      IvfIndex.deleteFromCellStore(spark, s"$root/$half", ids, idCol, idName)
    }
    deleted.head
  }

  /** Rewrite every half one file per cell into a new committed version;
    * the data and the quantizer are unchanged. */
  def compact(): Unit =
    VersionedIndex.rewrite(spark, path) { vdir =>
      copyModel(vdir)
      halves.foreach { case (half, _) =>
        val df = spark.read.parquet(s"$root/$half")
        df.repartition(cells, col("cell"))
          .select(df.columns.filterNot(_ == "cell").map(col) :+ col("cell"): _*)
          .write.mode("overwrite").partitionBy("cell").parquet(s"$vdir/$half")
      }
    }

  /** Copy the frozen model (centroids, and codebooks when PQ-coded) into
    * the version directory `vdir`. */
  def copyModel(vdir: String): Unit =
    ("centroids" +: (if (pq) Seq("codebooks") else Nil)).foreach { t =>
      spark.read.parquet(s"$root/$t").coalesce(1).write.mode("overwrite").parquet(s"$vdir/$t")
    }
}

private[api] object IvfIndex {

  /** The committed version of the IVF index at `path`; a missing index
    * fails loudly. */
  def open(spark: SparkSession, path: String): IvfIndex = {
    val root = VersionedIndex.resolveRoot(spark, path)
    val codebooks = new Path(root, "codebooks")
    new IvfIndex(spark, path, root,
      codebooks.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(codebooks))
  }

  /** Both indexes opened, after the guards every cross-index operation
    * needs: equal dimensions, `nprobe` within A's cells, and disjoint ids
    * (a shared id would report itself as a cosine-1 pair). */
  def both(spark: SparkSession, pathA: String, pathB: String, nprobe: Int,
           why: String): (IvfIndex, IvfIndex) = {
    val (a, b) = (open(spark, pathA), open(spark, pathB))
    require(a.dim == b.dim,
      s"index dimensions differ: $pathA has ${a.dim}, $pathB has ${b.dim} — $why")
    a.requireNprobe(nprobe)
    val shared = a.vectors.select("vec_id").distinct()
      .join(b.vectors.select("vec_id").distinct(), "vec_id", "left_semi").count()
    require(shared == 0,
      s"$shared vec ids appear in both $pathA and $pathB — cross-index " +
        "semantics would be ambiguous; re-id one side")
    (a, b)
  }

  /** The complete tree of a new index over (vec_id, embedding) rows into
    * the version directory `root`, under an already-fit model; with
    * `codebooks` the IVF+PQ form. */
  def write(e: DataFrame, root: String, centroids: Array[Array[Float]],
            codebooks: Option[Array[Array[Array[Float]]]]): Unit = {
    val spark = e.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$root/centroids")
    writeVectors(e, centroids, root, "overwrite")
    codebooks.foreach { cbs =>
      cbs.zipWithIndex.flatMap { case (cb, i) =>
        cb.zipWithIndex.map { case (w, c) => (i, c, w.toSeq) }
      }.toSeq.toDF("subspace", "codeword", "weights")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$root/codebooks")
      // encode from the JUST-WRITTEN vectors/, not the source: its rows
      // are already cell-local (one file set per cell), so the encode
      // needs no second assignment pass and no second corpus exchange
      val stored = spark.read.parquet(s"$root/vectors")
        .select(col("vec_id"), col("embedding"), col("cell"))
      writeCodes(stored, centroids, cbs, root, "overwrite", exchangeByCell = false)
    }
  }

  /** The cell-partitioned `vectors/` write of builds and appends:
    * assignment is one narrow
    * codegen'd projection over centroid literals — no fit/assignment
    * joins — and the ONE corpus exchange carries only (vec_id,
    * embedding, cell); the stored norm is computed POST-shuffle, so a
    * derived column never rides the wire (recomputing 16–64 mults per
    * row is cheaper than shuffling 8 more bytes × corpus). The
    * exchange is keyed on cell so the layout stays one file set per
    * cell (the compaction shape) instead of the ~tasks × cells
    * files (65k at a 2048-cell 32-thread build) an unkeyed dynamic
    * write emits. */
  private def writeVectors(e: DataFrame, centroids: Array[Array[Float]],
                           root: String, mode: String): Unit =
    e.withColumn("cell", nearestCell(col("embedding"), centroids))
      .repartition(col("cell"))
      .withColumn("nrm", norm(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
      .write.mode(mode).partitionBy("cell").parquet(s"$root/vectors")

  /** The IVF+PQ encode pass: residual codes + reconstruction norm per
    * vector, written partitionBy(cell) under `root`/codes with the
    * given save mode ("overwrite" on build, "append" on incremental
    * add).
    *
    * This is the one operator in the package written as mapPartitions
    * rather than Catalyst expressions, deliberately: the expression
    * formulation (m × ksub nearest-codeword distances as least(struct)
    * trees over codebook literals) generates more Java than janino's
    * 64 KB method limit and silently drops the whole projection to
    * interpreted evaluation — the expression compiler is the wrong
    * tool for a fixed KB-sized model applied as dense per-row math.
    * The closure ships centroids+codebooks (a few KB); per row it runs
    * the same m·ksub·sub flops a codegen'd projection would, in one
    * tight loop with zero allocation beyond the output arrays.
    *
    * `assigned` must carry (vec_id, embedding, cell) — the caller owns
    * the assignment (the builds read it back from the cell-partitioned
    * vectors/ they just wrote; appends compute it inline). With
    * `exchangeByCell` the input is pre-clustered by one cell exchange
    * so the partitionBy write emits one file per (task, cell) instead
    * of every task writing into all `cells` directories; pass false
    * when the input is ALREADY cell-clustered (a read of vectors/ —
    * one file set per cell) and the encode pass then shuffles nothing
    * at all. */
  private def writeCodes(assigned: DataFrame, centroids: Array[Array[Float]],
                         codebooks: Array[Array[Array[Float]]],
                         root: String, mode: String,
                         exchangeByCell: Boolean = true): Unit = {
    val m = codebooks.length
    val ksub = codebooks.head.length
    val dim = centroids.head.length
    val sub = dim / m
    val inRows0 = assigned.select(col("vec_id"), col("embedding"), col("cell"))
    val inRows =
      if (exchangeByCell) inRows0.repartition(col("cell")) else inRows0
    val outSchema = StructType(Seq(
      StructField("neighbor_id", inRows.schema("vec_id").dataType),
      StructField("codes", ArrayType(IntegerType, containsNull = false)),
      StructField("rnorm", DoubleType),
      StructField("cell", IntegerType)))
    val (cents, cbs, mm, kk, ss, dd) = (centroids, codebooks, m, ksub, sub, dim)
    inRows.mapPartitions { rows =>
      rows.map { r =>
        val emb = r.getSeq[Float](1)
        val cell = r.getInt(2)
        val cent = cents(cell)
        val codes = new Array[Int](mm)
        val recon = new Array[Double](dd)
        var i = 0
        while (i < mm) {
          var best = 0; var bd = Double.MaxValue; var c = 0
          while (c < kk) {
            val w = cbs(i)(c)
            var s = 0.0; var j = 0
            while (j < ss) {
              val d = (emb(i * ss + j) - cent(i * ss + j)).toDouble - w(j)
              s += d * d; j += 1
            }
            if (s < bd) { bd = s; best = c } // strict < : ties keep the lowest code
            c += 1
          }
          codes(i) = best
          var j = 0
          while (j < ss) {
            recon(i * ss + j) = cent(i * ss + j).toDouble + cbs(i)(best)(j)
            j += 1
          }
          i += 1
        }
        var rn = 0.0; var j = 0
        while (j < dd) { rn += recon(j) * recon(j); j += 1 }
        Row(r.get(0), codes.toSeq, math.sqrt(rn), cell)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
      // no exchange here: mapPartitions preserves the cell-clustered
      // input partitioning, so the dynamic writer already emits one
      // file set per cell
      .write.mode(mode).partitionBy("cell").parquet(s"$root/codes")
  }

  /** Delete-by-id inside one cell-partitioned half: find the affected
    * cells off an id-column-pruned scan, rewrite ONLY those cells
    * (anti-join + dynamic partition overwrite), and explicitly remove
    * cells the delete empties — dynamic overwrite writes no rows for
    * them, and a leftover directory would keep serving the old rows.
    * The delete ids are cast to the stored id type: the index accepts
    * any id type at build, so a fixed cast (to long) would fail or match
    * nothing. The survivor frame is checkpointed: the rewrite overwrites
    * the very partitions it reads (Spark rejects a file-source
    * self-overwrite) and materialization stays bounded at the affected
    * cells; released when the rewrite's scope exits. */
  private def deleteFromCellStore(spark: SparkSession, store: String, ids: DataFrame,
                                  idCol: String, idName: String): Long = {
    val rows = spark.read.parquet(store)
    val del = ids.select(col(idCol).cast(rows.schema(idName).dataType).as("__del_id"))
      .distinct()
    val affected = rows.select(col(idName), col("cell"))
      .join(del, col(idName) === del("__del_id"))
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (affected.isEmpty) return 0L
    val cells = affected.keys.toSeq
    PlanAudit.scope { s =>
      val survivors = s.checkpoint(rows.filter(col("cell").isin(cells: _*))
        .join(del, col(idName) === del("__del_id"), "left_anti"))
      val present = survivors.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSet
      if (present.nonEmpty)
        survivors.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cell").parquet(store)
      cells.filterNot(present).foreach { c =>
        val p = new Path(s"$store/cell=$c")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
    affected.values.sum
  }
}
