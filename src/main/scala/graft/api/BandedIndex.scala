package graft.api

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** One payload table of a [[BandedIndex]]: its directory under the
  * index root, the column it is partitioned by on disk (None: one row
  * per doc, unpartitioned) and its column order. */
private[api] final case class IndexTable(name: String, partitionBy: Option[String],
                                         cols: Seq[String])

/** The lifecycle shared by the persisted banded-key index families —
  * the MinHash near-dup index and the hamming index in [[Dedup]]. Both
  * store, per doc, rows keyed by (partition, key) whose equi-join
  * generates candidates, the data that verifies a candidate, and a
  * one-row `params` table of int columns pinning the key scheme, so
  * every later batch provably derives keys the way the index did.
  *
  * A family supplies only its parts: the params columns and payload
  * tables, key derivation ([[sigFrame]] / [[views]]), candidate
  * verification ([[pairs]]) and the ordering of its explain evidence
  * ([[best]]). Every step below exists once.
  *
  * Layout and crash safety ([[VersionedIndex]]): a fresh build writes
  * the legacy layout at `path`; compact and delete write a complete
  * `v<N>` tree and commit it by flipping `_current`, and once a
  * pointer exists, build and merge do the same — a crash at any
  * earlier point leaves the previous version fully live. */
private[api] abstract class BandedIndex(val name: String,
                                        val paramCols: Seq[String],
                                        val tables: Seq[IndexTable]) {
  /** Table name → frame with that table's columns, for the index itself
    * or for a batch's signatures. */
  type Views = Map[String, DataFrame]

  def validate(p: Seq[Int]): Unit

  /** Partition count of the partitioned tables (compaction writes one
    * file per partition directory). */
  def partitions(p: Seq[Int]): Int

  /** One signature pass over (idCol, valueCol) rows; [[views]] slices
    * it into the payload tables. */
  def sigFrame(docs: DataFrame, idCol: String, valueCol: String, p: Seq[Int]): DataFrame

  def views(sig: DataFrame): Views

  /** Signature views of a lazily-read frame (against-index lookups). */
  def lookupViews(docs: DataFrame, idCol: String, valueCol: String,
                  p: Seq[Int]): Views = views(sigFrame(docs, idCol, valueCol, p))

  /** Per-row signature state the suppressor materializes WITH the batch
    * rows in its one checkpoint (None: recomputed from the rows). */
  def batchSketch(valueCol: String, p: Seq[Int]): Option[Column] = None

  /** Signature views over the suppressor's batch checkpoint. */
  def batchViews(ck: DataFrame, idCol: String, valueCol: String,
                 p: Seq[Int]): Views = views(sigFrame(ck, idCol, valueCol, p))

  /** Verified candidates of `a` against `b` as (self, other, score) —
    * keyed equi-joins only. `within`: `a` is the batch itself and only
    * pairs whose `other` id is strictly lower are kept (`self` is the
    * doc the lower-id rule drops). `threshold` is the per-call bound
    * of families that take one (hamming's is its stored maxHamming). */
  def pairs(a: Views, b: Views, p: Seq[Int], threshold: Double, within: Boolean,
            self: String = "doc_a", other: String = "doc_b"): DataFrame

  /** Distinct `a` ids with a verified match, as column `as`. */
  def matched(a: Views, b: Views, p: Seq[Int], threshold: Double,
              within: Boolean, as: String): DataFrame =
    pairs(a, b, p, threshold, within).select(col("doc_a").as(as)).distinct()

  /** (self, other) names of the explain pairs [[best]] reads, and the
    * name of the explain output's evidence column. */
  def explainNames: (String, String)
  def scoreCol: String

  /** Best match per `self` as (self, match_id, [[scoreCol]]); ties go
    * to the lowest id. */
  def best(pairs: DataFrame): DataFrame

  /** The one-row `params` table: non-null int columns named by
    * [[paramCols]]. Read with this known schema, so no schema-inference
    * job runs; a missing directory still fails the read. */
  private def paramsSchema: StructType =
    StructType(paramCols.map(StructField(_, IntegerType, nullable = false)))

  private def readParamsTable(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(paramsSchema).parquet(s"$root/params")

  /** Params of an already-RESOLVED root; a missing index fails loudly. */
  private def readParams(spark: SparkSession, root: String): Seq[Int] = {
    val rows = readParamsTable(spark, root).collect()
    require(rows.length == 1, s"no $name index at $root")
    require(!rows(0).anyNull,
      s"$name index params at $root lack one of ${paramCols.mkString(", ")}")
    val p = paramCols.indices.map(rows(0).getInt)
    validate(p)
    p
  }

  def resolve(spark: SparkSession, path: String): (String, Seq[Int]) = {
    val root = VersionedIndex.resolveRoot(spark, path)
    (root, readParams(spark, root))
  }

  private def read(spark: SparkSession, root: String): Views =
    tables.map(t => t.name -> spark.read.parquet(s"$root/${t.name}")).toMap

  /** Holds every indexed doc id (one row per doc if unpartitioned). */
  private def idTable: IndexTable = tables.head

  private def write(df: DataFrame, t: IndexTable, root: String, mode: String): Unit = {
    val w = df.write.mode(mode)
    t.partitionBy.fold(w)(c => w.partitionBy(c)).parquet(s"$root/${t.name}")
  }

  private def inOrder(df: DataFrame, t: IndexTable): DataFrame =
    df.select(t.cols.map(col): _*)

  private def copyParams(spark: SparkSession, from: String, to: String): Unit =
    readParamsTable(spark, from)
      .coalesce(1).write.mode("overwrite").parquet(s"$to/params")

  /** Run `body` on the directory a rewrite of `path` writes, then commit:
    * a fresh `v<N>` behind `_current` when `version` is set or `path` is
    * already versioned, the legacy root otherwise. */
  private def rewrite(spark: SparkSession, path: String, version: Boolean)
                     (body: String => Unit): Unit = {
    val next =
      if (version || VersionedIndex.resolveRoot(spark, path) != path)
        Some(VersionedIndex.nextVersion(spark, path))
      else None
    body(next.fold(path)(v => s"$path/$v"))
    next.foreach(VersionedIndex.commitPointer(spark, path, _))
  }

  /** Indexed docs of `idTab` whose id is in `ids(c)`. */
  private def countDocs(idTab: DataFrame, ids: DataFrame, c: String): Long = {
    val hit = idTab.join(ids, idTab("doc_id") === ids(c), "left_semi")
    (if (idTable.partitionBy.isEmpty) hit else hit.select("doc_id").distinct())
      .count()
  }

  private def without(t: DataFrame, ids: DataFrame, c: String): DataFrame =
    t.join(ids, t("doc_id") === ids(c), "left_anti")

  private def restrict(v: Views, rows: DataFrame, idCol: String): Views = {
    val ids = rows.select(col(idCol).as("doc_id"))
    v.map { case (n, t) => n -> t.join(ids, "doc_id") }
  }

  def build(docs: DataFrame, path: String, idCol: String, valueCol: String,
            p: Seq[Int]): Unit = {
    validate(p)
    val spark = docs.sparkSession
    rewrite(spark, path, version = false) { target =>
      spark.createDataFrame(java.util.List.of(Row.fromSeq(p)), paramsSchema)
        .coalesce(1).write.mode("overwrite").parquet(s"$target/params")
      writeSignatures(docs, idCol, valueCol, p, target, "overwrite")
    }
  }

  /** Append under the index's OWN params (keys derived differently from
    * the build would silently never match the old rows). Tables append
    * in order: a crash in between leaves rows of the first table only —
    * inert, since no previously indexed doc is affected; re-append. */
  def append(docs: DataFrame, path: String, idCol: String, valueCol: String): Unit = {
    val (root, p) = resolve(docs.sparkSession, path)
    writeSignatures(docs, idCol, valueCol, p, root, "append")
  }

  /** One signature pass feeds every table: materialized once (and
    * released) when it feeds more than one. */
  private def writeSignatures(docs: DataFrame, idCol: String, valueCol: String,
                              p: Seq[Int], root: String, mode: String): Unit = {
    val sig = sigFrame(docs, idCol, valueCol, p)
    val ck = if (tables.size > 1) Some(PlanAudit.checkpoint(sig)) else None
    try {
      val v = views(ck.getOrElse(sig))
      tables.foreach(t => write(v(t.name), t, root, mode))
    } finally ck.foreach(Dedup.releaseCheckpoint)
  }

  /** Rewrite the current version into one file per partition directory
    * (`files` files for unpartitioned tables), committed atomically;
    * the data is identical. */
  def compact(spark: SparkSession, path: String, files: Int = 8): Unit = {
    val (root, p) = resolve(spark, path)
    rewrite(spark, path, version = true) { vdir =>
      copyParams(spark, root, vdir)
      tables.foreach { t =>
        val df = spark.read.parquet(s"$root/${t.name}")
        // repartition BY the partition column: each task holds whole
        // partitions, so every partition directory lands as one file
        write(inOrder(t.partitionBy.fold(df.repartition(files))(c =>
          df.repartition(partitions(p), col(c))), t), t, vdir, "overwrite")
      }
    }
  }

  def vacuum(spark: SparkSession, path: String): Seq[String] =
    VersionedIndex.vacuum(spark, path, "params" +: tables.map(_.name))

  /** Anti-join `ids` out of every table into a fresh committed version;
    * returns the indexed docs removed (0 leaves the index untouched). A
    * doc has rows in every partition, so every table rewrites in full. */
  def delete(spark: SparkSession, path: String, ids: DataFrame, idCol: String): Long = {
    val (root, _) = resolve(spark, path)
    val tabs = read(spark, root)
    val idTab = tabs(idTable.name)
    // cast the DELETE side to the stored id dtype — the index accepts any
    // id type at build, so casting the index side (or hard-casting to
    // long) would silently match nothing for e.g. string ids
    val del = PlanAudit.checkpoint(ids
      .select(col(idCol).cast(idTab.schema("doc_id").dataType).as("__del_id"))
      .distinct())
    try {
      val nDel = countDocs(idTab, del, "__del_id")
      if (nDel > 0) rewrite(spark, path, version = true) { vdir =>
        copyParams(spark, root, vdir)
        tables.foreach(t =>
          write(inOrder(without(tabs(t.name), del, "__del_id"), t), t, vdir, "overwrite"))
      }
      nDel
    } finally Dedup.releaseCheckpoint(del)
  }

  /** Both indexes resolved and read, after the guards every cross-index
    * operation needs: equal params (keys hashed two ways are
    * incomparable) and disjoint ids (a shared id would report itself as
    * a cross-index duplicate and make the merged index ambiguous). */
  private def both(spark: SparkSession, pathA: String, pathB: String, why: String)
      : (String, Views, Views, Seq[Int]) = {
    val (rootA, pA) = resolve(spark, pathA)
    val (rootB, pB) = resolve(spark, pathB)
    def show(v: Seq[Any]) = v.mkString("(", ", ", ")")
    require(pA == pB, s"index params ${show(paramCols)} differ: $pathA has " +
      s"${show(pA)}, $pathB has ${show(pB)} — $why")
    val (tA, tB) = (read(spark, rootA), read(spark, rootB))
    val shared = tA(idTable.name).select("doc_id").distinct()
      .join(tB(idTable.name).select("doc_id").distinct(), "doc_id", "left_semi")
      .count()
    require(shared == 0,
      s"$shared doc ids appear in both $pathA and $pathB — cross-index " +
        "semantics would be ambiguous; re-id one side")
    (rootA, tA, tB, pA)
  }

  /** Verified pairs (doc_a from A, doc_b from B, score) from stored
    * state alone — neither corpus is re-read. */
  def crossPairs(spark: SparkSession, pathA: String, pathB: String,
                 threshold: Double = 0.0): DataFrame = {
    val (_, tA, tB, p) = both(spark, pathA, pathB, "cross-index keys are incomparable")
    pairs(tA, tB, p, threshold, within = false)
  }

  /** Merge into a NEW index at `outPath`: A's docs all survive, B's docs
    * that match A drop (when `dedupAcross`), rows union under A's
    * params. Returns the B docs dropped. */
  def merge(spark: SparkSession, pathA: String, pathB: String, outPath: String,
            dedupAcross: Boolean, threshold: Double = 0.0): Long = {
    Dedup.requireDistinctOutPath(spark, outPath, pathA, pathB)
    // params must match even without dedupAcross: a merged index keyed
    // two ways silently misses one input's docs
    val (rootA, tA, tB, p) = both(spark, pathA, pathB, "the merged index cannot serve both")
    val dropB =
      if (dedupAcross) PlanAudit.checkpoint(pairs(tA, tB, p, threshold, within = false)
        .select(col("doc_b").as("__drop_id")).distinct())
      else spark.range(0).select(col("id").as("__drop_id"))
    try {
      val nDrop = if (dedupAcross) countDocs(tB(idTable.name), dropB, "__drop_id") else 0L
      rewrite(spark, outPath, version = false) { target =>
        copyParams(spark, rootA, target)
        tables.foreach(t => write(inOrder(tA(t.name)
          .unionByName(without(tB(t.name), dropB, "__drop_id")), t), t, target, "overwrite"))
      }
      nDrop
    } finally Dedup.releaseCheckpoint(dropB)
  }

  /** The batch rows with no verified match in the index, original
    * columns intact (within-batch matches are out of scope). */
  def againstIndex(fresh: DataFrame, path: String, idCol: String, valueCol: String,
                   threshold: Double = 0.0): DataFrame = {
    val spark = fresh.sparkSession
    val (root, p) = resolve(spark, path)
    val hits = matched(lookupViews(fresh, idCol, valueCol, p), read(spark, root), p,
      threshold, within = false, "__dup_id")
    fresh.join(hits, fresh(idCol) === col("__dup_id"), "left_anti")
  }

  /** Index views minus the batch's own ids, so survivors a crashed
    * attempt already appended never suppress their own replay. */
  private def indexExcluding(spark: SparkSession, root: String, b: DataFrame,
                             idCol: String): Views = {
    val bIds = b.select(col(idCol).as("__bid")).distinct()
    read(spark, root).map { case (n, t) =>
      n -> t.join(bIds, col("doc_id") === col("__bid"), "left_anti") }
  }

  /** One suppressor commit (the rule: [[Dedup.nearDupSuppressAndIndex]]).
    * ONE checkpoint of the batch (plus [[batchSketch]]), whose job also
    * yields the [[AppendLedger]] token as observe metrics. A crash
    * inside a previous append window repairs each table against its
    * FULL contents at (doc_id, partition column) granularity: a doc's
    * rows across partitions land atomically only under a v1 committer
    * with no crash during job commit, so a doc-level diff could
    * duplicate or orphan rows. The caller releases the survivors. */
  def suppressAndIndex(batch: DataFrame, path: String, idCol: String,
                       valueCol: String, threshold: Double = 0.0): DataFrame = {
    val spark = batch.sparkSession
    val (root, p) = resolve(spark, path)
    val obs = Observation()
    val tokAggs = AppendLedger.tokenAggs(idCol)
    val observed = batch.observe(obs, tokAggs.head.as("c"),
      tokAggs(1).as("h1"), tokAggs(2).as("h2"))
    val sketch = batchSketch(valueCol, p)
    val ck = PlanAudit.checkpoint(sketch.fold(observed)(observed.withColumn("__gsig", _)))
    val b = if (sketch.isEmpty) ck else ck.drop("__gsig")
    val fresh = batchViews(ck, idCol, valueCol, p)
    try {
      val afterIndex = b.join(
        matched(fresh, indexExcluding(spark, root, b, idCol), p, threshold,
          within = false, "__dup_id"),
        b(idCol) === col("__dup_id"), "left_anti")
      val rest = restrict(fresh, afterIndex, idCol)
      val keep = PlanAudit.checkpoint(afterIndex.join(
        matched(rest, rest, p, threshold, within = true, "__drop_id"),
        afterIndex(idCol) === col("__drop_id"), "left_anti"))
      // keep is the caller's to release — but on an append failure no
      // caller holds it, so release here
      try {
        val keepIds = keep.select(col(idCol).as("doc_id"))
        val tok = AppendLedger.tokenFromParts(obs.get("c").asInstanceOf[Long],
          obs.get("h1").asInstanceOf[java.math.BigDecimal],
          obs.get("h2").asInstanceOf[java.math.BigDecimal])
        AppendLedger.appendOnce(spark, path, tok) { repair =>
          tables.foreach { t =>
            val rows = fresh(t.name).join(keepIds, "doc_id")
            val keys = "doc_id" +: t.partitionBy.toSeq
            val missing = if (!repair) rows else rows.join(
              spark.read.parquet(s"$root/${t.name}")
                .select(keys.map(k => col(k).as(s"__have_$k")): _*),
              keys.map(k => col(k) === col(s"__have_$k")).reduce(_ && _), "left_anti")
            write(inOrder(missing, t), t, root, "append")
          }
        }
      } catch { case e: Throwable => Dedup.releaseCheckpoint(keep); throw e }
      keep
    } finally Dedup.releaseCheckpoint(ck)
  }

  /** Dry run of [[suppressAndIndex]], no side effects: (idCol,
    * verdict, match_id, [[scoreCol]]) per batch doc, as
    * [[Dedup.nearDupSuppressExplain]] describes. */
  def explain(batch: DataFrame, path: String, idCol: String, valueCol: String,
              threshold: Double = 0.0): DataFrame = {
    val spark = batch.sparkSession
    val (root, p) = resolve(spark, path)
    val b = PlanAudit.checkpoint(batch)
    val sig = PlanAudit.checkpoint(sigFrame(b, idCol, valueCol, p))
    val fresh = views(sig)
    val (self, other) = explainNames
    var idxBestChk: Option[DataFrame] = None
    try {
      val idxBest = PlanAudit.checkpoint(best(pairs(fresh,
        indexExcluding(spark, root, b, idCol), p, threshold, within = false, self, other)))
      idxBestChk = Some(idxBest)
      val rest = restrict(fresh, b.join(idxBest, b(idCol) === idxBest(self), "left_anti"), idCol)
      val batchBest = best(pairs(rest, rest, p, threshold, within = true, self, other))
      // evidence aliases: __i<s>/__b<s> for the index and batch score
      val (is, bs) = (s"__i${scoreCol.head}", s"__b${scoreCol.head}")
      // materialize BEFORE the finally releases the inputs it reads
      PlanAudit.checkpoint(b.select(col(idCol))
        .join(idxBest.select(col(self).as(idCol), col("match_id").as("__im"),
          col(scoreCol).as(is)), Seq(idCol), "left")
        .join(batchBest.select(col(self).as(idCol), col("match_id").as("__bm"),
          col(scoreCol).as(bs)), Seq(idCol), "left")
        .select(col(idCol),
          when(col("__im").isNotNull, lit("index_dup"))
            .when(col("__bm").isNotNull, lit("batch_dup"))
            .otherwise(lit("kept")).as("verdict"),
          coalesce(col("__im"), col("__bm")).as("match_id"),
          coalesce(col(is), col(bs)).as(scoreCol)))
    } finally (Seq(b, sig) ++ idxBestChk).foreach(Dedup.releaseCheckpoint)
  }

  /** foreachBatch wrapper ([[Dedup.nearDupSuppressStream]]).
    * Superseded versions are NOT vacuumed here — searchers may still
    * hold a pre-swap resolution. */
  def stream(stream: DataFrame, indexPath: String, outPath: String,
             checkpointDir: String, compactEveryBatches: Int, ledgerKeepLast: Int)
            (suppress: DataFrame => DataFrame): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val keep = suppress(batch)
        try keep.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        finally Dedup.releaseMaterialized(keep)
        if (compactEveryBatches > 0 && (batchId + 1) % compactEveryBatches == 0) {
          compact(batch.sparkSession, indexPath)
          AppendLedger.vacuum(batch.sparkSession, indexPath, ledgerKeepLast)
          ()
        }
      }
      .start()
}
