package graft

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Dedup, Similarity, VersionedIndex}

/** The persisted IVF index's one lifecycle. Whatever entry point a
  * caller picks, every maintenance step keeps the IVF+PQ form's two
  * halves (`vectors/` and `codes/`) holding the same ids, once each, at
  * the same cells; deletes match the stored id type; a crash inside a
  * suppressor append or a compaction recovers to the clean run; and the
  * plain form runs a pinned number of Spark jobs per operation. */
class IvfIndexSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(tag: String): String = Files.createTempDirectory(tag).toString

  /** `n` seeded Gaussian vectors of dimension 8, ids from `from`: at this
    * dimension two of them are never near-duplicates. */
  private def gaussian(n: Int, from: Long, seed: Long): Seq[(Long, Array[Float])] = {
    val r = new java.util.Random(seed)
    (0 until n).map(i => (from + i, Array.fill(8)(r.nextGaussian().toFloat)))
  }

  private def frame(rows: Seq[(Long, Array[Float])]): DataFrame =
    rows.toDF("vec_id", "embedding")

  private def ids(df: DataFrame): Set[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSet

  /** (id, cell) rows of one half of the current version, sorted. */
  private def cellIds(path: String, half: String, idName: String): Seq[(String, Int)] = {
    val root = VersionedIndex.resolveRoot(spark, path)
    spark.read.parquet(s"$root/$half").select(col(idName).cast("string"), col("cell"))
      .collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
  }

  /** Asserts that both halves hold the same ids, once each, at the same
    * cells and that the integrity report is all-true; returns the ids. */
  private def inStep(path: String, step: String): Set[String] = {
    val vec = cellIds(path, "vectors", "vec_id")
    assert(vec.map(_._1).distinct.size == vec.size, s"$step: an id is stored twice")
    assert(cellIds(path, "codes", "neighbor_id") == vec,
      s"$step: the vectors and codes halves diverged")
    val r = Similarity.ivfIndexIntegrity(spark, path).collect().head
    assert(r.getLong(1) == vec.size && r.getBoolean(2) && r.getBoolean(3),
      s"$step: integrity report $r")
    vec.map(_._1).toSet
  }

  test("appends, stream appends, deletes and the suppressor keep both IVF+PQ halves in step") {
    val emb = graft.core.Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val part = (r: Int) => emb.filter(col("vec_id") % 5 === r)
    val dir = tmp("graft-ivfpq-step")
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") % 5 >= 2), dir, m = 8, ksub = 8)
    inStep(dir, "build")
    // ADC neighbors of `rows` under fresh query ids, so a stored row is
    // not excluded as the query itself
    def adc(rows: DataFrame, rescoreDepth: Int = 0): Set[Long] =
      Similarity.ivfPqSearchIndex(spark, dir,
          rows.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
          k = 5, nprobe = 2, rescoreDepth = rescoreDepth)
        .select("neighbor_id").collect().map(_.getLong(0)).toSet

    Similarity.appendToIvfIndex(part(0), dir)
    inStep(dir, "appendToIvfIndex")
    assert(adc(part(0)).intersect(ids(part(0))).nonEmpty,
      "ADC search must find vectors appended through appendToIvfIndex")

    val src = tmp("graft-ivfpq-step-src")
    part(1).write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    Similarity.appendStreamToIvfIndex(stream, dir, tmp("graft-ivfpq-step-ckpt"))
      .awaitTermination()
    inStep(dir, "appendStreamToIvfIndex")
    assert(adc(part(1)).intersect(ids(part(1))).nonEmpty,
      "ADC search must find vectors appended through appendStreamToIvfIndex")

    val doomed = emb.orderBy("vec_id").limit(50)
    val doomedIds = ids(doomed)
    assert(Similarity.deleteFromIvfIndex(spark, dir, doomed.select("vec_id")) == 50)
    val left = inStep(dir, "deleteFromIvfIndex")
    assert(left.intersect(doomedIds.map(_.toString)).isEmpty)
    val survivors = emb.filter(!col("vec_id").isin(doomedIds.toSeq: _*)).limit(20)
    assert(adc(survivors).intersect(doomedIds).isEmpty,
      "ADC search returned a deleted id")
    assert(adc(survivors, rescoreDepth = 10).intersect(doomedIds).isEmpty,
      "rescored search returned a deleted id")

    // the deleted vectors come back as a suppressor batch
    val kept = Similarity.semanticSuppressAndIndex(doomed, dir, threshold = 0.99)
    val keptIds = try ids(kept) finally Dedup.releaseMaterialized(kept)
    assert(keptIds.nonEmpty && keptIds.subsetOf(doomedIds))
    assert(inStep(dir, "semanticSuppressAndIndex") == left ++ keptIds.map(_.toString))
    assert(adc(doomed).intersect(keptIds).nonEmpty,
      "ADC search must find the suppressor's survivors")
  }

  test("deleteFromIvfIndex casts to the stored id type: string ids delete exactly the named ids") {
    val rows = gaussian(16, 0L, 7L).map { case (i, v) => (s"doc-$i", v) }
      .toDF("vec_id", "embedding")
    val all = (0 until 16).map(i => s"doc-$i").toSet
    val doomed = Seq("doc-1", "doc-4", "doc-9", "doc-15")
    for (pq <- Seq(false, true)) {
      val dir = tmp("graft-ivf-strdel")
      if (pq) Similarity.buildIvfPqIndex(rows, dir, cells = 2, m = 2, ksub = 2)
      else Similarity.buildIvfIndex(rows, dir, cells = 2)
      assert(Similarity.deleteFromIvfIndex(spark, dir, doomed.toDF("vec_id")) == 4)
      assert(cellIds(dir, "vectors", "vec_id").map(_._1).toSet == all -- doomed,
        s"pq=$pq")
      if (pq) assert(inStep(dir, "string-id delete") == all -- doomed)
    }
  }

  test("ivfPqSearchIndex on a plain IVF index names it as not PQ-coded") {
    val dir = tmp("graft-ivf-notpq")
    Similarity.buildIvfIndex(frame(gaussian(8, 0L, 3L)), dir, cells = 2)
    val e = intercept[IllegalArgumentException](
      Similarity.ivfPqSearchIndex(spark, dir, frame(gaussian(2, 100L, 4L))))
    assert(e.getMessage.contains("not PQ-coded"), e.getMessage)
  }

  // opening an index costs a stat and the quantizer is read only by the
  // operations that need it, so serving the PQ form from the same code
  // adds no job to the plain form
  test("plain IVF operations run a pinned number of Spark jobs") {
    val emb = graft.core.Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val dir = tmp("graft-ivf-jobs")
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < 300), dir, cells = 4)
    val sc = spark.sparkContext
    def consumed(df: DataFrame): Unit =
      try df.queryExecution.toRdd.count() finally Dedup.releaseMaterialized(df)
    val batch = emb.filter(col("vec_id") >= 400)
    val jobs = Seq(
      "ivfSearchIndex" -> JobCounter.jobs(sc)(
        Similarity.ivfSearchIndex(spark, dir, emb.limit(5), k = 3, nprobe = 2).collect()),
      "appendToIvfIndex" -> JobCounter.jobs(sc)(
        Similarity.appendToIvfIndex(emb.filter(col("vec_id").between(300, 399)), dir)),
      "deleteFromIvfIndex" -> JobCounter.jobs(sc)(
        Similarity.deleteFromIvfIndex(spark, dir, Seq(1L, 2L, 301L).toDF("vec_id"))),
      "semanticSuppressExplain" -> JobCounter.jobs(sc)(
        consumed(Similarity.semanticSuppressExplain(batch, dir))),
      "semanticSuppressAndIndex" -> JobCounter.jobs(sc)(
        consumed(Similarity.semanticSuppressAndIndex(batch, dir))))
    info(jobs.map { case (op, n) => s"$op=$n" }.mkString(" "))
    assert(jobs == Seq("ivfSearchIndex" -> 10, "appendToIvfIndex" -> 5,
      "deleteFromIvfIndex" -> 11, "semanticSuppressExplain" -> 22,
      "semanticSuppressAndIndex" -> 23))
  }

  /** Runs `body` over fresh directories on the failpoint filesystem
    * (`graftcount://`), removed afterwards. */
  private def crashPoints(body: (() => String) => Unit): Unit = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingFileSystem].getName)
    val dirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
    def fresh(): String = {
      val local = Files.createTempDirectory("graft-ivf-crash")
      dirs += local.toFile
      s"graftcount://$local"
    }
    try body(fresh _)
    finally {
      CountingFileSystem.reset()
      dirs.foreach(IngestProbes.rmrfQuiet)
    }
  }

  private def local(path: String): java.io.File = new java.io.File(new URI(path).getPath)

  test("a crash between the suppressor's two half-writes on an IVF+PQ index replays without duplicates") {
    crashPoints { fresh =>
      val built = fresh()
      Similarity.buildIvfPqIndex(frame(gaussian(16, 0L, 11L)), built, cells = 2, m = 2, ksub = 2)
      def copy(): String = {
        val p = fresh()
        FileUtils.copyDirectory(local(built), local(p))
        p
      }
      // eight novel vectors and one exact copy of an indexed vector
      val batch = frame(gaussian(8, 100L, 12L) ++ gaussian(16, 0L, 11L).take(1)
        .map { case (_, v) => (200L, v) })
      def suppress(path: String): Set[Long] = {
        val kept = Similarity.semanticSuppressAndIndex(batch, path, threshold = 0.99, nprobe = 2)
        try ids(kept) finally Dedup.releaseMaterialized(kept)
      }
      val clean = copy()
      CountingFileSystem.reset()
      val kept = suppress(clean)
      val creates = CountingFileSystem.createdPaths.asScala.toSeq
      CountingFileSystem.reset()
      assert(kept == (100L to 107L).toSet)
      val expected = inStep(clean, "clean suppress")
      assert(expected == ((0L to 15L) ++ (100L to 107L)).map(_.toString).toSet)
      // the first create of a half: nothing of it landed, everything
      // before it did (at `codes`, the vectors half is complete)
      for (half <- Seq("vectors", "codes")) {
        val n = creates.indexWhere(_.contains(s"/$half/")) + 1
        assert(n > 0, s"the clean suppress created nothing under $half/")
        val path = copy()
        CountingFileSystem.reset()
        CountingFileSystem.failCreateAt.set(n)
        intercept[Exception](suppress(path))
        CountingFileSystem.reset()
        assert(suppress(path) == kept, s"replay survivors after a crash at the first $half create")
        assert(inStep(path, s"replay after a crash at the first $half create") == expected)
      }
    }
  }

  test("a crash at any create or rename of an IVF+PQ compaction leaves v1 serving; a re-run commits both halves") {
    crashPoints { fresh =>
      val built = fresh()
      Similarity.buildIvfPqIndex(frame(gaussian(16, 0L, 21L)), built, cells = 2, m = 2, ksub = 2)
      def copy(): String = {
        val p = fresh()
        FileUtils.copyDirectory(local(built), local(p))
        p
      }
      val queries = frame(gaussian(4, 100L, 22L))
      def adc(path: String): Seq[String] =
        Similarity.ivfPqSearchIndex(spark, path, queries, k = 3, nprobe = 2)
          .collect().map(_.toString).sorted.toSeq
      val expected = adc(built)
      val clean = copy()
      CountingFileSystem.reset()
      Similarity.compactIvfIndex(spark, clean)
      val (creates, renames) =
        (CountingFileSystem.createCalls.get, CountingFileSystem.renameCalls.get)
      CountingFileSystem.reset()
      info(s"clean compaction: $creates creates, $renames renames")
      assert(VersionedIndex.current(spark, clean).contains("v2"))
      assert(adc(clean) == expected)
      val stored = inStep(clean, "clean compaction")
      val points = Seq(
        ("create", CountingFileSystem.failCreateAt, CountingFileSystem.createCalls, creates),
        ("rename", CountingFileSystem.failRenameAt, CountingFileSystem.renameCalls, renames))
      for ((op, fail, made, total) <- points; n <- 1L to total) {
        val path = copy()
        CountingFileSystem.reset()
        fail.set(n)
        val crash = intercept[Exception](Similarity.compactIvfIndex(spark, path))
        assert(made.get >= n, s"$op $n: the compaction failed before it: $crash")
        CountingFileSystem.reset()
        assert(VersionedIndex.current(spark, path).contains("v1"), s"after a crash at $op $n")
        assert(adc(path) == expected, s"ADC search after a crash at $op $n")
        // a staged version is never reused: only a crash at v2's own
        // commit marker leaves v2 behind, and the re-run then commits v3
        val next = if (local(path).toPath.resolve("v2").toFile.exists) "v3" else "v2"
        Similarity.compactIvfIndex(spark, path)
        assert(VersionedIndex.current(spark, path).contains(next), s"re-run after $op $n")
        assert(inStep(path, s"re-run after a crash at $op $n") == stored)
      }
    }
  }
}
