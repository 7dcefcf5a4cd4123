package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Similarity, VersionedIndex}

/** Persistent-index lifecycle: drift profiling after frozen-quantizer
  * appends, atomic versioned reindex, post-reindex routing of searches
  * and appends, and version vacuum. */
class IndexLifecycleSpec extends AnyFunSuite {
  import TestSpark._

  private def freshIndex(): (String, org.apache.spark.sql.DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-lifecycle").toString
    val emb = graft.core.Tables.embeddings(spark, sf)
    Similarity.buildIvfIndex(emb, dir)
    (dir, emb)
  }

  /** A hot blob: `n` jittered near-duplicates of one direction — all
    * land in one cell under the build-time quantizer, but are
    * separable once the quantizer refits. */
  private def hotBlob(emb: org.apache.spark.sql.DataFrame, n: Int) = {
    import org.apache.spark.sql.functions._
    val base = emb.orderBy("vec_id").limit(1)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
    val s = spark
    import s.implicits._
    (0 until n).map { i =>
      val v = base.clone()
      v(i % v.length) = v(i % v.length) + 0.05f * ((i % 7) + 1)
      (1000000L + i, v)
    }.toDF("vec_id", "embedding")
  }

  test("ivfDriftProfile: shares sum to 1; skewed appends spike occupancy and error") {
    val (dir, emb) = freshIndex()
    val before = Similarity.ivfDriftProfile(spark, dir).collect()
    assert(math.abs(before.map(_.getAs[Double]("share")).sum - 1.0) < 1e-3)
    val total = before.map(_.getAs[Long]("n")).sum
    assert(total == emb.count())

    Similarity.appendToIvfIndex(hotBlob(emb, 300), dir)
    val after = Similarity.ivfDriftProfile(spark, dir).collect()
    assert(after.map(_.getAs[Long]("n")).sum == total + 300)
    val maxBefore = before.map(_.getAs[Double]("occupancy")).max
    val maxAfter = after.map(_.getAs[Double]("occupancy")).max
    assert(maxAfter > maxBefore,
      f"hot-blob append must skew occupancy: $maxAfter%.3f <= $maxBefore%.3f")
  }

  test("reindex swaps to a new version atomically; searches and appends follow it") {
    val (dir, emb) = freshIndex()
    Similarity.appendToIvfIndex(hotBlob(emb, 300), dir)
    val skewed = Similarity.ivfDriftProfile(spark, dir).collect()

    val v = Similarity.reindex(spark, dir)
    assert(v == "v2")
    assert(new java.io.File(dir, "v2/_committed").exists())
    assert(VersionedIndex.resolveRoot(spark, dir) == s"$dir/v2")
    // the build's v1 untouched until vacuum — in-flight readers stay valid
    assert(new java.io.File(dir, "v1/centroids").exists())

    // every vector survived the rebuild, and the refit quantizer models
    // the hot blob: occupancy skew drops
    val re = Similarity.ivfDriftProfile(spark, dir).collect()
    assert(re.map(_.getAs[Long]("n")).sum == skewed.map(_.getAs[Long]("n")).sum)
    val skewMax = skewed.map(_.getAs[Double]("occupancy")).max
    val reMax = re.map(_.getAs[Double]("occupancy")).max
    assert(reMax < skewMax,
      f"reindex must level occupancy: $reMax%.3f >= $skewMax%.3f")

    // searches resolve the new version and stay sane
    val got = Similarity.ivfSearchIndex(spark, dir, emb.limit(5), k = 3, nprobe = 2)
    assert(got.count() > 0)

    // appends now land in the new version's tree
    Similarity.appendToIvfIndex(hotBlob(emb, 10), dir)
    val v1Total = Similarity.ivfDriftProfile(spark, dir).collect()
      .map(_.getAs[Long]("n")).sum
    assert(v1Total == re.map(_.getAs[Long]("n")).sum + 10)

    // a second reindex chains to v3
    assert(Similarity.reindex(spark, dir) == "v3")
    assert(VersionedIndex.resolveRoot(spark, dir) == s"$dir/v3")

    // vacuum drops v1 and v2, keeps v3
    val deleted = Similarity.vacuumIndexVersions(spark, dir)
    assert(deleted == Seq("v1", "v2"), s"got $deleted")
    assert(Similarity.ivfSearchIndex(spark, dir, emb.limit(3), k = 3, nprobe = 2)
      .count() > 0, "search must survive vacuum")
  }

  test("reindex of an IVF+PQ index refits codebooks and preserves m/ksub") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lifecycle-pq").toString
    val emb = graft.core.Tables.embeddings(spark, sf)
    Similarity.buildIvfPqIndex(emb, dir, m = 8, ksub = 8)
    Similarity.appendToIvfIndex(hotBlob(emb, 100), dir)
    assert(Similarity.reindex(spark, dir) == "v2")
    // the rebuilt version carries both halves of the index
    assert(new java.io.File(s"$dir/v2/codebooks").exists())
    assert(new java.io.File(s"$dir/v2/codes").exists())
    val cb = spark.read.parquet(s"$dir/v2/codebooks")
    import org.apache.spark.sql.functions._
    val dims = cb.agg(countDistinct("subspace"), countDistinct("codeword"))
      .collect().head
    assert(dims.getLong(0) == 8 && dims.getLong(1) == 8)
    val got = Similarity.ivfPqSearchIndex(spark, dir, emb.limit(5),
      k = 3, nprobe = 2, rescoreDepth = 9)
    assert(got.count() > 0)
  }

  private def driftCount(dir: String): Long =
    Similarity.ivfDriftProfile(spark, dir).collect().map(_.getAs[Long]("n")).sum

  test("an IVF rebuild after a compaction is what readers see, before and after vacuum") {
    val (dir, emb) = freshIndex()
    assert(emb.count() > 100)
    Similarity.compactIvfIndex(spark, dir)
    Similarity.buildIvfIndex(emb.orderBy("vec_id").limit(100), dir)
    assert(driftCount(dir) == 100L)
    Similarity.vacuumIndexVersions(spark, dir)
    assert(driftCount(dir) == 100L)
  }

  test("an IVF+PQ rebuild after a compaction is what readers see, before and after vacuum") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-lifecycle-pq-rebuild").toString
    val emb = graft.core.Tables.embeddings(spark, sf)
    Similarity.buildIvfPqIndex(emb, dir, m = 8, ksub = 8)
    Similarity.compactIvfIndex(spark, dir)
    val kept = emb.orderBy("vec_id").limit(100)
    Similarity.buildIvfPqIndex(kept, dir, m = 8, ksub = 8)
    val keptIds = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    // queries the first build held and the rebuild does not: a search
    // of the stale version would find them
    val q = emb.orderBy(col("vec_id").desc).limit(5)
    def check(): Unit = {
      assert(driftCount(dir) == 100L)
      val hits = Similarity.ivfPqSearchIndex(spark, dir, q,
        k = 3, nprobe = 2, rescoreDepth = 9)
        .select("neighbor_id").collect().map(_.getLong(0)).toSet
      assert(hits.nonEmpty && hits.subsetOf(keptIds), s"hits outside the rebuild: $hits")
    }
    check()
    Similarity.vacuumIndexVersions(spark, dir)
    check()
  }

  test("deleteFromIvfIndex rewrites only affected cells; emptied cells vanish") {
    import org.apache.spark.sql.functions._
    val (dir, emb) = freshIndex()
    val all = spark.read.parquet(s"$dir/v1/vectors")
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val byCell = all.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(byCell.size >= 3, "fixture needs several occupied cells")
    val cellsSorted = byCell.keys.toSeq.sorted
    val wipeCell = cellsSorted.head            // delete EVERY vector here
    val partialCell = cellsSorted(1)           // delete one vector here
    val untouchedCell = cellsSorted(2)         // delete nothing here
    val untouchedFiles = new java.io.File(s"$dir/v1/vectors/cell=$untouchedCell")
      .listFiles().map(f => f.getName -> f.lastModified).toSet
    val doomed = byCell(wipeCell) ++ byCell(partialCell).take(1)
    val s = spark
    import s.implicits._
    // + one id the index never held: deletes must count actual hits
    val n = Similarity.deleteFromIvfIndex(spark, dir,
      (doomed.toSeq :+ 999999999L).toDF("vec_id"))
    assert(n == doomed.length, "returns vectors actually deleted")
    val after = spark.read.parquet(s"$dir/v1/vectors")
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(after.length == all.length - doomed.length)
    assert(after.map(_._1).toSet.intersect(doomed.toSet).isEmpty,
      "no deleted id survives")
    // the emptied cell's directory is GONE — dynamic overwrite alone
    // would have silently resurrected its old files
    assert(!new java.io.File(s"$dir/v1/vectors/cell=$wipeCell").exists(),
      "a fully-deleted cell must not keep serving old vectors")
    // untouched cells: same files, same mtimes — never rewritten
    val untouchedAfter = new java.io.File(s"$dir/v1/vectors/cell=$untouchedCell")
      .listFiles().map(f => f.getName -> f.lastModified).toSet
    assert(untouchedAfter == untouchedFiles, "untouched cells are not rewritten")
    // searches keep working against the pruned index
    val q = emb.filter(col("vec_id").isin(after.take(3).map(_._1): _*))
    assert(Similarity.ivfSearchIndex(spark, dir, q, k = 2, nprobe = 2).count() > 0)
    // deleting nothing is a no-op
    assert(Similarity.deleteFromIvfIndex(spark, dir,
      Seq(999999999L).toDF("vec_id")) == 0L)
  }

  test("mergeIvfIndexes: A wins cross-dups under A's quantizer; guards fire loudly") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    def v(axis: Int, x: Float = 1.0f): Array[Float] = {
      val a = new Array[Float](8); a(axis) = x; a
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfmerge").toString
    def p(n: String) = s"$dir/$n"
    Similarity.buildIvfIndex(
      Seq(1L -> v(0), 2L -> v(1)).toDF("vec_id", "embedding"), p("a"), cells = 2)
    // B: 10 is a near-copy of A's 1 (cosine 1.0 after scaling), 11 is
    // orthogonal to everything in A
    Similarity.buildIvfIndex(
      Seq(10L -> v(0, 0.5f), 11L -> v(2)).toDF("vec_id", "embedding"),
      p("b"), cells = 1)
    val pairs = Similarity.crossIndexSemanticPairs(spark, p("a"), p("b"),
        threshold = 0.9, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 10L)))
    val dropped = Similarity.mergeIvfIndexes(spark, p("a"), p("b"), p("m"),
      threshold = 0.9, nprobe = 2)
    assert(dropped == 1L)
    val members = spark.read.parquet(p("m") + "/v1/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(members == Set(1L, 2L, 11L))
    // the merged index serves searches under A's quantizer: a probe
    // near B's surviving direction finds it through cell pruning
    val hits = Similarity.ivfSearchIndex(spark, p("m"),
        Seq(100L -> v(2)).toDF("vec_id", "embedding"), k = 1, nprobe = 2)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(hits == Set(11L))
    // guards: self-merge (path alias), shared ids, dimension mismatch
    intercept[IllegalArgumentException](
      Similarity.mergeIvfIndexes(spark, p("a"), p("b"), p("a") + "/"))
    Similarity.buildIvfIndex(
      Seq(1L -> v(3)).toDF("vec_id", "embedding"), p("shared"), cells = 1)
    intercept[IllegalArgumentException](
      Similarity.mergeIvfIndexes(spark, p("a"), p("shared"), p("x")))
    Similarity.buildIvfIndex(
      Seq((50L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding"),
      p("dim2"), cells = 1)
    intercept[IllegalArgumentException](
      Similarity.mergeIvfIndexes(spark, p("a"), p("dim2"), p("y")))
    // PQ-coded inputs refuse: codes cannot re-encode under A's quantizer
    val emb = graft.core.Tables.embeddings(spark, sf)
    Similarity.buildIvfPqIndex(emb, p("pq"))
    intercept[IllegalArgumentException](
      Similarity.mergeIvfIndexes(spark, p("pq"), p("b"), p("z")))
  }

  test("deleteFromIvfPqIndex prunes both the vectors and the codes half") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-del").toString
    val emb = graft.core.Tables.embeddings(spark, sf)
    Similarity.buildIvfPqIndex(emb, dir, m = 8, ksub = 8)
    val doomed = emb.orderBy("vec_id").limit(5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val s = spark
    import s.implicits._
    val n = Similarity.deleteFromIvfIndex(spark, dir, doomed.toDF("vec_id"))
    assert(n == doomed.length)
    val liveVec = spark.read.parquet(s"$dir/v1/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val liveCodes = spark.read.parquet(s"$dir/v1/codes")
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(liveVec.intersect(doomed.toSet).isEmpty, "vectors half pruned")
    assert(liveCodes.intersect(doomed.toSet).isEmpty, "codes half pruned")
    assert(liveVec == liveCodes, "the two halves stay id-consistent")
    // ADC search (with and without rescore) never returns a deleted id
    val q = emb.filter(!col("vec_id").isin(doomed: _*)).limit(5)
    val hits = Similarity.ivfPqSearchIndex(spark, dir, q,
      k = 3, nprobe = 2, rescoreDepth = 9)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(hits.nonEmpty && hits.intersect(doomed.toSet).isEmpty)
  }
}
