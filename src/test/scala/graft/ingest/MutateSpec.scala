package graft.ingest

import java.nio.file.Files

import graft.TestSpark
import graft.core.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Row-level DELETE / MERGE on the staged-commit table: copy-on-write
  * scoped to the affected commit tokens, published through the same
  * superseding-marker protocol as compaction — so atomic visibility,
  * snapshot history, vacuum, and crash-scrub all carry over. */
class MutateSpec extends AnyFunSuite {
  import TestSpark.spark

  private def tmp(): String = Files.createTempDirectory("graft-mutate").toString

  private def cfg(dir: String) =
    IngestConfig(outputPath = Some(dir), parallelism = 2, buckets = 2)

  /** Distinct value ranges per batch so generated columns (pool lookups
    * by row index) are disjoint across batches — lets a predicate
    * target one batch. */
  private def rangeBatch(from: Int, until: Int) =
    spark.range(from, until, 1, 2).selectExpr("id as value", "cast(0 as int) as __pid")

  private def threeBatches(dir: String): Unit =
    (0 until 3).foreach(i =>
      Ingest.commitBatch(cfg(dir), dir, rangeBatch(i * 200, (i + 1) * 200), i))

  private def filesOfToken(dir: String, token: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir))
      .filter(f => f.getName.startsWith(s"b$token-") && !f.getPath.contains("/_"))
      .map(_.getPath).toSet
  }

  test("deleteWhere rewrites only the affected tokens; history and vacuum behave like compaction") {
    val dir = tmp()
    threeBatches(dir)
    val view = Tables.committedView(spark, dir)
    // a key that exists only in batch 1 (disjoint value ranges)
    val victim = view.filter(input_file_name().contains("/b1-"))
      .select("user_id").head.getString(0)
    val b0Before = filesOfToken(dir, "0")
    val res = Mutate.deleteWhere(spark, dir, col("user_id") === victim).get
    assert(res.matchedRows >= 1 && res.tokensRewritten == Seq("1"),
      s"only batch 1 holds the key; got $res")
    val after = Tables.committedView(spark, dir)
    assert(after.count() == 600 - res.matchedRows)
    assert(after.filter(col("user_id") === victim).isEmpty)
    assert(filesOfToken(dir, "0") == b0Before,
      "unaffected tokens' files must be untouched bytes")
    // ingest-batch snapshots reconstruct PRE-mutation history...
    assert(Tables.committedViewAsOf(spark, dir, 1).count() == 400)
    // ...until vacuum reclaims the superseded originals — then loudly gone
    assert(Compact.vacuum(spark, dir) > 0)
    intercept[IllegalStateException] { Tables.committedViewAsOf(spark, dir, 1) }
    assert(Tables.committedViewAsOf(spark, dir, 0).count() == 200,
      "snapshots not touching the mutated batch still reconstruct")
    assert(Tables.committedView(spark, dir).count() == 600 - res.matchedRows)
  }

  test("deleteWhere: false/null predicates keep rows; no match or empty table is a no-op") {
    val dir = tmp()
    assert(Mutate.deleteWhere(spark, dir, lit(true)).isEmpty, "empty table")
    threeBatches(dir)
    assert(Mutate.deleteWhere(spark, dir, col("user_id") === "no-such").isEmpty)
    // a NULL predicate must KEEP the row (SQL DELETE semantics), so a
    // predicate that is null for every row matches nothing
    assert(Mutate.deleteWhere(spark, dir,
      when(lit(false), lit(true)) === lit(true)).isEmpty)
    assert(Tables.committedView(spark, dir).count() == 600, "all no-ops")
    // deleting by a dict value hits every batch: all three rewritten
    val res = Mutate.deleteWhere(spark, dir, col("event_type") === "view").get
    assert(res.tokensRewritten == Seq("0", "1", "2"))
    val after = Tables.committedView(spark, dir)
    assert(after.filter(col("event_type") === "view").isEmpty)
    assert(after.count() == 600 - res.matchedRows && res.matchedRows == 200,
      "round-robin dict: exactly a third of 600 rows are 'view'")
  }

  test("merge replaces matched keys, inserts unmatched, leaves other tokens alone") {
    val dir = tmp()
    threeBatches(dir)
    val view = Tables.committedView(spark, dir)
    val fromB0 = view.filter(input_file_name().contains("/b0-")).limit(1)
    val fromB2 = view.filter(input_file_name().contains("/b2-")).limit(1)
    val updates = fromB0.union(fromB2).withColumn("ad_type", lit("upserted"))
    val insert = fromB0.withColumn("user_id", lit("brand-new-key"))
      .withColumn("ad_type", lit("inserted"))
    val source = updates.union(insert).cache()
    val b1Before = filesOfToken(dir, "1")
    val res = Mutate.merge(spark, dir, source, Seq("user_id"))
    assert(res.tokensRewritten == Seq("0", "2") && res.matchedRows == 2 &&
      res.insertedRows == 1, s"got $res")
    val after = Tables.committedView(spark, dir)
    assert(after.count() == 601)
    assert(after.filter(col("ad_type") === "upserted").count() == 2,
      "matched rows must carry the source's values")
    assert(after.filter(col("user_id") === "brand-new-key").count() == 1)
    assert(filesOfToken(dir, "1") == b1Before, "token 1 held no matched key")
    // a second identical merge converges: same keys match, count stable
    val again = Mutate.merge(spark, dir, source, Seq("user_id"))
    assert(again.matchedRows == 3 && again.insertedRows == 0)
    assert(Tables.committedView(spark, dir).count() == 601)
  }

  test("merge: pure insert into a populated or empty table; duplicate source keys fail loudly") {
    val dir = tmp()
    val empty = Files.createTempDirectory("graft-mutate-empty").toString
    threeBatches(dir)
    val view = Tables.committedView(spark, dir)
    val fresh = view.limit(3)
      .withColumn("user_id", concat(lit("k"), monotonically_increasing_id()))
      .cache()
    val res = Mutate.merge(spark, dir, fresh, Seq("user_id"))
    assert(res.matchedRows == 0 && res.insertedRows == 3 &&
      res.tokensRewritten.isEmpty)
    assert(Tables.committedView(spark, dir).count() == 603)
    // empty destination: the insert IS the table
    Mutate.merge(spark, empty, fresh, Seq("user_id"))
    assert(Tables.committedView(spark, empty).count() == 3)
    val dup = view.limit(1).union(view.limit(1))
    val e = intercept[IllegalArgumentException] {
      Mutate.merge(spark, dir, dup, Seq("user_id"))
    }
    assert(e.getMessage.contains("key-unique"))
  }

  test("mergeStream applies each micro-batch as one atomic last-wins upsert") {
    val dir = tmp()
    val srcDir = tmp()
    val ckpt = tmp()
    import spark.implicits._
    // seed: keys 0..99, v = k
    Mutate.append(spark, dir,
      spark.range(0, 100, 1, 2).selectExpr("id as k", "id as v"),
      partitionCols = Seq.empty)
    val schema = Seq((0L, 0L, 0L)).toDF("k", "v", "ver").schema
    def applyFile(rows: Seq[(Long, Long, Long)], name: String): Unit = {
      rows.toDF("k", "v", "ver").coalesce(1)
        .write.parquet(s"$srcDir/$name")
      val q = Mutate.mergeStream(
        spark.readStream.schema(schema).parquet(s"$srcDir/*"),
        dir, Seq("k"), ckpt, versionCol = Some("ver"),
        partitionCols = Seq.empty)
      q.awaitTermination()
    }
    // batch 1: two versions of k=50 (last wins) + an insert
    applyFile(Seq((50L, 111L, 1L), (50L, 222L, 2L), (200L, 1L, 1L)), "b1")
    val after1 = Tables.committedView(spark, dir)
    assert(after1.count() == 101)
    assert(after1.filter($"k" === 50).select("v").head.getLong(0) == 222,
      "the higher version must win within the batch")
    // batch 2 (same checkpoint, new files only): update + another insert
    applyFile(Seq((50L, 333L, 3L), (300L, 7L, 1L)), "b2")
    val after2 = Tables.committedView(spark, dir)
    assert(after2.count() == 102)
    assert(after2.filter($"k" === 50).select("v").head.getLong(0) == 333)
    assert(after2.filter($"k" === 300).select("v").head.getLong(0) == 7)
    assert(after2.columns.sorted.sameElements(Array("k", "v")),
      "the version column must not leak into the table")
  }

  test("applyChanges lands update+insert+delete atomically with net-new insert accounting") {
    val dir = tmp()
    import spark.implicits._
    Mutate.append(spark, dir,
      spark.range(0, 100, 1, 2).selectExpr("id as k", "id as v"),
      partitionCols = Seq.empty)
    // one change set: update k10, insert k200, delete k20 and an
    // absent k4000 — matched = 2 (the update + the delete), inserted
    // = 1 (the delete must NOT cancel the insert in the accounting)
    val ups = Seq((10L, 999L), (200L, 1L)).toDF("k", "v")
    val dels = Seq(Tuple1(20L), Tuple1(4000L)).toDF("k")
    val r = Mutate.applyChanges(spark, dir, ups, Some(dels), Seq("k"),
      partitionCols = Seq.empty)
    assert(r.matchedRows == 2 && r.insertedRows == 1,
      s"matched=${r.matchedRows} inserted=${r.insertedRows}")
    val after = Tables.committedView(spark, dir)
    assert(after.count() == 100, "100 - 1 deleted + 1 inserted")
    assert(after.filter($"k" === 10).select("v").head.getLong(0) == 999)
    assert(after.filter($"k" === 200).select("v").head.getLong(0) == 1)
    assert(after.filter($"k" === 20).isEmpty)
    // a key both upserted and deleted has no deterministic outcome
    val boom = intercept[IllegalArgumentException] {
      Mutate.applyChanges(spark, dir, ups,
        Some(Seq(Tuple1(10L)).toDF("k")), Seq("k"),
        partitionCols = Seq.empty)
    }
    assert(boom.getMessage.contains("key-unique"))
    // an all-absent delete set commits NOTHING (no marker litter)
    val noop = Mutate.applyChanges(spark, dir,
      ups.limit(0), Some(Seq(Tuple1(7777L)).toDF("k")), Seq("k"),
      partitionCols = Seq.empty)
    assert(noop.token == "" && noop.rewrittenRows == 0)
  }

  test("applyChanges leaves nothing cached") {
    val dir = tmp()
    import spark.implicits._
    Mutate.append(spark, dir, spark.range(0, 10, 1, 1).selectExpr("id as k", "id as v"),
      partitionCols = Seq.empty)
    spark.catalog.clearCache()
    Mutate.applyChanges(spark, dir, Seq((1L, 5L), (20L, 1L)).toDF("k", "v"),
      Some(Seq(Tuple1(2L)).toDF("k")), Seq("k"), partitionCols = Seq.empty)
    assert(spark.sharedState.cacheManager.isEmpty,
      "applyChanges left its change set cached")
    assert(Tables.committedView(spark, dir).count() == 10L)
  }

  test("mergeStream with an op column applies upserts and deletes as one CDC commit") {
    val dir = tmp()
    val srcDir = tmp()
    val ckpt = tmp()
    import spark.implicits._
    Mutate.append(spark, dir,
      spark.range(0, 100, 1, 2).selectExpr("id as k", "id as v"),
      partitionCols = Seq.empty)
    val schema = Seq((0L, 0L, 0L, "")).toDF("k", "v", "ver", "op").schema
    // one batch: an upsert, a plain delete, a key whose LAST state is a
    // delete (version dedup must let the delete win), and a delete of
    // an absent key (no-op)
    Seq((10L, 999L, 1L, "upsert"),
      (20L, 0L, 1L, "delete"),
      (30L, 555L, 1L, "upsert"), (30L, 0L, 2L, "delete"),
      (4000L, 0L, 1L, "delete"))
      .toDF("k", "v", "ver", "op").coalesce(1)
      .write.parquet(s"$srcDir/b1")
    def markers() = new java.io.File(dir, "_commits").listFiles()
      .count(f => !f.getName.startsWith(".") && !f.getName.endsWith(".crc"))
    val markersBefore = markers()
    Mutate.mergeStream(
      spark.readStream.schema(schema).parquet(s"$srcDir/*"),
      dir, Seq("k"), ckpt, versionCol = Some("ver"), opCol = Some("op"),
      partitionCols = Seq.empty).awaitTermination()
    val after = Tables.committedView(spark, dir)
    assert(after.count() == 98, "100 - k20 - k30 (k10 updated in place)")
    assert(after.filter($"k" === 10).select("v").head.getLong(0) == 999)
    assert(after.filter($"k" === 20 || $"k" === 30).isEmpty,
      "deleted keys must be gone; the versioned delete must beat its upsert")
    assert(after.filter($"k" === 4000).isEmpty)
    val markersAfter = markers()
    assert(markersAfter == markersBefore + 1,
      "upserts and deletes land as ONE commit")
  }

  test("mutations compose with compaction: chain resolves, vacuum reclaims, view stable") {
    val dir = tmp()
    threeBatches(dir)
    val del = Mutate.deleteWhere(spark, dir, col("event_type") === "click").get
    val afterDelete = Tables.committedView(spark, dir).count()
    assert(afterDelete == 600 - del.matchedRows)
    // compacting a mutated table supersedes originals AND the mutation
    val c = Compact.compact(spark, dir).get
    assert(c.rows == afterDelete)
    assert(Tables.committedView(spark, dir).count() == afterDelete)
    assert(Tables.committedView(spark, dir)
      .filter(col("event_type") === "click").isEmpty,
      "the deletion must survive compaction")
    assert(Compact.vacuum(spark, dir) > 0)
    assert(Tables.committedView(spark, dir).count() == afterDelete)
  }
}
