package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Dedup

/** Streaming near-dup suppression (SURVEY §2.2 stateful ops extension):
  * per-batch semantics of [[Dedup.nearDupSuppressAndIndex]] — index
  * flag, lower-id within-batch rule, survivors join the index — plus
  * the two properties the operator's crash story rests on: a replayed
  * batch is a no-op, and the MemoryStream wrapper reproduces the
  * sequential batch replay exactly. */
class StreamingDedupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // distinct-word texts: copies have Jaccard 1.0, others 0.0 — the
  // threshold-boundary behavior is pinned by q164's DuckDB oracle on
  // the fixture corpus; these pin the set logic
  private def words(tag: String): String =
    (1 to 25).map(i => s"$tag$i").mkString(" ")

  private def docsDF(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def freshIndex(): String = {
    val dir = Files.createTempDirectory("graft-ndstream-spec").toString
    Dedup.buildNearDupIndex(docsDF(100L -> words("corpus")), s"$dir/index")
    s"$dir/index"
  }

  private def indexedIds(idx: String): Set[Long] = {
    val root = graft.api.VersionedIndex.resolveRoot(spark, idx)
    spark.read.parquet(s"$root/sketches").select("doc_id")
      .collect().map(_.getLong(0)).toSet
  }

  test("suppresses against index, then lower-id within batch; survivors join the index") {
    val idx = freshIndex()
    val batch = docsDF(
      1L -> words("corpus"), // copy of the indexed doc -> flagged
      5L -> words("pair"), 6L -> words("pair"), // within-batch pair -> keep 5
      10L -> words("chain"), 11L -> words("chain"), 12L -> words("chain"),
      20L -> words("unique"))
    val kept = Dedup.nearDupSuppressAndIndex(batch, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(5L, 10L, 20L))
    assert(indexedIds(idx) == Set(100L, 5L, 10L, 20L))
    // next batch: a copy of a PRIOR survivor is flagged via the index
    val kept2 = Dedup.nearDupSuppressAndIndex(
        docsDF(30L -> words("pair"), 31L -> words("fresh")), idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(31L))
    assert(indexedIds(idx) == Set(100L, 5L, 10L, 20L, 31L))
  }

  test("append-ledger token via observe metrics == standalone aggregation") {
    // r18: the suppressors derive the ledger token from observe metrics
    // riding the batch checkpoint job (one aggregation job per commit
    // saved) — the two paths MUST agree or a replayed batch would miss
    // its own done marker and re-append
    import graft.api.AppendLedger
    val b = docsDF(1L -> words("alpha"), 2L -> words("beta"),
      3L -> words("gamma"))
    val obs = org.apache.spark.sql.Observation()
    val aggs = AppendLedger.tokenAggs("doc_id")
    val ck = b.observe(obs, aggs.head.as("c"), aggs(1).as("h1"),
      aggs(2).as("h2")).localCheckpoint()
    val viaObs = AppendLedger.tokenFromParts(
      obs.get("c").asInstanceOf[Long],
      obs.get("h1").asInstanceOf[java.math.BigDecimal],
      obs.get("h2").asInstanceOf[java.math.BigDecimal])
    assert(viaObs == AppendLedger.token(b, "doc_id"),
      "observe-derived token must equal the standalone aggregation's")
    ck.unpersist(false)
  }

  test("replaying a batch is idempotent: same survivors, no index growth") {
    val idx = freshIndex()
    val batch = docsDF(1L -> words("corpus"), 5L -> words("pair"),
      6L -> words("pair"), 20L -> words("unique"))
    val first = Dedup.nearDupSuppressAndIndex(batch, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val afterFirst = indexedIds(idx)
    val sketchRows = spark.read.parquet(s"$idx/v1/sketches").count()
    val replay = Dedup.nearDupSuppressAndIndex(batch, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replay == first)
    assert(indexedIds(idx) == afterFirst)
    assert(spark.read.parquet(s"$idx/v1/sketches").count() == sketchRows)
    assert(spark.read.parquet(s"$idx/v1/bands")
      .groupBy("doc_id").count().filter(col("count") > 16).isEmpty)
  }

  test("streaming wrapper == sequential batch replay") {
    val idxStream = freshIndex()
    val idxBatch = freshIndex()
    val out = Files.createTempDirectory("graft-ndstream-out").toString
    val ckpt = Files.createTempDirectory("graft-ndstream-ckpt").toString
    val b1 = Seq(1L -> words("corpus"), 5L -> words("pair"),
      6L -> words("pair"), 20L -> words("unique"))
    val b2 = Seq(30L -> words("pair"), 31L -> words("fresh"))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = Dedup.nearDupSuppressStream(
      ms.toDF().toDF("doc_id", "text"), idxStream, s"$out/kept", ckpt)
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(s"$out/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val replayed = Seq(b1, b2).flatMap(b =>
      Dedup.nearDupSuppressAndIndex(docsDF(b: _*), idxBatch)
        .select("doc_id").collect().map(_.getLong(0))).toSet
    assert(streamed == replayed)
    assert(indexedIds(idxStream) == indexedIds(idxBatch))
  }

  test("in-stream compaction: identical results, one file per band dir") {
    val idx = freshIndex()
    val out = Files.createTempDirectory("graft-ndstream-out").toString
    val ckpt = Files.createTempDirectory("graft-ndstream-ckpt").toString
    val b1 = Seq(1L -> words("corpus"), 5L -> words("pair"),
      6L -> words("pair"), 20L -> words("unique"))
    val b2 = Seq(30L -> words("pair"), 31L -> words("fresh"))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = Dedup.nearDupSuppressStream(
      ms.toDF().toDF("doc_id", "text"), idx, s"$out/kept", ckpt,
      compactEveryBatches = 1)
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(s"$out/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == Set(5L, 20L, 31L))
    assert(indexedIds(idx) == Set(100L, 5L, 20L, 31L))
    // compaction swapped in a version dir, and every band partition of
    // the current version holds exactly one parquet file
    val root = graft.api.VersionedIndex.resolveRoot(spark, idx)
    assert(root != s"$idx/v1")
    val bandDirs = new java.io.File(s"$root/bands").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("band="))
    assert(bandDirs.nonEmpty)
    bandDirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"band dir ${d.getName} not compacted to one file")
    }
  }

  test("in-stream ledger vacuum: marker count stays bounded across batches") {
    val idx = freshIndex()
    val out = Files.createTempDirectory("graft-ndvac-out").toString
    val ckpt = Files.createTempDirectory("graft-ndvac-ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = Dedup.nearDupSuppressStream(
      ms.toDF().toDF("doc_id", "text"), idx, s"$out/kept", ckpt,
      compactEveryBatches = 1, ledgerKeepLast = 2)
    try {
      (0 until 5).foreach { i =>
        ms.addData(Seq((1000L + i) -> words(s"batch$i")))
        q.processAllAvailable()
      }
    } finally q.stop()
    // without the vacuum hook the ledger holds one done marker per
    // batch forever (5 here); the hook caps it at ledgerKeepLast
    val done = new java.io.File(s"$idx/_appends").listFiles()
      .count(_.getName.endsWith(".done"))
    assert(done == 2, s"expected 2 done markers after vacuum, got $done")
    // results unaffected: every unique doc survived and was indexed
    assert((1000L until 1005L).toSet.subsetOf(indexedIds(idx)))
  }

  // --- embedding-space mirror: Similarity.semanticSuppressAndIndex ---

  private def vec(axis: Int): Array[Float] = {
    val v = new Array[Float](8); v(axis) = 1.0f; v
  }

  private def freshIvf(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-semstream-spec").toString
    graft.api.Similarity.buildIvfIndex(
      Seq((100L, vec(0))).toDF("vec_id", "embedding"), s"$dir/index",
      cells = 1)
    s"$dir/index"
  }

  private def ivfIds(idx: String): Set[Long] = {
    val root = graft.api.VersionedIndex.resolveRoot(spark, idx)
    spark.read.parquet(s"$root/vectors").select("vec_id")
      .collect().map(_.getLong(0)).toSet
  }

  test("semantic suppress: index flag, lower-id rule, null passthrough, replay no-op") {
    import spark.implicits._
    val idx = freshIvf()
    val batch = Seq(
      1L -> vec(0), // copy of the indexed vector -> flagged
      5L -> vec(1), 6L -> vec(1), // within-batch pair -> keep 5
      20L -> vec(2), // novel -> kept
      30L -> (null: Array[Float])) // no evidence -> passes, unindexed
      .toDF("vec_id", "embedding")
    def run() = graft.api.Similarity
      .semanticSuppressAndIndex(batch, idx, threshold = 0.9, nprobe = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(run() == Set(5L, 20L, 30L))
    assert(ivfIds(idx) == Set(100L, 5L, 20L))
    // replay: same survivors, no index growth, no duplicate rows
    assert(run() == Set(5L, 20L, 30L))
    val root = graft.api.VersionedIndex.resolveRoot(spark, idx)
    assert(spark.read.parquet(s"$root/vectors").count() == 3)
    // a later batch: copy of a prior survivor flags via the index
    val kept2 = graft.api.Similarity.semanticSuppressAndIndex(
        Seq(40L -> vec(1), 41L -> vec(3)).toDF("vec_id", "embedding"),
        idx, threshold = 0.9, nprobe = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(41L))
  }

  test("semanticSuppressExplain: verdicts match the real pass, null evidence for kept, dry-run") {
    import spark.implicits._
    val idx = freshIvf()
    val batch = Seq(
      1L -> vec(0), // index_dup, match 100
      5L -> vec(1), 6L -> vec(1), // 5 kept, 6 batch_dup(5)
      20L -> vec(2), // kept
      30L -> (null: Array[Float])) // no evidence -> kept
      .toDF("vec_id", "embedding")
    val explained = graft.api.Similarity
      .semanticSuppressExplain(batch, idx, threshold = 0.9, nprobe = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(explained(1L) == ("index_dup", 100L))
    assert(explained(5L) == ("kept", -1L))
    assert(explained(6L) == ("batch_dup", 5L))
    assert(explained(20L) == ("kept", -1L))
    assert(explained(30L) == ("kept", -1L))
    assert(ivfIds(idx) == Set(100L)) // dry-run: index untouched
    val kept = graft.api.Similarity.semanticSuppressAndIndex(
        batch, idx, threshold = 0.9, nprobe = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == explained.collect { case (id, ("kept", _)) => id }.toSet)
  }

  test("semantic threshold boundary: raw cosine just UNDER t that rounds to t still flags") {
    import spark.implicits._
    // cos(a, b) = 0.8999996214... ∈ (t − 5e-7, t): strictly below the
    // 0.9 threshold unrounded, but rounds HALF_UP at 6 decimals to
    // exactly 0.900000 — the contract thresholds the ROUNDED cosine,
    // so this pair MUST flag. Regression net for the roundedAtLeast
    // pre-filter: a margin tighter than 5e-7 would silently drop it.
    val b = Array(0.8999996185302734f, 0.43589067459106445f)
    val a = Array(1.0f, 0.0f)
    val dir = java.nio.file.Files.createTempDirectory("graft-sem-edge").toString
    graft.api.Similarity.buildIvfIndex(
      Seq(100L -> b).toDF("vec_id", "embedding"), dir)
    val explained = graft.api.Similarity.semanticSuppressExplain(
        Seq(1L -> a).toDF("vec_id", "embedding"), dir, threshold = 0.9)
      .collect()
    assert(explained.length == 1)
    val r = explained.head
    assert(r.getString(1) == "index_dup",
      s"boundary pair must flag, got ${r.getString(1)}")
    assert(r.getDouble(3) == 0.9, s"score is the rounded grid value, got ${r.getDouble(3)}")
    // and the real pass agrees
    val kept = graft.api.Similarity.semanticSuppressAndIndex(
        Seq(2L -> a).toDF("vec_id", "embedding"), dir, threshold = 0.9)
    assert(kept.isEmpty)
    graft.api.Dedup.releaseMaterialized(kept)
  }

  test("semantic suppress streaming wrapper == sequential batch replay") {
    import spark.implicits._
    val idxStream = freshIvf()
    val idxBatch = freshIvf()
    val out = Files.createTempDirectory("graft-semstream-out").toString
    val ckpt = Files.createTempDirectory("graft-semstream-ckpt").toString
    val b1 = Seq(1L -> vec(0), 5L -> vec(1), 6L -> vec(1), 20L -> vec(2))
    val b2 = Seq(40L -> vec(1), 41L -> vec(3))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Array[Float])]
    val q = graft.api.Similarity.semanticSuppressStream(
      ms.toDF().toDF("vec_id", "embedding"), idxStream, s"$out/kept", ckpt,
      threshold = 0.9, nprobe = 1)
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(s"$out/kept")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val replayed = Seq(b1, b2).flatMap(b =>
      graft.api.Similarity.semanticSuppressAndIndex(
          b.toDF("vec_id", "embedding"), idxBatch,
          threshold = 0.9, nprobe = 1)
        .select("vec_id").collect().map(_.getLong(0))).toSet
    assert(streamed == replayed)
    assert(ivfIds(idxStream) == ivfIds(idxBatch))
  }

  test("mergeNearDupIndexes: A wins cross-dups; guards on shared ids and params") {
    val dir = Files.createTempDirectory("graft-ndmerge-spec").toString
    Dedup.buildNearDupIndex(
      docsDF(1L -> words("alpha"), 2L -> words("beta")), s"$dir/a")
    Dedup.buildNearDupIndex(
      docsDF(10L -> words("alpha"), 11L -> words("gamma")), s"$dir/b")
    val pairs = Dedup.crossIndexNearDupPairs(spark, s"$dir/a", s"$dir/b")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 10L)))
    val dropped =
      Dedup.mergeNearDupIndexes(spark, s"$dir/a", s"$dir/b", s"$dir/m")
    assert(dropped == 1L)
    assert(indexedIds(s"$dir/m") == Set(1L, 2L, 11L))
    // the merged index is immediately searchable: a copy of a B
    // survivor is flagged, a novel doc passes
    val kept = Dedup.nearDupAgainstIndex(
        docsDF(50L -> words("gamma"), 51L -> words("novel")), s"$dir/m")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(51L))
    // dedupAcross = false keeps both sides whole
    val dropped0 = Dedup.mergeNearDupIndexes(spark, s"$dir/a", s"$dir/b",
      s"$dir/m0", dedupAcross = false)
    assert(dropped0 == 0L)
    assert(indexedIds(s"$dir/m0") == Set(1L, 2L, 10L, 11L))
    // shared doc ids across inputs fail loudly
    Dedup.buildNearDupIndex(docsDF(1L -> words("other")), s"$dir/shared")
    assertThrows[IllegalArgumentException] {
      Dedup.mergeNearDupIndexes(spark, s"$dir/a", s"$dir/shared", s"$dir/x")
    }
    // param-mismatched inputs fail loudly, even without dedupAcross
    Dedup.buildNearDupIndex(docsDF(90L -> words("omega")), s"$dir/p8",
      hashes = 32, bands = 8)
    assertThrows[IllegalArgumentException] {
      Dedup.mergeNearDupIndexes(spark, s"$dir/a", s"$dir/p8", s"$dir/y",
        dedupAcross = false)
    }
  }

  test("hamming suppress: index flag, lower-id rule, replay no-op, streaming wrapper") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-hamstream-spec").toString
    val idx = s"$dir/index"
    Dedup.buildHammingIndex(Seq((100L, 0L)).toDF("doc_id", "sig"), idx)
    val batch = Seq((1L, 2L), // hamming 1 from indexed 0L -> flagged
      (5L, 0x00FF00FF00FF00FFL), (6L, 0x00FF00FF00FF00FEL), // pair -> keep 5
      (20L, 0x5555555555555555L)).toDF("doc_id", "sig")
    def run() = Dedup.hammingSuppressAndIndex(batch, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(run() == Set(5L, 20L))
    def members = spark.read.parquet(
        s"${graft.api.VersionedIndex.resolveRoot(spark, idx)}/chunks")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(members == Set(100L, 5L, 20L))
    val rows = spark.read.parquet(s"$idx/v1/chunks").count()
    assert(run() == Set(5L, 20L)) // replay: same survivors
    assert(spark.read.parquet(s"$idx/v1/chunks").count() == rows) // no growth
    // streaming wrapper with in-loop compaction
    val out = Files.createTempDirectory("graft-hamstream-out").toString
    val ckpt = Files.createTempDirectory("graft-hamstream-ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long)]
    val q = Dedup.hammingSuppressStream(
      ms.toDF().toDF("doc_id", "sig"), idx, s"$out/kept", ckpt,
      compactEveryBatches = 1)
    try {
      // 30 is hamming 1 from survivor 5's sig; 31 is far from all
      ms.addData(Seq(30L -> 0x00FF00FF00FF00FDL, 31L -> 0x3333333333333333L))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(s"$out/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(31L))
    assert(members == Set(100L, 5L, 20L, 31L))
    assert(graft.api.VersionedIndex.resolveRoot(spark, idx) != s"$idx/v1")
  }

  test("hammingSuppressExplain: verdicts match the real pass, lowest-distance evidence, dry-run") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-hamexplain-spec").toString
    val idx = s"$dir/index"
    Dedup.buildHammingIndex(Seq((100L, 0L)).toDF("doc_id", "sig"), idx)
    val batch = Seq((1L, 2L), (5L, 0x00FF00FF00FF00FFL),
      (6L, 0x00FF00FF00FF00FEL), (20L, 0x5555555555555555L))
      .toDF("doc_id", "sig")
    val explained = Dedup.hammingSuppressExplain(batch, idx)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(explained(1L) == ("index_dup", 100L))
    assert(explained(5L) == ("kept", -1L))
    assert(explained(6L) == ("batch_dup", 5L))
    assert(explained(20L) == ("kept", -1L))
    // dry-run: index untouched; the real pass enacts the verdicts
    assert(spark.read.parquet(s"$idx/v1/chunks").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(100L))
    val kept = Dedup.hammingSuppressAndIndex(batch, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == explained.collect { case (id, ("kept", _)) => id }.toSet)
  }

  test("suppressExplain: verdicts match the real pass, evidence correct, no side effects") {
    val idx = freshIndex()
    val batch = docsDF(
      1L -> words("corpus"), // index_dup, match 100
      5L -> words("pair"), 6L -> words("pair"), // 5 kept, 6 batch_dup(5)
      20L -> words("unique"))
    val explained = Dedup.nearDupSuppressExplain(batch, idx)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(explained(1L) == ("index_dup", 100L))
    assert(explained(5L) == ("kept", -1L))
    assert(explained(6L) == ("batch_dup", 5L))
    assert(explained(20L) == ("kept", -1L))
    // dry-run: the index did NOT grow
    assert(indexedIds(idx) == Set(100L))
    // the real pass enacts exactly the explained verdicts
    val kept = Dedup.nearDupSuppressAndIndex(batch, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == explained.collect { case (id, ("kept", _)) => id }.toSet)
  }

  test("re-merge onto a VERSIONED outPath commits a fresh version, not a dead legacy write") {
    val dir = Files.createTempDirectory("graft-ndmerge-ver").toString
    def p(n: String) = s"$dir/$n"
    Dedup.buildNearDupIndex(
      docsDF(1L -> words("alpha"), 2L -> words("beta")), p("a"))
    Dedup.buildNearDupIndex(
      docsDF(10L -> words("alpha"), 11L -> words("gamma")), p("b"))
    Dedup.mergeNearDupIndexes(spark, p("a"), p("b"), p("m"))
    // version the merged index (the compaction a stream would run)
    Dedup.compactNearDupIndex(spark, p("m"))
    val root1 = graft.api.VersionedIndex.resolveRoot(spark, p("m"))
    assert(root1 == s"${p("m")}/v2")
    // grow input B, re-merge: the result must be SERVED, not buried
    // behind the stale version
    Dedup.appendToNearDupIndex(docsDF(12L -> words("delta")), p("b"))
    Dedup.mergeNearDupIndexes(spark, p("a"), p("b"), p("m"))
    assert(indexedIds(p("m")) == Set(1L, 2L, 11L, 12L))
    assert(graft.api.VersionedIndex.resolveRoot(spark, p("m")) == s"${p("m")}/v3")
    // self-merge and shared-id guards on the Jaccard side too
    intercept[IllegalArgumentException](
      Dedup.mergeNearDupIndexes(spark, p("a"), p("b"), p("a")))
    Dedup.buildNearDupIndex(docsDF(1L -> words("zeta")), p("shared"))
    intercept[IllegalArgumentException](
      Dedup.crossIndexNearDupPairs(spark, p("a"), p("shared")).count())
  }

  test("append ledger: replay skips with NO index read; a crash window repairs exactly-once") {
    import graft.api.AppendLedger
    val idx = freshIndex()
    val batch = docsDF(5L -> words("pair"), 20L -> words("unique"))
    def counts(): (Long, Long) = (
      spark.read.parquet(s"$idx/v1/sketches").count(),
      spark.read.parquet(s"$idx/v1/bands").count())
    val (blind0, repair0, skip0) = (AppendLedger.blindAppends.get,
      AppendLedger.repairAppends.get, AppendLedger.skippedAppends.get)
    val first = Dedup.nearDupSuppressAndIndex(batch, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // fresh batch: the BLIND path — no have-set scan of the index
    assert(AppendLedger.blindAppends.get == blind0 + 1)
    assert(AppendLedger.repairAppends.get == repair0)
    val after = counts()
    // replay of a completed batch: the done marker short-circuits in
    // O(1) — neither the blind nor the repair path runs, so the index
    // is not scanned and nothing is written
    val replay = Dedup.nearDupSuppressAndIndex(batch, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replay == first)
    assert(AppendLedger.skippedAppends.get == skip0 + 1)
    assert(AppendLedger.blindAppends.get == blind0 + 1)
    assert(AppendLedger.repairAppends.get == repair0,
      "a clean replay must never pay the id-diff index scan")
    assert(counts() == after)
    // crash simulation: intent without done (a previous attempt died
    // inside its append window) — the replay takes the repair path and
    // heals to exactly-once rows
    val tok = AppendLedger.token(docsDF(5L -> words("pair"),
      20L -> words("unique")), "doc_id")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/_appends/$tok.done"), false)
    AppendLedger.begin(spark, idx, tok)
    val replay2 = Dedup.nearDupSuppressAndIndex(batch, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replay2 == first)
    assert(AppendLedger.repairAppends.get == repair0 + 1)
    assert(counts() == after, "the repair diff must re-append nothing")
    // the healed store passes its own integrity report
    val rep = Dedup.nearDupIndexIntegrity(spark, idx).head()
    assert(rep.getBoolean(2) && rep.getBoolean(3))
    // and a crash BEFORE any rows landed repairs by appending them all
    val b2 = docsDF(40L -> words("forty"))
    val tok2 = AppendLedger.token(b2, "doc_id")
    AppendLedger.begin(spark, idx, tok2)
    // the ledger view surfaces the crashed-in-window batch
    val mid = Dedup.suppressorAppendLedger(spark, idx)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(mid(tok2) == "intent")
    assert(mid(tok) == "done")
    val kept2 = Dedup.nearDupSuppressAndIndex(b2, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(40L))
    assert(AppendLedger.repairAppends.get == repair0 + 2)
    assert(indexedIds(idx).contains(40L))
    // ...and reads all-done once the replay completes
    val fin = Dedup.suppressorAppendLedger(spark, idx)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fin(tok2) == "done")
    assert(fin.values.forall(_ == "done"))
  }

  test("ledger vacuum keeps newest done markers and every intent marker") {
    import graft.api.AppendLedger
    val idx = freshIndex()
    // three completed batches, oldest first (mtime-ordered)
    val toks = Seq(
      docsDF(5L -> words("pair")),
      docsDF(20L -> words("unique")),
      docsDF(40L -> words("forty"))).map { b =>
      Dedup.nearDupSuppressAndIndex(b, idx)
      Thread.sleep(1100) // local-fs mtime granularity can be 1 s
      AppendLedger.token(b, "doc_id")
    }
    val crashed = AppendLedger.token(docsDF(60L -> words("sixty")), "doc_id")
    AppendLedger.begin(spark, idx, crashed)
    assert(Dedup.vacuumSuppressorAppendLedger(spark, idx, keepLast = 1) == 2L)
    val left = Dedup.suppressorAppendLedger(spark, idx)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(left == Map(toks.last -> "done", crashed -> "intent"),
      "only the two oldest done markers may vacuum; intent survives")
    // idempotent second pass
    assert(Dedup.vacuumSuppressorAppendLedger(spark, idx, keepLast = 1) == 0L)
  }

  test("hamming append ledger: replay skips, crash window repairs") {
    import spark.implicits._
    import graft.api.AppendLedger
    val dir = Files.createTempDirectory("graft-hamledger-spec").toString
    val idx = s"$dir/index"
    Dedup.buildHammingIndex(Seq((100L, 0L)).toDF("doc_id", "sig"), idx)
    val batch = Seq((5L, 0x00FF00FF00FF00FFL), (20L, 0x5555555555555555L))
      .toDF("doc_id", "sig")
    val (blind0, repair0, skip0) = (AppendLedger.blindAppends.get,
      AppendLedger.repairAppends.get, AppendLedger.skippedAppends.get)
    Dedup.hammingSuppressAndIndex(batch, idx)
    assert(AppendLedger.blindAppends.get == blind0 + 1)
    val rows = spark.read.parquet(s"$idx/v1/chunks").count()
    Dedup.hammingSuppressAndIndex(batch, idx) // replay -> skip
    assert(AppendLedger.skippedAppends.get == skip0 + 1)
    assert(AppendLedger.repairAppends.get == repair0)
    assert(spark.read.parquet(s"$idx/v1/chunks").count() == rows)
    // crash window -> (doc_id, chunk) diff against the full table, exactly-once rows
    val tok = AppendLedger.token(batch, "doc_id")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/_appends/$tok.done"), false)
    AppendLedger.begin(spark, idx, tok)
    Dedup.hammingSuppressAndIndex(batch, idx)
    assert(AppendLedger.repairAppends.get == repair0 + 1)
    assert(spark.read.parquet(s"$idx/v1/chunks").count() == rows)
    val rep = Dedup.hammingIndexIntegrity(spark, idx).head()
    assert(rep.getBoolean(2) && rep.getBoolean(3))
  }

  test("semantic within-batch pass is cell-keyed: exhaustive at nprobe = cells") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-semcell-spec").toString
    val idx = s"$dir/index"
    def v(x: Float, y: Float): Array[Float] = {
      val a = new Array[Float](8); a(0) = x; a(1) = y; a
    }
    // two tight axis clusters -> the 2-cell quantizer's centroids sit
    // near e0 and e1
    val corpus = Seq(100L -> v(1f, 0f), 101L -> v(0.99f, 0.01f),
      102L -> v(0f, 1f), 103L -> v(0.01f, 0.99f)).toDF("vec_id", "embedding")
    graft.api.Similarity.buildIvfIndex(corpus, idx, cells = 2)
    // a boundary-straddling near-pair: cos(5, 6) ≈ 0.999 but 5 assigns
    // to e0's cell and 6 to e1's; neither is within 0.9 of the corpus
    val batch = Seq(5L -> v(0.72f, 0.69f), 6L -> v(0.69f, 0.72f))
      .toDF("vec_id", "embedding")
    val exhaustive = graft.api.Similarity.semanticSuppressExplain(
        batch, idx, threshold = 0.9, nprobe = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(exhaustive(5L) == "kept")
    assert(exhaustive(6L) == "batch_dup",
      "at nprobe = cells the cell-keyed pass must still see cross-cell pairs")
    // at nprobe = 1 the straddling pair may be missed — the SAME
    // approximation contract the index flag pass has at nprobe < cells
    val narrow = graft.api.Similarity.semanticSuppressExplain(
        batch, idx, threshold = 0.9, nprobe = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(narrow(5L) == "kept")
    assert(narrow(6L) == "kept")
    // the real pass enacts the exhaustive verdicts
    val kept = graft.api.Similarity.semanticSuppressAndIndex(
        batch, idx, threshold = 0.9, nprobe = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(5L))
  }

  test("compactIvfIndex: one file per cell, identical results; in-stream hook") {
    import spark.implicits._
    val idx = freshIvf()
    val out = Files.createTempDirectory("graft-semstream-out2").toString
    val ckpt = Files.createTempDirectory("graft-semstream-ckpt2").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Array[Float])]
    val q = graft.api.Similarity.semanticSuppressStream(
      ms.toDF().toDF("vec_id", "embedding"), idx, s"$out/kept", ckpt,
      threshold = 0.9, nprobe = 1, compactEveryBatches = 1)
    try {
      ms.addData(Seq(1L -> vec(0), 5L -> vec(1))); q.processAllAvailable()
      ms.addData(Seq(6L -> vec(1), 20L -> vec(2))); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$out/kept")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(streamed == Set(5L, 20L))
    assert(ivfIds(idx) == Set(100L, 5L, 20L))
    // compaction versioned the index and left one file per cell dir
    val root = graft.api.VersionedIndex.resolveRoot(spark, idx)
    assert(root != s"$idx/v1")
    val cellDirs = new java.io.File(s"$root/vectors").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"cell dir ${d.getName} not compacted to one file")
    }
    // the compacted index still serves flag passes through its current version
    val kept = graft.api.Similarity.semanticSuppressAndIndex(
        Seq(40L -> vec(2), 41L -> vec(3)).toDF("vec_id", "embedding"),
        idx, threshold = 0.9, nprobe = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(41L))
  }
}
