package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL face of the native expressions (GraftSparkExtensions):
  * every registered function is callable from `spark.sql`, produces
  * results bit-identical to its Column-API form (they are the same
  * Catalyst expressions), and rejects bad arity / non-literal
  * parameters at analysis time. */
class SqlSurfaceSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs = {
    val d = graft.core.Tables.documents(spark, sf)
    d.createOrReplaceTempView("docs_sql")
    d
  }
  private lazy val emb = {
    val e = graft.core.Tables.embeddings(spark, sf)
    e.createOrReplaceTempView("emb_sql")
    e
  }

  test("vec_dot from SQL matches the Column API bit-exactly") {
    emb
    val viaSql = spark.sql(
      """SELECT a.vec_id, vec_dot(a.embedding, a.embedding) AS d
        |FROM emb_sql a ORDER BY vec_id LIMIT 50""".stripMargin).collect()
    val viaCol = {
      import org.apache.spark.sql.functions._
      emb.select(col("vec_id"),
          graft.functions.VectorFunctions.dot(col("embedding"), col("embedding")).as("d"))
        .orderBy("vec_id").limit(50).collect()
    }
    assert(viaSql.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      viaCol.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("text sketch functions from SQL match the Column API") {
    docs
    val viaSql = spark.sql(
      """SELECT doc_id, simhash64(lower(text)) AS sh,
        |       min_shingle_hash(lower(text), 3) AS fp,
        |       minhashes(lower(text), 3, 4) AS mh,
        |       size(distinct_shingle_hashes(lower(text), 3)) AS ns
        |FROM docs_sql ORDER BY doc_id LIMIT 30""".stripMargin).collect()
    val viaCol = {
      import org.apache.spark.sql.functions._
      import graft.functions.TextFunctions._
      docs.select(col("doc_id"),
          simHash64(lower(col("text"))).as("sh"),
          minShingleHash(lower(col("text")), 3).as("fp"),
          minHashes(lower(col("text")), 3, 4).as("mh"),
          size(distinctShingleHashes(lower(col("text")), 3)).as("ns"))
        .orderBy("doc_id").limit(30).collect()
    }
    assert(viaSql.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3), r.getInt(4))).toSeq ==
      viaCol.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3), r.getInt(4))).toSeq)
    // the DSIR feature extraction: SQL form lowercases like the
    // Column form (Lower is composed INSIDE the registered builder)
    val gSql = spark.sql(
      """SELECT hashed_gram_features(text) AS g FROM docs_sql
        |ORDER BY doc_id LIMIT 20""".stripMargin)
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    val gCol = {
      import org.apache.spark.sql.functions._
      docs.select(graft.functions.TextFunctions
          .hashedGramFeatures(col("text")).as("g"), col("doc_id"))
        .orderBy("doc_id").limit(20)
        .collect().map(_.getSeq[String](0).toSeq).toSeq
    }
    assert(gSql == gCol)
  }

  test("a pure-SQL near-dup pipeline runs on the registered functions") {
    docs
    // LSH-style banding written entirely in SQL — the engine surface a
    // SQL-only user gets
    val pairs = spark.sql(
      """WITH sk AS (
        |  SELECT doc_id, minhashes(lower(text), 3, 8) AS mh FROM docs_sql),
        |bands AS (
        |  SELECT doc_id, b, hash(mh[b*2], mh[b*2+1]) AS bkey
        |  FROM sk LATERAL VIEW explode(sequence(0, 3)) AS b)
        |SELECT a.doc_id AS da, c.doc_id AS db
        |FROM bands a JOIN bands c
        |  ON a.b = c.b AND a.bkey = c.bkey AND a.doc_id < c.doc_id
        |GROUP BY 1, 2""".stripMargin)
    assert(pairs.count() > 0, "fixture corpus contains planted near-dups")
  }

  test("bad arity and non-literal parameters fail at analysis time") {
    docs
    intercept[Exception](spark.sql("SELECT vec_dot(embedding) FROM emb_sql"))
    intercept[Exception](
      spark.sql("SELECT min_shingle_hash(text, doc_id) FROM docs_sql"))
  }

  test("functions survive into a fresh session of the same builder config") {
    // newSession() shares the extensions-injected registry
    val s2 = spark.newSession()
    graft.core.Tables.documents(s2, sf).createOrReplaceTempView("d2")
    assert(s2.sql("SELECT simhash64(text) AS h FROM d2 LIMIT 1").count() == 1)
  }

  // --- suppressor explain TABLE functions (the q175 surface) ---

  test("graft_semantic_suppress_explain TVF matches the Scala API") {
    import spark.implicits._
    def vec(axis: Int): Array[Float] = {
      val v = new Array[Float](8); v(axis) = 1.0f; v
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-sqltvf-sem").toString
    val idx = s"$dir/index"
    graft.api.Similarity.buildIvfIndex(
      Seq((100L, vec(0))).toDF("vec_id", "embedding"), idx, cells = 1)
    Seq(1L -> vec(0), 5L -> vec(1), 6L -> vec(1), 20L -> vec(2))
      .toDF("vec_id", "embedding")
      .createOrReplaceTempView("sem_tvf_batch")
    val viaSql = spark.sql("SELECT * FROM graft_semantic_suppress_explain(" +
        s"'sem_tvf_batch', '$idx', 0.9, 1) ORDER BY vec_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val viaApi = graft.api.Similarity.semanticSuppressExplain(
        spark.table("sem_tvf_batch"), idx, threshold = 0.9, nprobe = 1)
      .orderBy("vec_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(viaSql == viaApi)
    assert(viaSql.toMap.apply(6L) == "batch_dup")
  }

  test("graft_hamming_suppress_explain TVF matches the Scala API; dry-run") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sqltvf-ham").toString
    val idx = s"$dir/index"
    graft.api.Dedup.buildHammingIndex(
      Seq((100L, 0L)).toDF("doc_id", "sig"), idx)
    Seq((1L, 2L), (20L, 0x5555555555555555L)).toDF("doc_id", "sig")
      .createOrReplaceTempView("ham_tvf_batch")
    val viaSql = spark.sql(
        s"SELECT * FROM graft_hamming_suppress_explain('ham_tvf_batch', '$idx')" +
          " ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaSql == Seq(1L -> "index_dup", 20L -> "kept"))
    // a SQL SELECT must never grow the index
    assert(spark.read.parquet(s"$idx/v1/chunks").select("doc_id").distinct()
      .count() == 1)
  }

  test("graft_index_integrity and ledger TVFs: the SQL ops console") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sqltvf-ops").toString
    val idx = s"$dir/index"
    graft.api.Dedup.buildHammingIndex(
      Seq((100L, 0L)).toDF("doc_id", "sig"), idx)
    val rep = spark.sql(
      s"SELECT * FROM graft_index_integrity('hamming', '$idx')").head()
    assert(rep.getString(0) == "hamming" && rep.getLong(1) == 1L &&
      rep.getBoolean(2) && rep.getBoolean(3))
    // suppress one batch -> the ledger shows its done marker from SQL
    graft.api.Dedup.hammingSuppressAndIndex(
      Seq((5L, 0x5555555555555555L)).toDF("doc_id", "sig"), idx)
    val ledger = spark.sql(
      s"SELECT * FROM graft_suppressor_append_ledger('$idx')").collect()
    assert(ledger.length == 1 && ledger.head.getString(1) == "done")
    // the containment posting index reports through the same console
    val ct = s"$dir/ct"
    graft.api.Dedup.buildContainmentIndex(
      Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text"), ct)
    val ctRep = spark.sql(
      s"SELECT * FROM graft_index_integrity('containment', '$ct')").head()
    assert(ctRep.getString(0) == "containment" && ctRep.getLong(1) == 2L &&
      ctRep.getBoolean(2) && ctRep.getBoolean(3))
    // unknown kind fails loudly at analysis
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_index_integrity('bogus', '$idx')"))
    assert(e.getMessage.contains("neardup|hamming|ivf|containment"))
    // the Bloom tier reports through the same console
    graft.api.Dedup.buildSeenFilter(
      Seq(1L, 2L, 3L).toDF("id"), "id", s"$dir/seen", 1000L)
    val sf = spark.sql(
      s"SELECT shard, bits_set, est_ids FROM graft_seen_filter_stats('$dir/seen')")
      .head()
    assert(sf.getInt(0) == 0 && sf.getLong(1) > 0L && sf.getLong(2) == 3L)
  }

  test("suppress-explain TVFs reject non-literal paths and bad arity") {
    docs
    intercept[Exception](
      spark.sql("SELECT * FROM graft_suppress_explain('docs_sql')"))
    intercept[Exception](spark.sql(
      "SELECT * FROM graft_hamming_suppress_explain('a', 'b', 'c')"))
  }

  test("corpus-diff and feature-drift TVFs match their API twins") {
    import spark.implicits._
    Seq((1L, "same"), (2L, "gone")).toDF("doc_id", "text")
      .createOrReplaceTempView("snap_old")
    Seq((1L, "same"), (3L, "new")).toDF("doc_id", "text")
      .createOrReplaceTempView("snap_new")
    val viaSql = spark.sql(
      "SELECT doc_id, status FROM graft_corpus_diff('snap_old', 'snap_new') ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaSql == Seq((1L, "unchanged"), (2L, "removed"), (3L, "added")))
    Seq(1.0, 2.0, 3.0, 4.0).toDF("x").createOrReplaceTempView("drift_ref")
    Seq(1.0, 2.0, 3.0, 4.0).toDF("x").createOrReplaceTempView("drift_cur")
    val psi = spark.sql(
      "SELECT psi FROM graft_feature_drift('drift_ref', 'drift_cur', 'x', 4)")
      .head().getDouble(0)
    assert(psi == 0.0, "identical frames must score exactly 0")
    intercept[Exception](spark.sql(
      "SELECT * FROM graft_feature_drift('drift_ref', 'drift_cur')"))
  }

  test("graft_funnel TVF matches the Scala API") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val ev = Seq(
      (1L, "signup", ts(0)), (1L, "view", ts(5)), (1L, "click", ts(9)),
      (2L, "signup", ts(1)), (2L, "view", ts(2)),
      (3L, "view", ts(0)), (3L, "signup", ts(3)), // view BEFORE signup: no step-1
      (4L, "signup", ts(0)), (4L, "click", ts(1)) // skips view: no step-1
    ).toDF("user_id", "event_type", "ts")
    ev.createOrReplaceTempView("funnel_sql_ev")
    val viaSql = spark.sql(
      "SELECT step, event_type, users, sum_gap_micros, conv_from_prev " +
        "FROM graft_funnel('funnel_sql_ev', 'user_id', 'ts', 'event_type', " +
        "'signup,view,click') ORDER BY step").collect()
    val viaApi = graft.api.Profiling.funnel(ev, "user_id", "ts",
      "event_type", Seq("signup", "view", "click")).collect()
    assert(viaSql.toSeq == viaApi.toSeq)
    assert(viaSql.map(r => (r.getInt(0), r.getLong(2))).toSeq ==
      Seq((0, 4L), (1, 2L), (2, 1L)))
    intercept[Exception](spark.sql(
      "SELECT * FROM graft_funnel('funnel_sql_ev', 'user_id', 'ts', 'event_type')"))
  }

  test("snapshot/delta/pii-ledger TVFs: time travel + redaction ledger from SQL") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sqlsnap").toString
    graft.ingest.Ingest.runBatchCommitted(spark,
      graft.ingest.IngestConfig(outputPath = Some(dir), parallelism = 2,
        buckets = 2, redactPiiColumns = Seq("ip_address")), 900, batches = 3)
    def one(sql: String): Long = spark.sql(sql).head().getLong(0)
    assert(one(s"SELECT count(*) FROM graft_snapshot('$dir', 0)") == 300L)
    assert(one(s"SELECT count(*) FROM graft_snapshot('$dir', 2)") == 900L)
    assert(one(s"SELECT count(*) FROM graft_snapshot_delta('$dir', 0, 2)") == 600L)
    assert(one(s"SELECT count(*) FROM graft_snapshot_delta('$dir', 1, 1)") == 0L)
    // TVF == API, row-identical
    val viaApi = graft.core.Tables.committedViewAsOf(spark, dir, 1)
      .select("user_id").collect().map(_.getString(0)).sorted.toSeq
    val viaSql = spark.sql(
      s"SELECT user_id FROM graft_snapshot('$dir', 1)")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(viaSql == viaApi && viaSql.length == 600)
    // the redaction ledger: 3 batches, 300 ip redactions each
    val ip = spark.sql(
      s"""SELECT batch_token, n_redacted FROM graft_pii_ledger('$dir')
         |WHERE pii_type = 'ip' ORDER BY batch_token""".stripMargin).collect()
    assert(ip.map(_.getString(0)).toSeq == Seq("0", "1", "2"))
    assert(ip.map(_.getLong(1)).toSeq == Seq(300L, 300L, 300L))
    intercept[Exception](spark.sql(s"SELECT * FROM graft_snapshot('$dir')"))
    intercept[Exception](spark.sql("SELECT * FROM graft_pii_ledger()"))
    // the current committed view itself: graft_table == committedView,
    // and a compaction changes neither rows nor the TVF's answer
    assert(one(s"SELECT count(*) FROM graft_table('$dir')") == 900L)
    graft.ingest.Compact.compact(spark, dir)
    assert(one(s"SELECT count(*) FROM graft_table('$dir')") == 900L)
    val apiRows = graft.core.Tables.committedView(spark, dir)
      .select("user_id").collect().map(_.getString(0)).sorted.toSeq
    val sqlRows = spark.sql(s"SELECT user_id FROM graft_table('$dir')")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(sqlRows == apiRows)
  }

  test("graft_snapshot_at: AS-OF-timestamp resolution, all literal forms, pre-history fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sqlsnapat").toString
    graft.ingest.Ingest.runBatchCommitted(spark,
      graft.ingest.IngestConfig(outputPath = Some(dir), parallelism = 2,
        buckets = 2), 900, batches = 3)
    // pin the three batch markers' commit stamps: batch i at (i+1)·1e6 ms
    val commits = new org.apache.hadoop.fs.Path(dir, "_commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 to 2).foreach(i => fs.setTimes(
      new org.apache.hadoop.fs.Path(commits, i.toString), (i + 1) * 1000000L, -1))
    def one(sql: String): Long = spark.sql(sql).head().getLong(0)
    // epoch-millis forms: mid-window and marker-stamp-inclusive
    assert(one(s"SELECT count(*) FROM graft_snapshot_at('$dir', 1500000)") == 300L)
    assert(one(s"SELECT count(*) FROM graft_snapshot_at('$dir', 2000000)") == 600L)
    assert(one(s"SELECT count(*) FROM graft_snapshot_at('$dir', 2999999)") == 600L)
    // string forms: 'yyyy-MM-dd HH:mm:ss' UTC and ISO instant
    assert(one(s"SELECT count(*) FROM graft_snapshot_at('$dir', '1970-01-01 00:50:00')") == 900L)
    assert(one(s"SELECT count(*) FROM graft_snapshot_at('$dir', '1970-01-01T00:33:20Z')") == 600L)
    // TIMESTAMP literal (Catalyst micros under the UTC session tz)
    assert(one(s"SELECT count(*) FROM graft_snapshot_at('$dir', TIMESTAMP '1970-01-01 00:25:00')") == 300L)
    // TVF == API == batch-addressed twin, row-identical
    val viaApi = graft.core.Tables.committedViewAt(spark, dir, 2500000L)
      .select("user_id").collect().map(_.getString(0)).sorted.toSeq
    val viaSql = spark.sql(s"SELECT user_id FROM graft_snapshot_at('$dir', 2500000)")
      .collect().map(_.getString(0)).sorted.toSeq
    val viaBatch = spark.sql(s"SELECT user_id FROM graft_snapshot('$dir', 1)")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(viaSql == viaApi && viaSql == viaBatch && viaSql.length == 600)
    // pre-history: loudly names the first commit, never an empty table
    val pre = intercept[IllegalArgumentException](
      spark.sql(s"SELECT count(*) FROM graft_snapshot_at('$dir', 999999)"))
    assert(pre.getMessage.contains("predates the first commit"))
    // garbage timestamp string: loud parse failure, not epoch-0
    val bad = intercept[IllegalArgumentException](
      spark.sql(s"SELECT count(*) FROM graft_snapshot_at('$dir', 'not-a-time')"))
    assert(bad.getMessage.contains("not a parseable timestamp"))
    // timestamp-addressed delta: window, pre-history-from (= snapshot),
    // empty window, and the to-before-history loud failure
    assert(one(s"SELECT count(*) FROM graft_snapshot_delta_at('$dir', 1500000, 2999999)") == 300L)
    assert(one(s"SELECT count(*) FROM graft_snapshot_delta_at('$dir', 500000, 1500000)") == 300L)
    assert(one(s"SELECT count(*) FROM graft_snapshot_delta_at('$dir', 2000000, 2000000)") == 0L)
    val deltaApi = graft.core.Tables
      .committedViewDeltaAt(spark, dir, 1500000L, 3500000L).count()
    assert(deltaApi == 600L)
    val preTo = intercept[IllegalArgumentException](
      spark.sql(s"SELECT count(*) FROM graft_snapshot_delta_at('$dir', 1000, 999999)"))
    assert(preTo.getMessage.contains("predates the first commit"))
  }

  test("sketch-table TVFs: heavy hitters, distinct, quantiles from SQL") {
    import spark.implicits._
    val rows = (1 to 300).map(i => ("p" + i % 2, "k" + i % 5, i.toDouble))
      .toDF("part", "key", "x")
    graft.api.Profiling.frequencySketches(rows, Seq("part"), "key",
      maxMapSize = 64).createOrReplaceTempView("fs_sql")
    val hh = spark.sql(
      "SELECT item, estimate FROM graft_heavy_hitters('fs_sql', 64) ORDER BY item")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh == Map("k0" -> 60L, "k1" -> 60L, "k2" -> 60L, "k3" -> 60L,
      "k4" -> 60L))
    graft.api.Profiling.cardinalitySketches(rows, Seq("part"), "key")
      .createOrReplaceTempView("cs_sql")
    val d = spark.sql("SELECT * FROM graft_estimate_distinct('cs_sql')")
      .head().getLong(0)
    assert(d == 5L, s"5 distinct keys, got $d")
    graft.api.Profiling.quantileSketches(rows, Seq("part"), "x")
      .createOrReplaceTempView("qs_sql")
    val med = spark.sql(
      "SELECT * FROM graft_estimate_quantiles('qs_sql', '0.5')")
      .collect()
    assert(med.length == 1 && math.abs(med.head.getDouble(0) - 150.0) < 10.0)
  }

  test("graft_ranking_metrics TVF matches the Scala API") {
    import spark.implicits._
    Seq((1, 10L, 1), (1, 20L, 2)).toDF("query_id", "doc_id", "rank")
      .createOrReplaceTempView("rk_sql")
    Seq((1, 20L)).toDF("query_id", "doc_id")
      .createOrReplaceTempView("qr_sql")
    val r = spark.sql(
      "SELECT * FROM graft_ranking_metrics('rk_sql', 'qr_sql', 2)").head()
    assert(r.getAs[Long]("hits") == 1L && r.getAs[Double]("recall_k") == 1.0 &&
      r.getAs[Double]("mrr") == 0.5 && r.getAs[Double]("ndcg_k") == 0.63093)
  }

  test("graph TVFs match the Scala API: page_rank, label_propagation, degree_profile") {
    import spark.implicits._
    // a 2-3 cycle with a dangling sink: exercises dangling-mass leak,
    // asymmetric degrees, and a non-trivial community split
    val edges = Seq(1L -> 2L, 2L -> 1L, 2L -> 3L, 4L -> 5L, 5L -> 4L)
      .toDF("src", "dst")
    edges.createOrReplaceTempView("graph_sql")
    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(collectMap(spark.sql(
        "SELECT node, score FROM graft_page_rank('graph_sql', 0.85, 5)")) ==
      collectMap(graft.api.Graph.pageRank(edges, damping = 0.85, iters = 5)))
    assert(collectMap(spark.sql(
        "SELECT node, label FROM graft_label_propagation('graph_sql', 4)")) ==
      collectMap(graft.api.Graph.labelPropagation(edges, iters = 4)))
    val prof = spark.sql(
      "SELECT node, out_deg, in_deg, dangling FROM " +
        "graft_degree_profile('graph_sql') ORDER BY node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(prof.toSeq == Seq((1L, 1L, 1L, false), (2L, 2L, 1L, false),
      (3L, 0L, 1L, true), (4L, 1L, 1L, false), (5L, 1L, 1L, false)))
    // defaults apply with table-only arity
    assert(spark.sql("SELECT * FROM graft_page_rank('graph_sql')").count() == 5)
  }

  test("graft_connected_components TVF matches the Scala API exactly") {
    import spark.implicits._
    val edges = Seq(5L -> 4L, 3L -> 4L, 3L -> 2L, 1L -> 2L, 9L -> 7L)
      .toDF("src", "dst")
    edges.createOrReplaceTempView("cc_sql")
    val viaSql = spark.sql(
      "SELECT node, component FROM graft_connected_components('cc_sql')")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val api = graft.api.Graph.connectedComponents(edges)
    val viaApi = api.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.api.Dedup.releaseMaterialized(api)
    assert(viaSql == viaApi && viaSql(5L) == 1L && viaSql(9L) == 7L)
  }

  test("graft_near_dup_pairs TVF matches the Scala API, threshold applies") {
    import spark.implicits._
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy cat", // near-dup of 1
      3L -> "completely different text with no shared shingles at all")
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("ndp_sql")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaSql = pairs(spark.sql(
      "SELECT doc_a, doc_b, jaccard FROM graft_near_dup_pairs('ndp_sql', 0.6)"))
    val api = graft.api.Dedup.nearDupPairsExact(docs, threshold = 0.6)
    val viaApi = pairs(api)
    graft.api.Dedup.releaseMaterialized(api)
    assert(viaSql == viaApi && viaSql.map(p => (p._1, p._2)) == Set((1L, 2L)))
    // default arity: threshold 0.8 excludes the 0.6-grade pair
    assert(spark.sql(
      "SELECT * FROM graft_near_dup_pairs('ndp_sql')").isEmpty)
  }

  test("graft_release_materialized unpins TVF checkpoint storage") {
    import spark.implicits._
    val docs = Seq(
      1L -> "a b c d e f g h", 2L -> "a b c d e f g x").toDF("doc_id", "text")
    docs.createOrReplaceTempView("rel_sql")
    // drain pins left by earlier TVF tests so the delta is this test's
    spark.sql("SELECT * FROM graft_release_materialized()").collect()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    spark.sql("SELECT * FROM graft_near_dup_pairs('rel_sql', 0.5)").collect()
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.nonEmpty,
      "the operator-backed TVF should pin checkpoint RDDs at resolution")
    val released = spark.sql(
      "SELECT released_rdds FROM graft_release_materialized()")
      .collect().head.getInt(0)
    assert(released >= pinned.size)
    assert((spark.sparkContext.getPersistentRDDs.keySet & pinned).isEmpty,
      "every RDD the TVF pinned must be unpersisted after release")
    // idempotent: a second release finds nothing
    assert(spark.sql("SELECT * FROM graft_release_materialized()")
      .collect().head.getInt(0) == 0)
  }

  test("graft_release_materialized leaves a lazy TVF's input checkpoint alone") {
    import org.apache.spark.sql.functions.col
    spark.sql("SELECT * FROM graft_release_materialized()").collect()
    // the caller's own checkpoint, read by a TVF that pins nothing
    val v = spark.range(100).select(col("id").cast("string").as("c")).localCheckpoint()
    v.createOrReplaceTempView("lazy_tvf_input")
    assert(spark.sql("SELECT * FROM graft_column_profile('lazy_tvf_input', 'c')")
      .collect().head.getAs[Long]("n_rows") == 100L)
    assert(spark.sql("SELECT released_rdds FROM graft_release_materialized()")
      .collect().head.getInt(0) == 0, "a lazy TVF registered its input's checkpoint")
    assert(spark.sql("SELECT count(*) FROM lazy_tvf_input").collect().head.getLong(0) == 100L)
    graft.api.Dedup.releaseMaterialized(v)
  }
}
