package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions for the headline queries — the
  * plan-level guarantees the scale story depends on: broadcasts where a
  * side is small, no cartesian products outside the labelled
  * brute-force baseline, filter/column pushdown reaching the parquet
  * scans, and no single-partition window exchanges. */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q10 multiway join broadcasts dimensions, no product joins") {
    val p = plan("q10_multiway_join")
    assert(p.contains("BroadcastHashJoin"))
    // at sf0.001 every side fits the broadcast threshold; the scale
    // property asserted here is: all joins are hash equi-joins
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q02 filter/projection push into the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), "filters should reach the scan")
    assert(p.toLowerCase.contains("readschema"))
  }

  test("q23 has no single-partition window exchange") {
    val p = plan("q23_ntile_percent")
    assert(!p.contains("SinglePartition"),
      "global quartiles must not collapse to one partition")
  }

  // q44/q45/q48/q57/q183: the batch pair operators share the
  // suppressors' checkpoint-and-release discipline (r12), so their
  // outer frames dump as Scan ExistingRDD — their inner stages are
  // pinned probe-side in the "inner stages" section below.

  test("q47 brute-force baseline broadcasts the right side (no shuffle product)") {
    val p = plan("q47_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "all-pairs baseline should at least broadcast one side")
    assert(!p.contains("CartesianProduct"))
  }

  test("q162 semantic decontamination broadcasts the benchmark side") {
    val p = plan("q162_semantic_decontaminate")
    // corpus × broadcast(benchmark): the benchmark is the explicitly
    // broadcast fixed-size dim, so the corpus-scale side streams once
    // with no shuffle of corpus rows (BNLJ over the broadcast, the
    // q47-baseline physique) — a CartesianProduct would mean the
    // broadcast was lost and the corpus shuffles
    assert(p.contains("BroadcastNestedLoopJoin"),
      "benchmark side must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q55 as-of join is one keyed window, no range product") {
    val p = plan("q55_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "as-of must be union+window, not a range join product")
  }

  test("q73 salted join stays a hash equi-join on (key, salt)") {
    val p = plan("q73_salted_skew_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "salted join must remain a keyed equi-join")
  }

  // The corpus-sized sides (q44 prefix index, q48 verify joins, q57 cell
  // join, and the q47/q62 brute-force products) must NOT carry a user
  // broadcast hint: at 100 TB a forced broadcast of a corpus-sized side
  // OOMs the build side. AQE may still CHOOSE broadcast when the side
  // fits — the assertion is on the hint (analyzed plan), not the
  // strategy. q44/q48/q57 are checkpoint-materialized (r12), so their
  // hint check runs over the probed pre-checkpoint stages below.
  for (q <- Seq("q47_cosine_topk", "q62_embedding_neardup", "q61_tfidf"))
    test(s"$q carries no user broadcast hint on corpus-sized sides") {
      val analyzed =
        SparkEntry.queries(q)(spark, sf).queryExecution.analyzed.toString
      assert(!analyzed.contains("ResolvedHint"),
        s"$q must leave join-strategy choice to AQE")
    }

  test("q87 decontamination joins on shingle hashes, unhinted, no product") {
    val qe = SparkEntry.queries("q87_decontaminate")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "corpus×benchmark overlap must be a keyed equi-join")
    assert(!qe.analyzed.toString.contains("ResolvedHint"),
      "benchmark side broadcast is AQE's call, not a hint")
  }

  test("q90 bloom prefilter sits under the big side as a scalar filter") {
    val p = plan("q90_bloom_prefilter_join")
    assert(p.contains("might_contain"),
      s"the bloom filter must prune the big side:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q93 per-source cap runs on the bounded aggregator, not a window sort") {
    val p = plan("q93_cap_per_source")
    assert(!p.toLowerCase.contains("window"),
      "capPerKey must not sort each key's extent under a window")
    assert(p.contains("partial_firstkbysortkey") ||
      p.toLowerCase.contains("objecthashaggregate"),
      s"expected a partial typed aggregation:\n${p.take(3000)}")
  }

  test("q95 dup-gram profile is keyed aggregation + equi-joins, no product, no hint") {
    val qe = SparkEntry.queries("q95_dup_ngram_profile")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!qe.analyzed.toString.contains("ResolvedHint"))
  }

  test("q96 release pipeline composes into one plan of keyed joins, unhinted") {
    val qe = SparkEntry.queries("q96_release_pipeline")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "every stage boundary must be a keyed semi/anti/equi join")
    assert(!qe.analyzed.toString.contains("ResolvedHint"))
  }

  test("q103 BM25 ends in a bounded TakeOrdered, stats ride as a one-row join") {
    val p = plan("q103_bm25_search")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be bounded, not a global sort:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"))
    // the only nested-loop is the one-row stats frame joining the
    // matched docs — a corpus-sized product would be a regression
    assert(p.contains("HashAggregate"), "corpus stats must partially aggregate")
  }

  test("q104 paragraph dedup is keyed hash joins + aggregates, no product") {
    val qe = SparkEntry.queries("q104_paragraph_dedup")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "winner election and reassembly must stay keyed")
    assert(!qe.analyzed.toString.contains("ResolvedHint"))
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      "winner election must partially aggregate map-side")
  }

  test("q108 batch BM25 is keyed posting joins, query-partitioned window, unhinted") {
    val qe = SparkEntry.queries("q108_bm25_batch")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "postings x query-terms must join keyed on term")
    assert(!qe.analyzed.toString.contains("ResolvedHint"))
    assert(p.contains("row_number"), "per-query ranking is a keyed window")
  }

  test("q107 semantic dedup pairs only within cells — a keyed equi-join") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    // probe the operator's pair subtree shape via the public API: the
    // full query materializes edges eagerly, so assert on a small run
    val kept = graft.api.Similarity.semanticDedup(emb, cells = 4, threshold = 0.45)
    val p = kept.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"anti-join of survivors must be keyed:\n${p.take(2000)}")
  }

  test("ivfPqSearchIndex prunes code partitions and stays a keyed equi-join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-ivfpq").toString
    val emb = graft.core.Tables.embeddings(spark, sf)
    graft.api.Similarity.buildIvfPqIndex(emb, dir)
    // one query at nprobe=1 probes exactly one cell — the codes scan
    // must carry a cell partition filter (unprobed cell= dirs unread)
    val narrow = graft.api.Similarity.ivfPqSearchIndex(
      spark, dir, emb.limit(1), k = 3, nprobe = 1)
    val p = narrow.queryExecution.executedPlan.toString
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*\\].*"),
      s"codes scan must carry a cell partition filter:\n${p.take(4000)}")
    val full = graft.api.Similarity.ivfPqSearchIndex(spark, dir, emb, nprobe = 2)
    val fp = full.queryExecution.executedPlan.toString
    assert(!fp.contains("CartesianProduct") && !fp.contains("BroadcastNestedLoopJoin"),
      "ADC candidate join must be a keyed equi-join")
    assert(!full.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "no user broadcast hints — AQE chooses the strategy")
  }

  test("q109 normalization is one fused projection — no shuffle, no UDF") {
    val qe = SparkEntry.queries("q109_normalize_text")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "the normalize chain must stay native expressions")
    // the only exchange allowed is the final orderBy's range exchange
    assert(!p.contains("hashpartitioning"),
      s"a narrow per-row op must not hash-shuffle:\n${p.take(2000)}")
  }

  test("q110 corpus profile is ONE rollup aggregation over one scan") {
    val qe = SparkEntry.queries("q110_corpus_profile")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("Expand"), "rollup rides the expand operator")
    assert(!p.contains("Join"), "a one-pass report must not join")
    assert(p.sliding("FileScan".length).count(_ == "FileScan") == 1,
      "one scan of documents only")
  }

  test("q112 integrity profile joins KEY PROFILES, never the raw tables") {
    val qe = SparkEntry.queries("q112_integrity_profile")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // both sides aggregate to key counts BEFORE the single outer join:
    // the join's inputs are HashAggregates, not table scans
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "the key-profile join is an equi-join")
    assert(!qe.analyzed.toString.contains("ResolvedHint"))
  }

  test("q128 index near-dedup: keyed candidate join, anti-join exit, unhinted") {
    val qe = SparkEntry.queries("q128_neardup_index")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("LeftAnti"), "matched-id exclusion must be an anti-join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "band-bucket candidate generation must stay a keyed equi-join")
    assert(!qe.analyzed.toString.contains("ResolvedHint"),
      "index sides must stay unhinted — AQE picks the strategy")
  }

  test("q114 incremental dedup anti-joins on the fingerprint, keyed") {
    val qe = SparkEntry.queries("q114_incremental_dedup")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("LeftAnti"), "corpus exclusion must be an anti-join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!qe.analyzed.toString.contains("ResolvedHint"))
  }

  test("q115 shuffle rank never funnels through a single-partition window") {
    val qe = SparkEntry.queries("q115_deterministic_shuffle")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("rangepartitioning"),
      "the permutation sorts via a range exchange")
    assert(!p.contains("Window"),
      "the global rank must come from the two-pass zipWithIndex, not a window")
  }

  test("q122 span removal: keyed gram joins, per-doc windows, no products") {
    val qe = SparkEntry.queries("q122_span_removal")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "dup-gram marking and span re-attach must be keyed equi-joins")
    assert(!p.contains("SinglePartition"),
      "the interval merge windows partition by doc_id, never globally")
    assert(!qe.analyzed.toString.contains("ResolvedHint"))
  }

  test("q123 DSIR scoring: keyed feature joins; only the 1-row totals cross") {
    val qe = SparkEntry.queries("q123_dsir_weights")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "no shuffled product anywhere — the totals ride a 1-row broadcast")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), "count-table joins are equi-joins")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      "feature hashing stays native codegen'd expressions")
    assert(!qe.analyzed.toString.contains("ResolvedHint"))
  }

  test("q124 cluster sample: codegen'd assignment, per-cell windows only") {
    val qe = SparkEntry.queries("q124_cluster_sample")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "invariant stitching crosses only 1-row aggregates (broadcast)")
    assert(!p.contains("ScalaUDF"), "centroid distances are native vec_dot")
    // the contract's 1-row aggregates legitimately exchange to a single
    // partition; the WINDOWS must not — their exchange is keyed on cell
    assert(p.contains("hashpartitioning(cell"),
      "intra-cell ranking partitions by cell")
    assert(!p.matches("(?s).*Exchange SinglePartition[^\\n]*\\n[^\\n]*Window.*"),
      "no window rides a single-partition exchange")
    assert(!qe.analyzed.toString.contains("ResolvedHint"))
  }

  test("q139 per-domain cap: keyed window, codegen on, no single partition") {
    val qe = SparkEntry.queries("q139_domain_cap")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("hashpartitioning(domain"),
      "the cap window shuffles on the domain key only")
    assert(!p.contains("SinglePartition"),
      "no stage funnels the corpus through one partition")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      "URL canonicalization is built-in expressions, no UDF")
    // the staged-temp-column design exists to keep whole-stage codegen
    // compiling (the fused Column form blew janino's 64 KB limit) —
    // execute so AQE finalizes and the codegen wrappers are visible
    qe.toRdd.count()
    assert(qe.executedPlan.toString.contains("*("),
      "codegen stage markers must be present in the final adaptive plan")
    assert(!qe.analyzed.toString.contains("ResolvedHint"))
  }

  test("q142 boilerplate cut: keyed counts + anti join, unhinted, no product") {
    val qe = SparkEntry.queries("q142_boilerplate_lines")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the chrome table joins back on (group, line) — never a product")
    assert(p.contains("LeftAnti"), "survivors exit via an anti join")
    assert(!qe.analyzed.toString.contains("ResolvedHint"),
      "a mega-domain's chrome table outgrows a driver hint — stay unhinted")
    assert(!p.contains("ScalaUDF"))
  }

  test("q153 check suite: one scan-wide aggregation, keys-only anti join, no UDFs") {
    val qe = SparkEntry.queries("q153_quality_checks")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("LeftAnti"), "referential check exits via a keys-only anti join")
    assert(!p.contains("ScalaUDF"), "every check compiles to builtin aggregates")
    // the suite must not scan the child table once per check: the scan
    // count stays the distinct (table, check-family) frames, not O(checks)
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans <= 4, s"check suite fanned out to $scans scans")
  }

  test("q154 funnel: co-keyed step joins, never a product, no unkeyed window") {
    val p = plan("q154_event_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "each step joins survivors on the user key")
    assert(!p.contains("ScalaUDF"))
  }

  test("q155 triangle census: ordered two-hop equi-joins on data-sized sides") {
    val qe = SparkEntry.queries("q155_similarity_triangles")(spark, sf).queryExecution
    qe.toRdd.count() // localCheckpoint inside triangleStats needs execution
    val p = qe.executedPlan.toString
    // the only products are the final 1-row stat frames crossing —
    // candidate and triangle joins stay keyed
    assert(!p.contains("CartesianProduct"),
      "triangle two-hop joins must be hash equi-joins")
  }

  test("crossIndexSemanticPairs: cell-keyed cross-index join, never |A| x |B|") {
    import TestSpark.spark.implicits._
    def v(axis: Int): Array[Float] = {
      val a = new Array[Float](8); a(axis) = 1.0f; a
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-xsem").toString
    graft.api.Similarity.buildIvfIndex(
      Seq(1L -> v(0), 2L -> v(1)).toDF("vec_id", "embedding"), s"$dir/a", cells = 2)
    graft.api.Similarity.buildIvfIndex(
      Seq(10L -> v(0), 11L -> v(2)).toDF("vec_id", "embedding"), s"$dir/b", cells = 1)
    val p = graft.api.Similarity.crossIndexSemanticPairs(
        spark, s"$dir/a", s"$dir/b", threshold = 0.9, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cross-index candidates must join on the cell key:\n${p.take(2000)}")
  }

  // --- suppressor family INNER plan shapes (VERDICT r10 #4) ---
  // The suppressors localCheckpoint() every stage, so their returned
  // frames dump as `Scan ExistingRDD` — which is exactly how an
  // O(batch²) within-batch candidate join once shipped invisible to
  // this spec. Every suppressor stage now materializes through
  // PlanAudit.checkpoint; capturing the pre-checkpoint plans pins the
  // candidate stages (banded / cell-keyed / chunk-keyed equi-joins) of
  // the whole family: no BroadcastNestedLoopJoin, no CartesianProduct
  // anywhere in any stage. The index merges (q165/q166) materialize
  // their cross-index drop set through the same probe, which pins that
  // candidate join keyed too.
  private def capturedPlans(run: => Unit): Seq[String] =
    capturedBoth(run).map(_._1)

  /** (executedPlan, analyzed) of every PlanAudit-checkpointed stage. */
  private def capturedBoth(run: => Unit): Seq[(String, String)] = {
    val captured = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    graft.api.PlanAudit.probe =
      Some(df => captured.synchronized {
        captured += ((df.queryExecution.executedPlan.toString,
          df.queryExecution.analyzed.toString)); ()
      })
    try run finally graft.api.PlanAudit.probe = None
    captured.synchronized(captured.toSeq)
  }

  for (q <- Seq("q164_streaming_neardup_suppress",
      "q168_streaming_semantic_suppress", "q170_suppress_explain",
      "q171_semantic_suppress_explain", "q172_hamming_suppress",
      "q173_hamming_suppress_explain", "q165_merge_neardup_indexes",
      "q166_merge_hamming_indexes"))
    test(s"$q inner stages are keyed equi-joins — no product anywhere") {
      val plans = capturedPlans {
        SparkEntry.queries(q)(spark, sf).queryExecution.toRdd.count()
      }
      assert(plans.nonEmpty, "PlanAudit captured no stages — did the " +
        "suppressors stop routing through PlanAudit.checkpoint?")
      plans.foreach { p =>
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin"),
          s"$q stage regressed to a product join:\n${p.take(3000)}")
      }
    }

  // --- batch pair operators: same checkpoint discipline since r12, so
  // the same probe pins their inner candidate stages: keyed equi-joins
  // only, and NO user broadcast hint on a corpus-sized side (AQE may
  // still choose broadcast; the hint is what would OOM at 100 TB).
  // q47/q162's deliberate brute-force broadcasts are NOT in this list.
  for (q <- Seq("q44_near_dup_pairs", "q45_minhash_lsh",
      "q48_ann_hyperplane", "q57_ann_ivf", "q183_containment_pairs",
      "q194_containment_filter", "q195_containment_index"))
    test(s"$q inner stages: keyed equi-joins, no product, no broadcast hint") {
      val plans = capturedBoth {
        SparkEntry.queries(q)(spark, sf).queryExecution.toRdd.count()
      }
      assert(plans.nonEmpty, "PlanAudit captured no stages — did the " +
        "pair operators stop routing through PlanAudit.checkpoint?")
      plans.foreach { case (p, a) =>
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin"),
          s"$q stage regressed to a product join:\n${p.take(3000)}")
        assert(!a.contains("ResolvedHint"),
          s"$q must leave join-strategy choice to AQE")
      }
    }

  test("q44 pair verification partial-aggregates (probed inner stage)") {
    val plans = capturedPlans {
      SparkEntry.queries("q44_near_dup_pairs")(spark, sf)
        .queryExecution.toRdd.count()
    }
    assert(plans.exists(_.contains("HashAggregate")),
      "pair counting should partial-aggregate in some stage")
  }

  test("batch pair operators release every internal materialization") {
    // the r11 internal .cache()s pinned corpus-sized blocks for the
    // session with no release path (VERDICT r11 #2); now: consume the
    // result, releaseMaterialized, nothing stays pinned
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    for (q <- Seq("q44_near_dup_pairs", "q45_minhash_lsh",
        "q183_containment_pairs", "q194_containment_filter",
        "q195_containment_index")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.queryExecution.toRdd.count()
      graft.api.Dedup.releaseMaterialized(df)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"$q left pinned storage after consume + releaseMaterialized: " +
          spark.sparkContext.getPersistentRDDs.keys.mkString(","))
    }
  }

  test("q178 hybrid RRF: broadcast query side, keyed fusion, no cartesian") {
    val p = plan("q178_hybrid_rrf")
    // dense pass: corpus x broadcast(queries) — the fixed-size query
    // table is the broadcast side, so the corpus streams once
    assert(p.contains("BroadcastNestedLoopJoin"), "query side must broadcast")
    assert(!p.contains("CartesianProduct"),
      "a CartesianProduct means a broadcast was lost and a corpus side shuffles")
  }

  test("q180 weighted interleave: one stratum-keyed window, no join, no single partition") {
    val p = plan("q180_weighted_interleave")
    assert(p.contains("Window"), "WFQ rn must be a window, not a self-join")
    assert(!p.contains("Join"), "the weight lookup is a projection, never a join")
    // the operator itself introduces no SinglePartition exchange; the
    // fixture's global orderBy is a range exchange (rangepartitioning)
    assert(!p.contains("SinglePartition"))
  }

  test("q184 corpus diff: one id-keyed full-outer join of fingerprint projections") {
    val p = plan("q184_corpus_diff")
    assert(p.contains("FullOuter"), "the diff is one full-outer id join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // text reduces to md5 BEFORE the join: no text column crosses the exchange
    assert(!p.contains("SinglePartition"))
  }

  test("q185/q189 drift: keyed bin-count aggs, feature-keyed windows, no product") {
    for (q <- Seq("q185_feature_drift", "q189_frozen_drift")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: edge/count joins must stay keyed")
      assert(!p.contains("SinglePartition"),
        s"$q: per-feature windows must not funnel to one partition")
    }
  }

  test("q187 label propagation outer frame: keyed joins only, no product") {
    val p = plan("q187_label_propagation")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q188/q190 tagging projections introduce no shuffle before the final sort") {
    for (q <- Seq("q188_link_extraction", "q190_write_expectations")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q is join-free")
      // exactly the output-ordering exchange, nothing operator-induced
      assert(p.split("Exchange").length - 1 <= 1,
        s"$q must shuffle only for the final orderBy:\n${p.take(1500)}")
    }
  }

  test("q181 pagerank outer frame: keyed equi-joins only") {
    val p = plan("q181_trade_pagerank")
    // iterations live behind localCheckpoints (bounded lineage); the
    // degree/score assembly visible here must still be all keyed joins
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "degree profile + score join must be hash/sort-merge equi-joins")
  }

  // --- TVF == Scala-twin plan equality (VERDICT r12 #4): the SQL TVFs
  // resolve by RUNNING the same operator the Scala API runs, so their
  // physical stage sequences must be operator-identical — a session-
  // extension resolution change that altered plan shape would otherwise
  // be invisible (SqlSurfaceSpec checks only result equality, and the
  // outer frames of both forms dump as Scan ExistingRDD).

  /** Normalize run-varying tokens (expression/plan ids, stats) out of a
    * physical plan string so two runs of the same shape compare equal. */
  private def normalizePlan(p: String): String =
    p.replaceAll("#\\d+", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("Statistics\\([^)]*\\)", "Statistics(x)")
      .replaceAll("cachedrdd-\\d+", "cachedrdd-x")
      // Observation names are per-instance UUIDs (keepOne's convergence
      // sum rides a CollectMetrics node since r18)
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}",
        "uuid-x")

  private def tvfMatchesTwin(name: String)(api: => Unit)(sql: String): Unit = {
    val apiStages = capturedPlans(api).map(normalizePlan)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val tvfStages = capturedPlans { spark.sql(sql); () }.map(normalizePlan)
    GraftSparkExtensions.releaseTvfMaterialized(spark)
    assert(apiStages.nonEmpty, s"$name: API twin captured no stages")
    assert(tvfStages.length == apiStages.length,
      s"$name: TVF ran ${tvfStages.length} stages, API ${apiStages.length}")
    tvfStages.zip(apiStages).zipWithIndex.foreach { case ((t, a), i) =>
      assert(t == a,
        s"$name stage ${i + 1} diverged between TVF and API form:\n" +
          s"--- TVF ---\n${t.take(2000)}\n--- API ---\n${a.take(2000)}")
    }
  }

  test("graph/pair/containment TVF plans are operator-identical to their Scala twins") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    docs.createOrReplaceTempView("tvfplan_docs")
    tvfMatchesTwin("near_dup_pairs") {
      val d = graft.api.Dedup.nearDupPairsExact(docs, threshold = 0.6)
      graft.api.Dedup.releaseMaterialized(d)
    }("SELECT * FROM graft_near_dup_pairs('tvfplan_docs', 0.6)")

    val edges = Seq(1L -> 2L, 2L -> 3L, 4L -> 5L, 5L -> 1L, 7L -> 8L)
      .toDF("src", "dst")
    edges.createOrReplaceTempView("tvfplan_edges")
    tvfMatchesTwin("page_rank") {
      val d = graft.api.Graph.pageRank(edges, damping = 0.85, iters = 5)
      graft.api.Dedup.releaseMaterialized(d)
    }("SELECT * FROM graft_page_rank('tvfplan_edges', 0.85, 5)")
    tvfMatchesTwin("label_propagation") {
      val d = graft.api.Graph.labelPropagation(edges, iters = 4)
      graft.api.Dedup.releaseMaterialized(d)
    }("SELECT * FROM graft_label_propagation('tvfplan_edges', 4)")
    tvfMatchesTwin("connected_components") {
      val d = graft.api.Graph.connectedComponents(edges)
      graft.api.Dedup.releaseMaterialized(d)
    }("SELECT * FROM graft_connected_components('tvfplan_edges')")

    val idx = java.nio.file.Files
      .createTempDirectory("graft-tvfplan-ct").toString
    graft.api.Dedup.buildContainmentIndex(docs.filter("doc_id % 2 = 0"), idx)
    val fresh = docs.filter("doc_id % 2 = 1")
    fresh.createOrReplaceTempView("tvfplan_fresh")
    tvfMatchesTwin("containment_filter") {
      val d = graft.api.Dedup.containmentFilterAgainstIndex(fresh, idx)
      graft.api.Dedup.releaseMaterialized(d)
    }(s"SELECT * FROM graft_containment_filter('tvfplan_fresh', '$idx')")

    // commit_log moved to the materializing family (r15): rows + live
    // flags now derive from ONE localCheckpoint'd marker scan (ADVICE
    // r14 consistency fix), so the pin compares the captured
    // pre-checkpoint stage plans like every other materializing TVF.
    val clog = java.nio.file.Files
      .createTempDirectory("graft-tvfplan-clog").toString
    graft.ingest.Ingest.runBatchCommitted(spark,
      graft.ingest.IngestConfig(outputPath = Some(clog), parallelism = 2,
        buckets = 2), 200, batches = 2)
    graft.ingest.Compact.compact(spark, clog)
    tvfMatchesTwin("commit_log") {
      val d = graft.core.Tables.commitLog(spark, clog)
      graft.api.Dedup.releaseMaterialized(d)
    }(s"SELECT * FROM graft_commit_log('$clog')")
    // and the one-snapshot liveness algebra matches the fold liveTokens
    // runs (live = protocol marker ∉ any compaction's superseded list)
    locally {
      val root = new org.apache.hadoop.fs.Path(clog)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val expected = graft.core.Tables.liveTokens(fs, root)
      val d = graft.core.Tables.commitLog(spark, clog)
      val got = d.filter(org.apache.spark.sql.functions.col("live"))
        .select("token").collect().map(_.getString(0)).toSet
      graft.api.Dedup.releaseMaterialized(d)
      assert(got == expected,
        s"commitLog live set $got != liveTokens fold $expected")
    }
  }

  // --- non-materializing TVF == Scala-twin plan equality (VERDICT r13
  // #8): the profiling/commit-log TVFs return LAZY plans (no
  // checkpoint stages to probe), so the pin compares the full physical
  // plan of the SELECT against the Scala twin's — identical modulo
  // run-varying ids.
  test("profiling/commit-log TVF plans are operator-identical to their Scala twins") {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    def physical(df: org.apache.spark.sql.DataFrame): String = normalizePlan(
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    def pin(name: String, sql: String,
            twin: org.apache.spark.sql.DataFrame): Unit = {
      val viaSql = physical(spark.sql(sql))
      val viaApi = physical(twin)
      assert(viaSql == viaApi,
        s"$name diverged between TVF and API form:\n--- TVF ---\n" +
          s"${viaSql.take(2000)}\n--- API ---\n${viaApi.take(2000)}")
    }
    val docs = graft.core.Tables.documents(spark, sf)
    docs.createOrReplaceTempView("tvfplan_prof_docs")
    pin("column_profile",
      "SELECT * FROM graft_column_profile('tvfplan_prof_docs', 'lang,n_chars')",
      graft.api.Profiling.columnProfile(
        spark.table("tvfplan_prof_docs"), Seq("lang", "n_chars")))
    import graft.api.Profiling.Check
    pin("run_checks",
      "SELECT * FROM graft_run_checks('tvfplan_prof_docs', " +
        "'not_null:lang;unique:doc_id;in_range:n_chars:0:100000')",
      graft.api.Profiling.runChecks(spark.table("tvfplan_prof_docs"),
        Seq(Check.NotNull("lang"), Check.Unique(Seq("doc_id")),
          Check.InRange("n_chars", 0, 100000))))
    // (commit_log moved to the materializing-TVF test above — its rows
    // and live flags now come from one checkpointed marker scan)
    pin("redact_pii",
      "SELECT * FROM graft_redact_pii('tvfplan_prof_docs', 'text', 'email,ip')",
      graft.api.Curation.redactPii(
        spark.table("tvfplan_prof_docs"), "text", Seq("email", "ip")))
    // feature_drift + funnel (VERDICT r14 #7): both lazy TVFs, full
    // physical-plan equality against their Profiling twins
    val halfA = docs.filter(col("doc_id") % 2 === 0)
    val halfB = docs.filter(col("doc_id") % 2 === 1)
    halfA.createOrReplaceTempView("tvfplan_drift_ref")
    halfB.createOrReplaceTempView("tvfplan_drift_cur")
    pin("feature_drift",
      "SELECT * FROM graft_feature_drift('tvfplan_drift_ref', " +
        "'tvfplan_drift_cur', 'n_chars,doc_id', 8)",
      graft.api.Profiling.featureDrift(
        spark.table("tvfplan_drift_ref"), spark.table("tvfplan_drift_cur"),
        Seq("n_chars", "doc_id"), bins = 8))
    val fev = graft.core.Tables.events(spark, sf)
    fev.createOrReplaceTempView("tvfplan_funnel_ev")
    pin("funnel",
      "SELECT * FROM graft_funnel('tvfplan_funnel_ev', 'user_id', 'ts', " +
        "'event_type', 'signup,view,click')",
      graft.api.Profiling.funnel(spark.table("tvfplan_funnel_ev"),
        "user_id", "ts", "event_type", Seq("signup", "view", "click")))
    // snapshot TVFs (r15): lazy manifest-backed frames — plan equality
    // against the committedViewAsOf/Delta twins proves the SQL surface
    // rides the SAME GraftCommitFileIndex, no reader-path fork
    val snapDir = java.nio.file.Files
      .createTempDirectory("graft-tvfplan-snap").toString
    graft.ingest.Ingest.runBatchCommitted(spark,
      graft.ingest.IngestConfig(outputPath = Some(snapDir), parallelism = 2,
        buckets = 2), 300, batches = 3)
    pin("snapshot",
      s"SELECT * FROM graft_snapshot('$snapDir', 1)",
      graft.core.Tables.committedViewAsOf(spark, snapDir, 1))
    // AS-OF-timestamp (r16): after ts→batch resolution the read IS the
    // batch-addressed one — plan equality against BOTH the Scala twin
    // and the batch-N TVF pins that snapshot_at adds no reader fork
    pin("snapshot_at",
      s"SELECT * FROM graft_snapshot_at('$snapDir', ${System.currentTimeMillis()})",
      graft.core.Tables.committedViewAsOf(spark, snapDir, 2))
    pin("snapshot_at_vs_batch_tvf",
      s"SELECT * FROM graft_snapshot_at('$snapDir', ${System.currentTimeMillis()})",
      spark.sql(s"SELECT * FROM graft_snapshot('$snapDir', 2)"))
    pin("snapshot_delta_at",
      s"SELECT * FROM graft_snapshot_delta_at('$snapDir', 0, ${System.currentTimeMillis()})",
      graft.core.Tables.committedViewDelta(spark, snapDir, Long.MinValue, 2))
    pin("snapshot_delta",
      s"SELECT * FROM graft_snapshot_delta('$snapDir', 0, 2)",
      graft.core.Tables.committedViewDelta(spark, snapDir, 0, 2))
    pin("table",
      s"SELECT * FROM graft_table('$snapDir')",
      graft.core.Tables.committedView(spark, snapDir))
  }
}
