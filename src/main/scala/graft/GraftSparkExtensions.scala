package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType, StringType, TimestampType}

import graft.functions.expr._

/** SparkSessionExtensions hook: registers the engine's native Catalyst
  * expressions as SQL FUNCTIONS, so the whole surface is reachable from
  * `spark.sql(...)` — not just the Column/Dataset API. Same expression
  * objects as the `graft.functions` wrappers (TextFunctions /
  * VectorFunctions route through the identical case classes), so SQL
  * and DataFrame results are bit-identical and fuse into the same
  * codegen stages.
  *
  * Two ways to enable:
  *  - in code: `SparkSession.builder().withExtensions(new
  *    GraftSparkExtensions)` (what `Sessions.local` does);
  *  - by config, with no code at all: `--conf
  *    spark.sql.extensions=graft.GraftSparkExtensions` (the class is a
  *    zero-arg `SparkSessionExtensions => Unit`, the contract that
  *    conf expects).
  *
  * Registered: vec_dot(array<float>, array<float>),
  * min_shingle_hash(text, n), minhashes(text, n, k),
  * distinct_shingle_hashes(text, n), simhash64(text),
  * nfc_normalize(text). Arity and
  * literal-ness of the n/k parameters are checked at resolution time
  * (they parameterize one-pass primitive loops — a per-row value would
  * force re-planning per row, which no engine supports).
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftSparkExtensions.register(ext)
}

object GraftSparkExtensions {

  private def intLit(fn: String, arg: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got: $other")
  }

  private def arity(fn: String, n: Int, args: Seq[Expression]): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$fn expects $n argument(s), got ${args.length}")

  private def fd(name: String, usage: String)(
      builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.functions.expr", null, name, usage, ""),
      builder)

  /** The function set, exposed for registration against either a
    * SparkSessionExtensions (builder path) or an existing session's
    * FunctionRegistry. */
  private val functions = Seq(
    fd("vec_dot", "vec_dot(a, b) - double dot product of two array<float> columns") { args =>
      arity("vec_dot", 2, args)
      FloatDotProduct(args(0), args(1))
    },
    fd("min_shingle_hash", "min_shingle_hash(text, n) - min hash over word n-shingles") { args =>
      arity("min_shingle_hash", 2, args)
      MinShingleHash(args(0), intLit("min_shingle_hash", "n", args(1)))
    },
    fd("minhashes", "minhashes(text, n, k) - k minhash values over word n-shingles") { args =>
      arity("minhashes", 3, args)
      MinHashes(args(0), intLit("minhashes", "n", args(1)),
        intLit("minhashes", "k", args(2)))
    },
    fd("distinct_shingle_hashes",
      "distinct_shingle_hashes(text, n) - sorted distinct word-n-shingle hashes") { args =>
      arity("distinct_shingle_hashes", 2, args)
      DistinctShingleHashes(args(0), intLit("distinct_shingle_hashes", "n", args(1)))
    },
    fd("simhash64", "simhash64(text) - 64-bit frequency-weighted simhash") { args =>
      arity("simhash64", 1, args)
      SimHash64(args(0))
    },
    fd("sorted_intersect_count",
      "sorted_intersect_count(a, b) - intersection size of two sorted distinct array<bigint> sets") { args =>
      arity("sorted_intersect_count", 2, args)
      SortedIntersectCount(args(0), args(1))
    },
    fd("nfc_normalize", "nfc_normalize(text) - Unicode NFC normalization") { args =>
      arity("nfc_normalize", 1, args)
      NfcNormalize(args(0))
    },
    fd("hashed_gram_features",
      "hashed_gram_features(text) - md5-bucketed lowercased unigram+bigram feature keys (DSIR)") { args =>
      arity("hashed_gram_features", 1, args)
      // lowercase via Spark's OWN Lower (not inside the expression):
      // UTF8String.toLowerCase applies Java's context-sensitive Greek
      // final-sigma rule, lower() does not — see HashedGramFeatures doc
      HashedGramFeatures(
        org.apache.spark.sql.catalyst.expressions.Lower(args(0)))
    })

  private def strLit(fn: String, arg: String, e: Expression): String = e match {
    case Literal(v, StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a string literal, got: $other")
  }

  /** Epoch-millis from a timestamp-ish literal: an int/long (epoch
    * millis), a TIMESTAMP literal (Catalyst micros), or a string —
    * ISO-8601 instant ("2026-08-16T12:00:00Z") or SQL timestamp
    * ("2026-08-16 12:00:00[.SSS]"), the space form resolved in the
    * SESSION timezone (ADVICE r16: a TIMESTAMP literal reaching here
    * as Catalyst micros was already session-tz-resolved, so the string
    * form must agree — a hard-coded UTC read would make the same
    * wall-clock text name two different instants in a non-UTC session;
    * graft sessions pin UTC, where the two readings coincide). */
  private def tsLit(fn: String, arg: String, e: Expression): Long = e match {
    case Literal(v: Long, TimestampType) => v / 1000L // micros → millis
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case Literal(v, StringType) if v != null =>
      val s = v.toString.trim
      try java.time.Instant.parse(s).toEpochMilli
      catch {
        case _: java.time.format.DateTimeParseException =>
          val sessionZone = java.time.ZoneId.of(
            org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
          try java.time.LocalDateTime
            .parse(s.replace(' ', 'T'))
            .atZone(sessionZone).toInstant.toEpochMilli
          catch {
            case _: java.time.format.DateTimeParseException =>
              throw new IllegalArgumentException(
                s"$fn: $arg is not a parseable timestamp: '$s' (want epoch " +
                  "millis, ISO-8601 instant, or 'yyyy-MM-dd HH:mm:ss' in " +
                  "the session timezone)")
          }
      }
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a timestamp, epoch-millis, or string literal, got: $other")
  }

  private def dblLit(fn: String, arg: String, e: Expression): Double = e match {
    case Literal(v: Double, DoubleType) => v
    case Literal(v: org.apache.spark.sql.types.Decimal, _: DecimalType) =>
      v.toDouble
    case Literal(v: Int, IntegerType) => v.toDouble
    case Literal(v: Long, LongType) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a numeric literal, got: $other")
  }

  /** Session-scoped registry of the checkpoint RDDs pinned by TVF
    * results (ADVICE r12): several table functions route through
    * operators that EAGERLY execute and localCheckpoint at function
    * RESOLUTION time — the price of exposing whole operators as SQL
    * (a TVF must hand Catalyst a resolved plan; note this means
    * EXPLAIN, or defining a view over such a TVF, also executes the
    * operator). API callers release the pinned blocks via
    * [[graft.api.Dedup.releaseMaterialized]]; SQL callers have no
    * handle on the frame, so every SELECT would otherwise pin a
    * result-sized RDD block for the session's lifetime — a recurring
    * per-batch ops-console use of graft_containment_filter would
    * accumulate unbounded pinned storage. Each TVF call registers the
    * pins its own call made and left persisted (never a checkpoint its
    * input reads: a lazy TVF registers nothing); `SELECT * FROM
    * graft_release_materialized()` unpersists them all. Release only
    * AFTER consuming results: a checkpointed frame is not
    * recomputable once its blocks are dropped. */
  // Keyed by SparkContext, NOT SparkSession (ADVICE r13): persisted
  // RDD blocks live in the context, which cloned sessions
  // (newSession / streaming micro-batch sessions) share — keying by
  // session let a register-under-clone / release-under-active pair
  // miss each other, and a GC'd clone dropped its WeakHashMap entry
  // while its blocks stayed pinned in the shared context with no
  // remaining release handle.
  private val tvfPinned =
    new java.util.WeakHashMap[org.apache.spark.SparkContext,
      scala.collection.mutable.Set[Int]]()

  private def materialized(build: => org.apache.spark.sql.DataFrame): LogicalPlan = {
    val (df, made) = graft.api.PlanAudit.pinsDuring(build)
    val sc = df.sparkSession.sparkContext
    val ids = made.filter(sc.getPersistentRDDs.contains)
    if (ids.nonEmpty) tvfPinned.synchronized {
      tvfPinned.computeIfAbsent(sc, _ => scala.collection.mutable.Set.empty[Int]) ++= ids
    }
    df.queryExecution.logical
  }

  /** Unpersist every TVF-pinned checkpoint RDD of `spark`'s CONTEXT
    * that is still persisted; returns how many were released. */
  private[graft] def releaseTvfMaterialized(
      spark: org.apache.spark.sql.SparkSession): Int = {
    val sc = spark.sparkContext
    val ids = tvfPinned.synchronized {
      Option(tvfPinned.remove(sc)).map(_.toSeq).getOrElse(Seq.empty)
    }
    ids.count(id => sc.getPersistentRDDs.get(id) match {
      case Some(rdd) => rdd.unpersist(blocking = false); true
      case None => false
    })
  }

  private def tvf(name: String, usage: String)(
      builder: Seq[Expression] => org.apache.spark.sql.DataFrame) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.api", null, name, usage, ""),
      (args: Seq[Expression]) => materialized(builder(args)))

  /** SQL TABLE functions — the suppressor family's dry-run decision
    * tables for SQL-only users (`SELECT * FROM
    * graft_suppress_explain('batch_view', '/path/to/index')`): every
    * batch row's verdict (kept / index_dup / batch_dup) with best-match
    * evidence, computed by the SAME operator the Scala API runs
    * ([[graft.api.Dedup.nearDupSuppressExplain]] and twins), so SQL and
    * API results are identical by construction. Dry-run ONLY — the
    * mutating suppress-and-index passes stay API-level, where the
    * caller owns the survivors' lifecycle; a SQL SELECT should never
    * grow an index as a side effect. The batch argument names a
    * table/view in the session catalog; index path and parameters must
    * be literals (they resolve before planning). */
  private val tableFunctions = Seq(
    tvf("graft_suppress_explain",
      "graft_suppress_explain(table, indexPath[, threshold]) - per-doc " +
        "near-dup suppression verdicts (Jaccard) against a persisted index" +
        "; materializes at resolution - release via graft_release_materialized()") { args =>
      require(args.length == 2 || args.length == 3,
        s"graft_suppress_explain expects (table, indexPath[, threshold]), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val batch = spark.table(strLit("graft_suppress_explain", "table", args(0)))
      val threshold = if (args.length > 2)
        dblLit("graft_suppress_explain", "threshold", args(2)) else 0.8
      graft.api.Dedup.nearDupSuppressExplain(batch,
        strLit("graft_suppress_explain", "indexPath", args(1)), threshold)
        
    },
    tvf("graft_semantic_suppress_explain",
      "graft_semantic_suppress_explain(table, indexPath[, threshold[, nprobe]]) - " +
        "per-vector cosine suppression verdicts against a persisted IVF index" +
        "; materializes at resolution - release via graft_release_materialized()") { args =>
      require(args.length >= 2 && args.length <= 4,
        "graft_semantic_suppress_explain expects (table, indexPath[, threshold[, nprobe]]), " +
          s"got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val batch = spark.table(
        strLit("graft_semantic_suppress_explain", "table", args(0)))
      val threshold = if (args.length > 2)
        dblLit("graft_semantic_suppress_explain", "threshold", args(2)) else 0.9
      val nprobe = if (args.length > 3)
        intLit("graft_semantic_suppress_explain", "nprobe", args(3)) else 2
      graft.api.Similarity.semanticSuppressExplain(batch,
        strLit("graft_semantic_suppress_explain", "indexPath", args(1)),
        threshold, nprobe)
    },
    tvf("graft_hamming_suppress_explain",
      "graft_hamming_suppress_explain(table, indexPath) - per-signature " +
        "hamming suppression verdicts against a persisted chunk index" +
        "; materializes at resolution - release via graft_release_materialized()") { args =>
      require(args.length == 2,
        s"graft_hamming_suppress_explain expects (table, indexPath), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val batch = spark.table(
        strLit("graft_hamming_suppress_explain", "table", args(0)))
      graft.api.Dedup.hammingSuppressExplain(batch,
        strLit("graft_hamming_suppress_explain", "indexPath", args(1)))
        
    },
    tvf("graft_index_integrity",
      "graft_index_integrity(kind, path) - one-row integrity report " +
        "(n_docs, structure_ok, consistency_ok) for a persisted index; " +
        "kind in ('neardup', 'hamming', 'ivf', 'containment'); on an IVF+PQ " +
        "index consistency_ok also requires the codes half to hold exactly " +
        "the vectors half's ids, at the same cells") { args =>
      require(args.length == 2,
        s"graft_index_integrity expects (kind, path), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val path = strLit("graft_index_integrity", "path", args(1))
      (strLit("graft_index_integrity", "kind", args(0)) match {
        case "neardup" => graft.api.Dedup.nearDupIndexIntegrity(spark, path)
        case "hamming" => graft.api.Dedup.hammingIndexIntegrity(spark, path)
        case "ivf" => graft.api.Similarity.ivfIndexIntegrity(spark, path)
        case "containment" =>
          graft.api.Dedup.containmentIndexIntegrity(spark, path)
        case other => throw new IllegalArgumentException(
          "graft_index_integrity: kind must be neardup|hamming|ivf|containment, " +
            s"got '$other'")
      })
    },
    tvf("graft_suppressor_append_ledger",
      "graft_suppressor_append_ledger(path) - (batch_token, state) append " +
        "ledger of a suppressor store; 'intent' rows are crashed-in-window " +
        "batches awaiting their repairing replay") { args =>
      require(args.length == 1,
        s"graft_suppressor_append_ledger expects (path), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      graft.api.Dedup.suppressorAppendLedger(spark,
        strLit("graft_suppressor_append_ledger", "path", args(0)))
        
    },
    tvf("graft_seen_filter_stats",
      "graft_seen_filter_stats(path) - per-shard saturation report of a " +
        "persisted Bloom seen filter (bit_size, bits_set, saturation, " +
        "fpp_now, est_ids); rebuild bigger once fpp_now crosses fpp") { args =>
      require(args.length == 1,
        s"graft_seen_filter_stats expects (path), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      graft.api.Dedup.seenFilterStats(spark,
        strLit("graft_seen_filter_stats", "path", args(0)))
        
    },
    tvf("graft_corpus_diff",
      "graft_corpus_diff(oldTable, newTable[, idCol, textCol]) - " +
        "content-level snapshot diff: one row per id with status " +
        "added|removed|changed|unchanged and both fingerprints") { args =>
      require(args.length == 2 || args.length == 4,
        s"graft_corpus_diff expects (oldTable, newTable[, idCol, textCol]), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val idCol = if (args.length > 2)
        strLit("graft_corpus_diff", "idCol", args(2)) else "doc_id"
      val textCol = if (args.length > 3)
        strLit("graft_corpus_diff", "textCol", args(3)) else "text"
      graft.api.Dedup.corpusDiff(
        spark.table(strLit("graft_corpus_diff", "oldTable", args(0))),
        spark.table(strLit("graft_corpus_diff", "newTable", args(1))),
        idCol, textCol)
    },
    tvf("graft_feature_drift",
      "graft_feature_drift(refTable, curTable, cols[, bins]) - " +
        "per-feature Population Stability Index of curTable against " +
        "refTable; cols is a comma-separated column list") { args =>
      require(args.length == 3 || args.length == 4,
        s"graft_feature_drift expects (refTable, curTable, cols[, bins]), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val cols = strLit("graft_feature_drift", "cols", args(2))
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val bins = if (args.length > 3)
        intLit("graft_feature_drift", "bins", args(3)) else 10
      graft.api.Profiling.featureDrift(
        spark.table(strLit("graft_feature_drift", "refTable", args(0))),
        spark.table(strLit("graft_feature_drift", "curTable", args(1))),
        cols, bins)
    },
    tvf("graft_funnel",
      "graft_funnel(eventsTable, userCol, tsCol, typeCol, steps) - " +
        "sequential funnel: per step-prefix reach (users who performed " +
        "the steps IN ORDER, each strictly after the previous), " +
        "conversion from the previous step, and the exact summed " +
        "time-to-convert in integer microseconds; steps is a " +
        "comma-separated event-type list") { args =>
      require(args.length == 5,
        s"graft_funnel expects (eventsTable, userCol, tsCol, typeCol, steps), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val steps = strLit("graft_funnel", "steps", args(4))
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      graft.api.Profiling.funnel(
        spark.table(strLit("graft_funnel", "eventsTable", args(0))),
        strLit("graft_funnel", "userCol", args(1)),
        strLit("graft_funnel", "tsCol", args(2)),
        strLit("graft_funnel", "typeCol", args(3)),
        steps)
    },
    tvf("graft_heavy_hitters",
      "graft_heavy_hitters(sketchTable[, maxMapSize]) - merge a persisted " +
        "Frequent-Items sketch table globally and report heavy hitters " +
        "with (lower, upper) bounds; NO_FALSE_NEGATIVES") { args =>
      require(args.length == 1 || args.length == 2,
        s"graft_heavy_hitters expects (sketchTable[, maxMapSize]), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val mms = if (args.length > 1)
        intLit("graft_heavy_hitters", "maxMapSize", args(1)) else 1024
      graft.api.Profiling.estimateHeavyHitters(
        spark.table(strLit("graft_heavy_hitters", "sketchTable", args(0))),
        Seq.empty, maxMapSize = mms)
    },
    tvf("graft_estimate_distinct",
      "graft_estimate_distinct(sketchTable) - merge a persisted HLL " +
        "sketch table globally and report the distinct estimate") { args =>
      require(args.length == 1,
        s"graft_estimate_distinct expects (sketchTable), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      graft.api.Profiling.estimateDistinct(
        spark.table(strLit("graft_estimate_distinct", "sketchTable", args(0))),
        Seq.empty)
    },
    tvf("graft_estimate_quantiles",
      "graft_estimate_quantiles(sketchTable, ranks) - merge a persisted " +
        "KLL sketch table globally and report the comma-separated ranks") { args =>
      require(args.length == 2,
        s"graft_estimate_quantiles expects (sketchTable, ranks), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val qs = strLit("graft_estimate_quantiles", "ranks", args(1))
        .split(',').map(_.trim).filter(_.nonEmpty).map(_.toDouble).toSeq
      graft.api.Profiling.estimateQuantiles(
        spark.table(strLit("graft_estimate_quantiles", "sketchTable", args(0))),
        Seq.empty, qs)
    },
    tvf("graft_ranking_metrics",
      "graft_ranking_metrics(rankedTable, qrelsTable[, k]) - per-query " +
        "recall@k/precision@k/MRR/nDCG@k of a (query_id, doc_id, rank) " +
        "table against binary qrels") { args =>
      require(args.length == 2 || args.length == 3,
        s"graft_ranking_metrics expects (rankedTable, qrelsTable[, k]), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val k = if (args.length > 2)
        intLit("graft_ranking_metrics", "k", args(2)) else 10
      graft.api.Retrieval.rankingMetrics(
        spark.table(strLit("graft_ranking_metrics", "rankedTable", args(0))),
        spark.table(strLit("graft_ranking_metrics", "qrelsTable", args(1))),
        k)
    },
    // The graph-curation console (VERDICT r11 #8): the same fixed-
    // iteration dynamics the Scala API runs ([[graft.api.Graph]]),
    // reachable from one SELECT. Edge tables carry (src, dst) — the
    // library contract; project/rename upstream in the view.
    tvf("graft_page_rank",
      "graft_page_rank(edgesTable[, damping, iters]) - fixed-iteration " +
        "PageRank over an (src, dst) edge table; dangling mass not " +
        "redistributed; scores at the 6-decimal output grain" +
        "; materializes at resolution - release via graft_release_materialized()") { args =>
      require(args.length >= 1 && args.length <= 3,
        s"graft_page_rank expects (edgesTable[, damping, iters]), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val damping = if (args.length > 1)
        dblLit("graft_page_rank", "damping", args(1)) else 0.85
      val iters = if (args.length > 2)
        intLit("graft_page_rank", "iters", args(2)) else 5
      graft.api.Graph.pageRank(
        spark.table(strLit("graft_page_rank", "edgesTable", args(0))),
        damping = damping, iters = iters)
    },
    tvf("graft_label_propagation",
      "graft_label_propagation(edgesTable[, iters]) - synchronous " +
        "label-propagation communities over an (src, dst) edge table " +
        "(self-vote, count-desc/min-label ties); output (node, label)" +
        "; materializes at resolution - release via graft_release_materialized()") { args =>
      require(args.length == 1 || args.length == 2,
        s"graft_label_propagation expects (edgesTable[, iters]), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val iters = if (args.length > 1)
        intLit("graft_label_propagation", "iters", args(1)) else 4
      graft.api.Graph.labelPropagation(
        spark.table(strLit("graft_label_propagation", "edgesTable", args(0))),
        iters = iters)
    },
    tvf("graft_degree_profile",
      "graft_degree_profile(edgesTable) - per-node out/in degree and " +
        "dangling flag of an (src, dst) edge table — the pre-flight " +
        "check for graft_page_rank's dangling-mass leak") { args =>
      require(args.length == 1,
        s"graft_degree_profile expects (edgesTable), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      graft.api.Graph.degreeProfile(
        spark.table(strLit("graft_degree_profile", "edgesTable", args(0))))
        
    },
    tvf("graft_connected_components",
      "graft_connected_components(edgesTable) - exact connected " +
        "components of an (src, dst) edge table (edges symmetrized); " +
        "output (node, component) with component = min reachable node " +
        "id — the dedup-group resolution kernel as a graph primitive" +
        "; materializes at resolution - release via graft_release_materialized()") { args =>
      require(args.length == 1,
        s"graft_connected_components expects (edgesTable), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      graft.api.Graph.connectedComponents(
        spark.table(strLit("graft_connected_components", "edgesTable", args(0))))
        
    },
    // the persisted-index family's ingestion filter from one SELECT:
    // fresh rows >= threshold contained in a corpus doc (by the
    // index's frozen shingle order) are dropped, survivors keep their
    // columns — the q195 lifecycle's filter step on the ops console
    tvf("graft_containment_filter",
      "graft_containment_filter(freshTable, indexPath[, threshold]) - " +
        "drop fresh docs whose shingle set is >= threshold contained " +
        "in some doc of a persisted containment posting index " +
        "(Dedup.buildContainmentIndex); survivors keep their columns, " +
        "corpus text is never read" +
        "; materializes at resolution - release via graft_release_materialized()") { args =>
      require(args.length == 2 || args.length == 3,
        s"graft_containment_filter expects (freshTable, indexPath[, threshold]), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val threshold = if (args.length > 2)
        dblLit("graft_containment_filter", "threshold", args(2)) else 0.8
      graft.api.Dedup.containmentFilterAgainstIndex(
        spark.table(strLit("graft_containment_filter", "freshTable", args(0))),
        strLit("graft_containment_filter", "indexPath", args(1)),
        threshold = threshold)
    },
    // the core dedup primitive itself: exact Jaccard near-dup pairs
    // via the prefix-filtered similarity join (PPJoin family) — the
    // operator every suppressor/index builds on, from one SELECT
    tvf("graft_near_dup_pairs",
      "graft_near_dup_pairs(docsTable[, threshold]) - exact " +
        "word-3-shingle Jaccard near-dup pairs of a (doc_id, text) " +
        "table at >= threshold (default 0.8), via the prefix-filtered " +
        "similarity join; output (doc_a, doc_b, jaccard)" +
        "; materializes at resolution - release via graft_release_materialized()") { args =>
      require(args.length == 1 || args.length == 2,
        s"graft_near_dup_pairs expects (docsTable[, threshold]), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val threshold = if (args.length > 1)
        dblLit("graft_near_dup_pairs", "threshold", args(1)) else 0.8
      graft.api.Dedup.nearDupPairsExact(
        spark.table(strLit("graft_near_dup_pairs", "docsTable", args(0))),
        threshold = threshold)
    },
    // ops-console parity for the profiling family (VERDICT r13 #8):
    // the same one-scan operators the Scala API runs, reachable from
    // one SELECT. All dry-run/read-only — nothing mutates.
    tvf("graft_column_profile",
      "graft_column_profile(table, cols[, approxDistinct]) - per-column " +
        "(n_rows, n_nulls, n_distinct, min, max) profile in ONE scan; " +
        "cols is a comma-separated list; approxDistinct=true rides HLL " +
        "sketches instead of exact multi-distinct") { args =>
      require(args.length == 2 || args.length == 3,
        s"graft_column_profile expects (table, cols[, approxDistinct]), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val cols = strLit("graft_column_profile", "cols", args(1))
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val approx = args.length > 2 && (args(2) match {
        case Literal(b: Boolean, _) => b
        case other => throw new IllegalArgumentException(
          s"graft_column_profile: approxDistinct must be a boolean literal, got $other")
      })
      graft.api.Profiling.columnProfile(
        spark.table(strLit("graft_column_profile", "table", args(0))),
        cols, approx)
    },
    tvf("graft_run_checks",
      "graft_run_checks(table, suite) - evaluate a constraint suite in " +
        "ONE scan; suite is ';'-separated rules: not_null:col[:minRate], " +
        "unique:c1,c2, in_set:col:v1|v2, in_range:col:lo:hi, " +
        "row_count_between:lo:hi, referenced_in:col:parentTable:parentKey. " +
        "Output (check, target, observed, passed)") { args =>
      require(args.length == 2,
        s"graft_run_checks expects (table, suite), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val suite = strLit("graft_run_checks", "suite", args(1))
        .split(';').map(_.trim).filter(_.nonEmpty).toSeq
      import graft.api.Profiling.Check
      val checks: Seq[Check] = suite.map { r =>
        r.split(':').map(_.trim).toList match {
          case "not_null" :: c :: Nil => Check.NotNull(c)
          case "not_null" :: c :: rate :: Nil => Check.NotNull(c, rate.toDouble)
          case "unique" :: cs :: Nil =>
            Check.Unique(cs.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          case "in_set" :: c :: vs :: Nil =>
            Check.InSet(c, vs.split('|').toSeq)
          case "in_range" :: c :: lo :: hi :: Nil =>
            Check.InRange(c, lo.toDouble, hi.toDouble)
          case "row_count_between" :: lo :: hi :: Nil =>
            Check.RowCountBetween(lo.toLong, hi.toLong)
          case "referenced_in" :: c :: parent :: key :: Nil =>
            Check.ReferencedIn(c, spark.table(parent), key)
          case other => throw new IllegalArgumentException(
            s"graft_run_checks: unparseable rule '$r' " +
              "(grammar: not_null:col[:minRate]; unique:c1,c2; " +
              "in_set:col:v1|v2; in_range:col:lo:hi; " +
              "row_count_between:lo:hi; referenced_in:col:parentTable:key)")
        }
      }
      graft.api.Profiling.runChecks(
        spark.table(strLit("graft_run_checks", "table", args(0))), checks)
    },
    tvf("graft_redact_pii",
      "graft_redact_pii(table[, textCol[, types]]) - redact PII in " +
        "textCol (default 'text') in place with per-type n_<type> " +
        "match counts; types is a comma-separated subset of " +
        "email,cc,ssn,ip,phone (default all, applied in that order). " +
        "Patterns are Java-regex/RE2-dialect-portable by contract") { args =>
      require(args.length >= 1 && args.length <= 3,
        s"graft_redact_pii expects (table[, textCol[, types]]), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val textCol = if (args.length > 1)
        strLit("graft_redact_pii", "textCol", args(1)) else "text"
      val types = if (args.length > 2)
        strLit("graft_redact_pii", "types", args(2))
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      else graft.api.Curation.PiiPatterns.map(_._1)
      graft.api.Curation.redactPii(
        spark.table(strLit("graft_redact_pii", "table", args(0))),
        textCol, types)
    },
    // the commit protocol's history from one SELECT: the marker log
    // with each marker's kind and its LIVE resolution (a compaction
    // supersedes its input tokens), as a local frame over one
    // commit-log snapshot — nothing executes at resolution
    tvf("graft_commit_log",
      "graft_commit_log(tablePath) - commit history of a staged-publish " +
        "ingest table: one row per marker (token, mtime_ms, kind " +
        "commit|compaction|unknown, live); live=false means a compaction " +
        "superseded the token (its files are vacuum candidates) or the " +
        "file is not a protocol marker (kind unknown). Rows " +
        "and live flags come from ONE snapshot of the marker dir, " +
        "taken at resolution time") { args =>
      require(args.length == 1,
        s"graft_commit_log expects (tablePath), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      graft.core.Tables.commitLog(spark,
        strLit("graft_commit_log", "tablePath", args(0)))
    },
    // time travel on the ops console (r15): the commit protocol's
    // snapshot/delta reads from one SELECT — both lazy manifest-backed
    // frames (GraftCommitFileIndex; no listing beyond the commit-log
    // walk, no materialization). File resolution happens at TVF
    // resolution time against the marker set then on disk — the same
    // snapshot-at-resolution semantics the API calls have.
    tvf("graft_table",
      "graft_table(tablePath[, format[, mergeSchemas]]) - the CURRENT " +
        "committed view of a staged-publish ingest table: only files " +
        "whose commit marker exists (a crash mid-publish is invisible, " +
        "a compaction supersedes its inputs); lazy manifest-backed " +
        "frame, no listing beyond the commit-log walk. " +
        "mergeSchemas=true unions schemas by name across commits " +
        "(reads every footer)") { args =>
      require(args.length >= 1 && args.length <= 3,
        s"graft_table expects (tablePath[, format[, mergeSchemas]]), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val format = if (args.length > 1)
        strLit("graft_table", "format", args(1)) else "orc"
      val merge = args.length > 2 && (args(2) match {
        case Literal(b: Boolean, _) => b
        case other => throw new IllegalArgumentException(
          s"graft_table: mergeSchemas must be a boolean literal, got $other")
      })
      graft.core.Tables.committedView(spark,
        strLit("graft_table", "tablePath", args(0)), format,
        mergeSchemas = merge)
    },
    tvf("graft_snapshot",
      "graft_snapshot(tablePath, upToBatch[, format]) - the committed " +
        "table AS OF ingest batch upToBatch (time travel): the files " +
        "of every batch with id <= upToBatch; compaction rewrites " +
        "never participate, and once vacuum has destroyed a needed " +
        "original this FAILS LOUDLY instead of returning a partial " +
        "snapshot") { args =>
      require(args.length == 2 || args.length == 3,
        s"graft_snapshot expects (tablePath, upToBatch[, format]), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val format = if (args.length > 2)
        strLit("graft_snapshot", "format", args(2)) else "orc"
      graft.core.Tables.committedViewAsOf(spark,
        strLit("graft_snapshot", "tablePath", args(0)),
        intLit("graft_snapshot", "upToBatch", args(1)).toLong, format)
    },
    tvf("graft_snapshot_at",
      "graft_snapshot_at(tablePath, ts[, format]) - the committed " +
        "table AS OF a timestamp (the standard lakehouse read): ts " +
        "resolves to the max batch whose commit-marker stamp <= ts, " +
        "then reads like graft_snapshot. ts is epoch millis, an " +
        "ISO-8601 instant, a 'yyyy-MM-dd HH:mm:ss' UTC string, or a " +
        "TIMESTAMP literal. A ts before the first commit FAILS " +
        "LOUDLY, as does a vacuumed-away snapshot") { args =>
      require(args.length == 2 || args.length == 3,
        s"graft_snapshot_at expects (tablePath, ts[, format]), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val format = if (args.length > 2)
        strLit("graft_snapshot_at", "format", args(2)) else "orc"
      graft.core.Tables.committedViewAt(spark,
        strLit("graft_snapshot_at", "tablePath", args(0)),
        tsLit("graft_snapshot_at", "ts", args(1)), format)
    },
    tvf("graft_snapshot_delta_at",
      "graft_snapshot_delta_at(tablePath, fromTs, toTs[, format]) - " +
        "the rows ADDED in the time window (fromTs, toTs]: both " +
        "boundaries resolve against commit-marker stamps like " +
        "graft_snapshot_at; a fromTs before the first commit means " +
        "'everything up to toTs', a toTs before the first commit " +
        "fails loudly. Same O(delta) read and vacuum contract as " +
        "graft_snapshot_delta") { args =>
      require(args.length == 3 || args.length == 4,
        s"graft_snapshot_delta_at expects (tablePath, fromTs, toTs[, format]), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val format = if (args.length > 3)
        strLit("graft_snapshot_delta_at", "format", args(3)) else "orc"
      graft.core.Tables.committedViewDeltaAt(spark,
        strLit("graft_snapshot_delta_at", "tablePath", args(0)),
        tsLit("graft_snapshot_delta_at", "fromTs", args(1)),
        tsLit("graft_snapshot_delta_at", "toTs", args(2)), format)
    },
    tvf("graft_snapshot_delta",
      "graft_snapshot_delta(tablePath, fromBatch, toBatch[, format]) - " +
        "the rows ADDED between two batch boundaries (exclusive/" +
        "inclusive): an O(delta) read of exactly those batches' " +
        "original files - no join, no scan of either snapshot; same " +
        "vacuum contract as graft_snapshot") { args =>
      require(args.length == 3 || args.length == 4,
        s"graft_snapshot_delta expects (tablePath, fromBatch, toBatch[, format]), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      val format = if (args.length > 3)
        strLit("graft_snapshot_delta", "format", args(3)) else "orc"
      graft.core.Tables.committedViewDelta(spark,
        strLit("graft_snapshot_delta", "tablePath", args(0)),
        intLit("graft_snapshot_delta", "fromBatch", args(1)).toLong,
        intLit("graft_snapshot_delta", "toBatch", args(2)).toLong, format)
    },
    tvf("graft_dedup_ledger",
      "graft_dedup_ledger(tablePath) - the commit path's near-dup " +
        "suppression ledger (cfg.suppressNearDups): one row per " +
        "committed batch - (batch_token, based_on_version, " +
        "suppressed_within, suppressed_seen, kept); entries pin the " +
        "fingerprint-filter version each commit consulted and land " +
        "before its marker, so replays reproduce the same decision") { args =>
      require(args.length == 1,
        s"graft_dedup_ledger expects (tablePath), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      graft.ingest.Ingest.dedupLedger(spark,
        strLit("graft_dedup_ledger", "tablePath", args(0)))
    },
    tvf("graft_pii_ledger",
      "graft_pii_ledger(tablePath) - the commit path's PII redaction " +
        "ledger (cfg.redactPiiColumns): one row per (committed batch, " +
        "type) - (batch_token, pii_type, n_redacted); entries land " +
        "before their commit marker, so a committed batch never lacks " +
        "its accounting") { args =>
      require(args.length == 1,
        s"graft_pii_ledger expects (tablePath), got ${args.length} args")
      val spark = org.apache.spark.sql.SparkSession.active
      graft.ingest.Ingest.piiLedger(spark,
        strLit("graft_pii_ledger", "tablePath", args(0)))
    },
    // the SQL caller's end of the releaseMaterialized contract: the
    // operator-backed TVFs above execute eagerly and localCheckpoint
    // their results (resolution IS execution — EXPLAIN over them runs
    // the operator too); without this, a recurring ops-console SELECT
    // pins a result-sized RDD per call for the session's lifetime
    tvf("graft_release_materialized",
      "graft_release_materialized() - unpersist every checkpoint RDD " +
        "pinned by this session's earlier operator-backed TVF calls " +
        "(suppress-explain / containment / pair-join / graph family); " +
        "returns (released_rdds). Call AFTER consuming those results, " +
        "and ONLY as its own standalone statement: like every " +
        "materializing graft TVF it runs at RESOLUTION time, so " +
        "EXPLAINing it, defining a view over it, or composing it in " +
        "the same SELECT as another graft TVF releases that TVF's " +
        "non-recomputable blocks before execution reads them - " +
        "a released TVF frame cannot be re-read") { args =>
      require(args.isEmpty,
        s"graft_release_materialized expects no arguments, got ${args.length}")
      val spark = org.apache.spark.sql.SparkSession.active
      val n = releaseTvfMaterialized(spark)
      import spark.implicits._
      Seq(n).toDF("released_rdds")
    })

  def register(ext: SparkSessionExtensions): Unit = {
    functions.foreach(ext.injectFunction)
    tableFunctions.foreach(ext.injectTableFunction)
  }
}
