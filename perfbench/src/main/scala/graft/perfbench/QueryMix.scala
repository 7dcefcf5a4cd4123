package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `query_mix`: a closed loop with one client. One pass over a fixed
  * set of queries, in an order drawn from the seed. An operation builds
  * one query (`SparkEntry.queries`), plans it and collects its result
  * through the query's own `QueryExecution`, so the plan, the jobs and
  * the exchanges observed are those of the timed execution. The results
  * are small; they are written for the oracle check after the window.
  *
  * There is no warm pass: one pass over these queries costs most of the
  * time a run may take, so the timed pass is the first, and each
  * query's first call includes the fixture builds it caches. Set-up
  * runs one cheap query to warm the session. */
object QueryMix extends AdaptiveSparkPlanHelper {
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q85_curation_pipeline", "q44_near_dup_pairs",
    "q63_near_dup_keep_one", "q47_cosine_topk", "q57_ann_ivf",
    "q164_streaming_neardup_suppress", "q165_merge_neardup_indexes",
    "q187_label_propagation", "q199_sql_containment_filter",
    "q204_sql_commit_log", "q213_ingest_neardup_suppress",
    "q215_bucketed_commit_join")

  def run(run: Run): Unit = {
    val data = run.opts("data")
    val results = run.path("results")
    val spark = run.spark

    val oracle = Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(results))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(results, "oracle_sql.json"), Json.render(oracle))

    // set-up: one cheap query warms the session, the parquet reader and
    // the code generator before the first timed query
    SparkEntry.queries(Queries.head)(spark, data).queryExecution.toRdd.count()
    run.clearCaches()

    val order = new scala.util.Random(run.seed).shuffle(Queries)
    val collected = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    run.windowStart()
    run.tracer.active = run.traced
    order.foreach { q =>
      val t = run.tracer
      val t0 = System.nanoTime()
      val outcome = scala.util.Try(t.span(q) {
        val df = t.span(s"$q.build") { SparkEntry.queries(q)(spark, data) }
        t.span(s"$q.plan") { df.queryExecution.executedPlan }
        val rows = t.span(s"$q.exec") { df.collect() }
        collected(q) = (rows, df.schema)
        // after execution the adaptive plan is the final one
        if (t.active) collectWithSubqueries(df.queryExecution.executedPlan) {
          case e: Exchange => e }.size else 0
      })
      val t1 = System.nanoTime()
      outcome.failed.foreach(e => System.err.println(s"[perfbench] $q failed: $e"))
      run.ops += Map("kind" -> "query", "name" -> q,
        "wall_s" -> (t1 - t0) / 1e9, "ok" -> outcome.isSuccess,
        "exchanges" -> outcome.getOrElse(0))
      run.clearCaches()
    }
    run.windowEnd()
    run.tracer.active = false
    collected.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$results/$q")
    }
  }
}
