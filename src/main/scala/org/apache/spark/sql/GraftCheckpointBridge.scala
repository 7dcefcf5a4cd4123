package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge restoring the physical-layout declaration a `localCheckpoint`
  * drops under AQE.
  *
  * `Dataset.localCheckpoint` records the checkpointed rows behind a
  * `LogicalRDD` whose `outputPartitioning` is taken from the plan's
  * `AdaptiveSparkPlanExec` wrapper — which reports
  * `UnknownPartitioning(0)` (measured on Spark 4.1.2, recorded in
  * OPTIMIZATION_r17.md). So a frame that was explicitly
  * `repartition(np, key)`-ed immediately before checkpointing loses its
  * layout declaration, and every downstream keyed join or aggregation
  * re-shuffles rows that are ALREADY hash-placed — for an iterative
  * operator (PageRank, LPA, connected components) that is one
  * edge-set-sized exchange per iteration instead of one per run.
  *
  * [[declareHashPartitioning]] rebuilds the same `LogicalRDD` (same RDD,
  * same output attributes, stats carried over) with the layout that is
  * physically true declared as `HashPartitioning(keys, np)`.
  *
  * SOUNDNESS: declaring a layout the rows do not have silently breaks
  * joins, so this is deliberately lenient — it declares ONLY when
  * `rdd.getNumPartitions == np`. A `repartition(np, key)` shuffle is
  * `REPARTITION_BY_NUM`, which AQE never coalesces or splits, so the
  * materialized RDD genuinely has `np` partitions with rows placed by
  * `HashPartitioning(key, np)`'s hash; an exchange-free chain on top
  * (projections, partial+final aggregation whose distribution the
  * layout already satisfies) preserves placement. If anything changed
  * the partition count (an AQE-coalesced ENSURE_REQUIREMENTS exchange,
  * an empty-frame edge case), the declaration is skipped and the frame
  * behaves exactly as before — correct, just re-shuffled. Callers must
  * pass the SAME key columns (same order) the repartition used.
  *
  * Lives in the spark.sql package solely to reach `private[sql]`
  * members (`Dataset.ofRows`, `LogicalRDD`'s session-scoped
  * constructor); no Spark internals are modified — the
  * [[GraftExprBridge]] pattern. */
object GraftCheckpointBridge {
  def declareHashPartitioning(df: DataFrame, keys: Seq[String],
                              np: Int): DataFrame =
    df.queryExecution.analyzed match {
      case lr @ LogicalRDD(output, rdd, _, ordering, isStreaming, stream)
          if rdd.getNumPartitions == np =>
        val attrs = keys.map(k => output.find(_.name == k).getOrElse(
          throw new IllegalArgumentException(
            s"declareHashPartitioning: no column '$k' in " +
              output.map(_.name).mkString(", "))))
        val session = df.sparkSession
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        org.apache.spark.sql.classic.Dataset.ofRows(session,
          LogicalRDD(output, rdd, HashPartitioning(attrs, np), ordering,
            isStreaming, stream)(session, Some(lr.stats), None))
      case _ => df
    }
}
