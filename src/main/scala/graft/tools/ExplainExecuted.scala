package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** EXECUTED-plan dump for the most expensive bench queries (VERDICT
  * r13 #5): PLANS.md captures pre-execution AQE plans
  * (`isFinalPlan=false`), so the runtime decisions the performance
  * verdicts rely on — ReusedExchange (q81's both-rankings-from-one-
  * probe claim), AQE coalescing, skew-join splits — were invisible to
  * the plan-diff ritual. This main RUNS each query to completion
  * (`toRdd.count`, the bench's own materialization) and then dumps
  * `queryExecution.executedPlan`, i.e. the final adaptive plan with
  * reuse nodes. For the suppressor/TVF family the outer frame is
  * `Scan ExistingRDD`, so the PlanAudit probe holds each inner
  * stage's DataFrame and dumps ITS executed plan too (eager
  * localCheckpoint executes the stage, so the captured plan is final
  * by the time the query returns).
  *
  * Usage, two modes:
  *   runMain graft.tools.ExplainExecuted [sfDir] > PLANS_EXECUTED.md
  *     the top bench queries, at most six inner stages each;
  *   runMain graft.tools.ExplainExecuted <outDir> <suffix> [sfDir] [q ...]
  *     one `<outDir>/<q>_<suffix>.txt` per named query (default: the
  *     top list) with every inner stage. Run it at the before and the
  *     after commit with suffixes `before`/`after` and the files diff
  *     as code diffs — the `plans/r18` twins are in this format.
  */
object ExplainExecuted {

  /** The top bench queries by recorded time (r15: + the containment pair). */
  private val top = Seq(
    "q164_streaming_neardup_suppress",
    "q81_ivfpq_contract",
    "q168_streaming_semantic_suppress",
    "q121_cdc_apply",
    "q117_row_mutation",
    "q197_sql_label_propagation",
    "q187_label_propagation",
    "q70_ann_recall",
    "q165_merge_neardup_indexes",
    "q111_snapshot_delta",
    "q195_containment_index",
    "q199_sql_containment_filter",
    // r17: the bucket-aware committed read — the executed plan must
    // show ZERO Exchange on the committed side (VERDICT r16 #3)
    "q215_bucketed_commit_join")

  private def cap(s: String): String = s.linesIterator
    .map(l => if (l.length > 300) l.take(300) + " ...<truncated>" else l)
    .mkString("\n")

  // post-execution: the formatted string of the executed plan shows
  // AdaptiveSparkPlan isFinalPlan=true with Reused* nodes resolved
  private def executedString(df: DataFrame): String = cap(
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))

  private val sessionIds =
    Seq("#(\\d+)", "plan_id=(\\d+)", "codegen id : (\\d+)", "RDD\\[(\\d+)\\]").map(_.r)

  /** `dump` with the ids that depend on what ran earlier in the session
    * — expression ids (`#217L`), `plan_id=`, codegen stage ids and RDD
    * ids — renumbered in first-seen order, each kind on its own, so the
    * twin of an unchanged plan diffs clean. */
  private def renumber(dump: String): String = sessionIds.foldLeft(dump) { (s, id) =>
    val seen = scala.collection.mutable.Map.empty[String, Int]
    id.replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(m.matched.replace(
      m.group(1), seen.getOrElseUpdate(m.group(1), seen.size + 1).toString)))
  }

  /** Runs query `name` and renders its executed plan under
    * `## name (label)`, then the first `maxStages` inner stages the
    * PlanAudit probe captured (eager checkpoints executed during
    * construction, so their plans are final; the first batch carries
    * the shapes), with session ids renumbered. */
  private def dump(spark: SparkSession, sfDir: String, name: String,
                   label: String, maxStages: Int): String = {
    val stages = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    graft.api.PlanAudit.probe = Some(d => stages += d)
    val df =
      try graft.SparkEntry.queries(name)(spark, sfDir)
      finally graft.api.PlanAudit.probe = None
    df.queryExecution.toRdd.count()
    val sb = new StringBuilder(s"## $name ($label)\n\n```\n${executedString(df)}\n```\n")
    stages.take(maxStages).zipWithIndex.foreach { case (d, i) =>
      sb ++= s"\n### $name inner stage ${i + 1}/${stages.length} (executed)\n\n" +
        s"```\n${executedString(d)}\n```\n"
    }
    if (stages.length > maxStages)
      sb ++= s"\n(${stages.length - maxStages} later-batch stages omitted - " +
        "identical shapes to the first batch's)\n"
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    renumber(sb.toString)
  }

  def main(args: Array[String]): Unit = {
    val perFile = args.length >= 2
    val sfDir = args.lift(if (perFile) 2 else 0).getOrElse("/root/testdata/sf0.01")
    val spark = graft.core.Sessions.local("graft-explain-executed",
      defaultCpus = "8")
    spark.sparkContext.setLogLevel("ERROR")
    if (!perFile) {
      println("# EXECUTED physical plans (generated by `graft.tools.ExplainExecuted` - do not edit)")
      println(s"\nScale factor dir: `$sfDir`. Unlike PLANS.md (pre-execution,")
      println("isFinalPlan=false), every plan here was dumped AFTER running the")
      println("query to completion - AQE final plans, including ReusedExchange /")
      println("coalesce / skew decisions. Top bench queries by recorded time.")
      top.foreach(q => print("\n" + dump(spark, sfDir, q, "executed", 6)))
    } else {
      val Array(outDir, suffix) = args.take(2)
      Files.createDirectories(Paths.get(outDir))
      val names = if (args.length > 3) args.drop(3).toSeq else top
      names.foreach { q =>
        try {
          val out = Paths.get(outDir, s"${q}_$suffix.txt")
          Files.writeString(out, dump(spark, sfDir, q, s"executed, $suffix", Int.MaxValue))
          System.err.println(s"[explain] wrote $out")
        } catch { case t: Throwable =>
          System.err.println(s"[explain] $q FAILED: ${t.getMessage}") }
      }
    }
    spark.stop()
  }
}
