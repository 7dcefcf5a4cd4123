package graft.api

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one module that knows how graft materializes: every checkpoint
  * of the `graft.api` operators and the ingest commit path is pinned
  * ([[checkpoint]]), released ([[release]]) and scoped ([[scope]]) here.
  * A pinned frame `.explain()`s only as `Scan ExistingRDD` — which is
  * how an O(batch²) candidate join once shipped with no plan test able
  * to see it — so each pin first hands its REAL plan to the installed
  * [[probe]] (PlanShapeSpec pins keyed candidate joins through it).
  * Production cost: one volatile read per pin. */
private[graft] object PlanAudit {
  @volatile private[graft] var probe: Option[DataFrame => Unit] = None

  /** One buffer per open [[pinsDuring]] on this thread. */
  private val recorders = ThreadLocal.withInitial[List[mutable.Buffer[Int]]](() => Nil)

  def checkpoint(df: DataFrame): DataFrame = {
    probe.foreach(_(df))
    val pinned = df.localCheckpoint()
    own(pinned).foreach(id => recorders.get.foreach(_ += id))
    pinned
  }

  /** [[checkpoint]] for a frame whose plan ends in an explicit
    * `repartition(np, keys...)` (or an exchange-free chain on top of
    * one): re-declares the hash layout the checkpoint's `LogicalRDD`
    * drops under AQE, so consumers keyed on `keys` do not re-shuffle it
    * (soundness rule: [[org.apache.spark.sql.GraftCheckpointBridge]]). */
  def checkpointHash(df: DataFrame, np: Int, keys: Seq[String]): DataFrame =
    org.apache.spark.sql.GraftCheckpointBridge.declareHashPartitioning(
      checkpoint(df), keys, np)

  /** Unpersist the RDD behind a checkpoint-backed frame (its plan's
    * first `LogicalRDD`; `Dataset.unpersist` consults only the
    * CacheManager). Idempotent; a no-op on other frames. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd.id }
      .foreach(id => df.sparkSession.sparkContext.getPersistentRDDs
        .get(id).foreach(_.unpersist(false)))

  /** The RDD id of a frame that IS a pin, not one derived from a pin. */
  private def own(df: DataFrame): Option[Int] = df.queryExecution.analyzed match {
    case r: LogicalRDD => Some(r.rdd.id)
    case _ => None
  }

  /** `body`'s value and the RDD ids of every pin made on this thread
    * while it ran, released or not. */
  def pinsDuring[T](body: => T): (T, Seq[Int]) = {
    val (outer, pins) = (recorders.get, mutable.ArrayBuffer.empty[Int])
    recorders.set(pins :: outer)
    try (body, pins.toSeq) finally recorders.set(outer)
  }

  /** The pins of one [[scope]] body. */
  final class Scope private[PlanAudit] () {
    private val pins = mutable.LinkedHashMap.empty[Int, DataFrame]
    private val kept = mutable.Set.empty[Int]

    def checkpoint(df: DataFrame): DataFrame = track(PlanAudit.checkpoint(df))

    def checkpointHash(df: DataFrame, np: Int, keys: Seq[String]): DataFrame =
      track(PlanAudit.checkpointHash(df, np, keys))

    /** Release `df` now if it is a pin of this scope; else a no-op. */
    def release(df: DataFrame): Unit = own(df).flatMap(pins.remove).foreach(PlanAudit.release)

    /** Keep `df`, a pin of this scope, as the body's result. */
    def keep(df: DataFrame): DataFrame = {
      kept += own(df).filter(pins.contains).getOrElse(throw new IllegalArgumentException(
        "PlanAudit.Scope.keep: the frame is not a live pin of this scope"))
      df
    }

    private def track(df: DataFrame): DataFrame = { own(df).foreach(pins(_) = df); df }

    private[PlanAudit] def close(failed: Boolean): Unit =
      pins.foreach { case (id, df) => if (failed || !kept(id)) PlanAudit.release(df) }
  }

  /** Run `body` with a fresh [[Scope]]. Every pin made through it is
    * released when `body` exits, normally or by a throw, except — on a
    * normal exit only — the pins it kept; loops release superseded
    * iterates through the scope as they go. */
  def scope[T](body: Scope => T): T = {
    val s = new Scope
    val out = try body(s) catch { case t: Throwable => s.close(failed = true); throw t }
    s.close(failed = false)
    out
  }
}
