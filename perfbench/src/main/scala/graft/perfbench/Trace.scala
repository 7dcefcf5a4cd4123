package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark's own execution as seen through the public listener API:
  * cumulative counters, read as deltas across an operation. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val taskCpuNs, taskRunMs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill, output = new AtomicLong
  /** Time spent in these callbacks: part of the tracing overhead. */
  val selfNs = new AtomicLong

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    selfNs.addAndGet(System.nanoTime() - t0)
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = timed(jobs.incrementAndGet())
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed(stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      taskRunMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      output.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def snap(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "task_cpu_s" -> taskCpuNs.get / 1e9,
    "task_run_s" -> taskRunMs.get / 1e3, "gc_s" -> gcMs.get / 1e3,
    "shuffle_write_mb" -> shuffleWrite.get / 1e6,
    "shuffle_read_mb" -> shuffleRead.get / 1e6,
    "spill_mb" -> spill.get / 1e6, "output_mb" -> output.get / 1e6)
}

/** Spans and counter snapshots taken around calls into the program's
  * layers. Inactive, every method is a pass-through and no listener is
  * attached, so an untraced run executes none of it. Spans stay in
  * memory and are written out with the run's result. The tracer's own
  * time (snapshots, which wait for the listener bus, and listener
  * callbacks) is its overhead. */
final class Tracer(spark: SparkSession, runId: String) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1
  private val counters = new SparkCounters
  private var on = false

  def active: Boolean = on
  def active_=(v: Boolean): Unit = if (v != on) {
    if (v) spark.sparkContext.addSparkListener(counters)
    else spark.sparkContext.removeSparkListener(counters)
    on = v
  }

  /** Listener, commit-phase and filesystem counters at this instant. */
  def snap(): Map[String, Double] = if (!on) Map.empty else {
    val t0 = System.nanoTime()
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    val out = counters.snap() ++ CountingLocalFs.snap() ++
      graft.ingest.Ingest.CommitPhases.snap().map { case (k, v) =>
        (if (k == "commits") "commits" else s"phase_${k}_s") ->
          (if (k == "commits") v.toDouble else v / 1e9)
      }
    snapNs.addAndGet(System.nanoTime() - t0)
    out
  }

  private val snapNs = new AtomicLong
  /** Seconds the tracer itself has spent so far. */
  def overheadS: Double = (snapNs.get + counters.selfNs.get) / 1e9

  /** Run `body` inside a span; with tracing on, the span carries the
    * counter deltas across it. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      val before = snap()
      val t0 = Tracer.now()
      try body
      finally {
        val t1 = Tracer.now()
        val after = snap()
        stack = stack.tail
        spans += Span(id, parent, name, t0, t1,
          after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) })
      }
    }

  /** Record a span observed rather than wrapped (a streaming trigger,
    * which Spark runs on its own thread); returns its id. */
  def observed(name: String, startS: Double, endS: Double,
               counters: Map[String, Double], parent: Int = 0): Int = synchronized {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, name, startS, endS, counters)
    id
  }

  /** The recorded spans, oldest first, as JSON-ready maps. */
  def dump(): Seq[Map[String, Any]] = spans.sortBy(_.startS).map { s =>
    Map("run_id" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_s" -> s.startS, "end_s" -> s.endS, "counters" -> s.counters)
  }.toSeq

  def close(): Unit = active = false
}

object Tracer {
  /** Span bounds are wall-clock seconds since the epoch. */
  final case class Span(id: Int, parent: Int, name: String, startS: Double,
                        endS: Double, counters: Map[String, Double])

  def now(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }
}
