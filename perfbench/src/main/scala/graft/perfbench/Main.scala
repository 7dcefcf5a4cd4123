package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload against the program's own
  * entry points and writes a JSON record of raw observations (operation
  * walls, window bounds, correctness checks, spans). `perfbench/run.py`
  * derives the metrics from that record.
  *
  *   Main --workload stream_curated|query_mix --seed N --seconds S
  *        --trace 0|1 --work DIR --out FILE [--data DIR]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(opts)
    try {
      opts("workload") match {
        case "stream_curated" => StreamCurated.run(run)
        case "query_mix" => QueryMix.run(run)
        case other => sys.error(s"unknown workload $other")
      }
      run.write()
    } finally run.close()
  }
}

/** One benchmark run: its session, timed window, operations, checks
  * and tracer. */
final class Run(val opts: Map[String, String]) {
  val seed: Long = opts("seed").toLong
  val seconds: Double = opts("seconds").toDouble
  val traced: Boolean = opts("trace") == "1"
  val work: String = opts("work")
  val cores: Int = Runtime.getRuntime.availableProcessors
  def path(name: String): String = new java.io.File(work, name).getAbsolutePath

  private val heapPeak = new HeapPeak
  val spark: SparkSession = graft.core.Sessions.local("perfbench", cores.toString)
  val tracer = new Tracer(spark, s"${opts("workload")}-$seed")

  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val facts = mutable.LinkedHashMap.empty[String, Any]
  private var windowStartNs = 0L

  /** Wall-clock seconds since the epoch, microsecond resolution. */
  def epochNow(): Double = Tracer.now()

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Mark the first timed operation: set-up ends here. */
  def windowStart(): Unit = {
    facts("window_start_epoch_s") = epochNow()
    facts("phases_start") = phases()
    windowStartNs = System.nanoTime()
  }

  def windowEnd(): Unit = {
    // heap peak and process CPU up to here: the checks after the window
    // are not the workload's
    facts("heap_peak_mb") = heapPeak.peakMb
    facts("tracer_overhead_s") = tracer.overheadS
    facts("window_end_epoch_s") = epochNow()
    facts("cpu_end_s") = cpuNs() / 1e9
    facts("phases_end") = phases()
    facts("window_s") = (System.nanoTime() - windowStartNs) / 1e9
  }

  /** The program's cumulative commit-phase accounting, in seconds
    * (`commits` is a count). */
  private def phases(): Map[String, Double] =
    graft.ingest.Ingest.CommitPhases.snap().map { case (k, v) =>
      k -> (if (k == "commits") v.toDouble else v / 1e9)
    }

  /** A correctness check, run outside the timed window; an exception
    * counts as a failure. */
  def check(name: String)(body: => (Boolean, String)): Unit = {
    val (ok, detail) =
      try body
      catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
  }

  /** Drop cached and persisted data between operations, as the
    * program's own Bench and Verify mains do between queries. */
  def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def write(): Unit = {
    val rec = Map(
      "workload" -> opts("workload"), "seed" -> seed, "cores" -> cores,
      "facts" -> facts.toMap,
      "ops" -> ops.toSeq, "checks" -> checks.toSeq,
      "spans" -> tracer.dump())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")), Json.render(rec))
  }

  def close(): Unit = {
    heapPeak.stop()
    tracer.close()
    spark.stop()
  }
}

/** Peak JVM heap in use after a garbage collection: the largest live
  * heap the run needed. Heap use between collections depends on when the
  * collector happens to run, so it is not sampled. */
final class HeapPeak {
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        synchronized { peak = math.max(peak, used) }
      }
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  beans.foreach(_.addNotificationListener(listener, null, null))

  /** Falls back to the heap in use now if no collection has run. */
  def peakMb: Double =
    (if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1e6
  def stop(): Unit = beans.foreach(_.removeNotificationListener(listener))
}
