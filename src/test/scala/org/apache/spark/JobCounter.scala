package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs one block submits. The block runs under its own
  * job group, so jobs submitted by other threads of the JVM do not
  * count. Listener events arrive asynchronously, so the bus is drained
  * (a `private[spark]` call, hence this package) before the count is
  * read. */
object JobCounter {
  def jobs(sc: SparkContext)(body: => Unit): Int = {
    val group = s"job-counter-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted block")
    try body
    finally {
      sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty(60000L)
      sc.removeSparkListener(listener)
    }
    n.get
  }
}
