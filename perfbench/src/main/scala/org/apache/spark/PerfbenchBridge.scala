package org.apache.spark

/** The one Spark-internal call the benchmark needs: listener events
  * arrive asynchronously, so a layer's job and task counts are read
  * only after the bus has delivered every event posted so far. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
