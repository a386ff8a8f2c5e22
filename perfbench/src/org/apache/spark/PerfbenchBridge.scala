package org.apache.spark

/** The one Spark-internal call the benchmark needs: waiting for the
  * listener bus to deliver every posted event before reading a trace.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
