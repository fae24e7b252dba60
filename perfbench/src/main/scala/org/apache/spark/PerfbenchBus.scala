package org.apache.spark

/** The listener bus's drain is package-private to Spark; this is the one
  * place the benchmark reaches it, so traced metrics are read only after
  * every posted event has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
