package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every
  * event posted so far, so per-request job metrics are complete before
  * they are read. The bus is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
