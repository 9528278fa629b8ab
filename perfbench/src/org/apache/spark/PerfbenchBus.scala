package org.apache.spark

/** Waits for Spark's asynchronous listener bus to deliver every posted
  * event, so the trace read at the end of a run is complete. The bus is
  * package-private to Spark; its own test suites sync the same way. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
