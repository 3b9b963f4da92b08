package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark's
  * tracer needs it to read counters only after every task-end event of
  * a span has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
