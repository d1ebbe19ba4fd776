package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run drains the bus after each span so that every task-end
  * event is counted before the span's counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
