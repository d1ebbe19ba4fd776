package org.apache.spark

/** Test access to the listener-bus drain that Spark keeps package-private:
  * once it returns, every listener has seen every event posted before it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
