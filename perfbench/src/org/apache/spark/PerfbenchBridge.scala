package org.apache.spark

/** Access to the one listener-bus call the benchmark needs that Spark keeps
  * package-private: waiting until every posted event has been delivered, so
  * counters read after an action include that action. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
