package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * tracer reads its spans only after every queued event is delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
