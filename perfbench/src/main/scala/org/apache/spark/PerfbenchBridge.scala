package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: the
  * benchmark reads its listeners' totals only after every event of the timed
  * call has been delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
