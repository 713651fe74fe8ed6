package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the benchmark reads its listener's counters for an operation only
  * after every event the operation posted has been delivered.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
