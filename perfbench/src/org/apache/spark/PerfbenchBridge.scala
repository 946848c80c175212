package org.apache.spark

/** Access to the listener bus flush, which Spark keeps package-private:
  * the benchmark reads its listener's counts only after every queued
  * event has been delivered. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
