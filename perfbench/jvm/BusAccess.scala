package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * traced span's counters are complete before they are read. Lives in
  * Spark's package because the listener bus is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
