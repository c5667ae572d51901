package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * counter read after an action includes that action's jobs and tasks. The
  * listener bus is package-private, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
