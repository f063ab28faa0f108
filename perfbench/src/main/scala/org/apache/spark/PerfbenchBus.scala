package org.apache.spark

/** Waits until every listener queue has delivered what was posted so far,
  * so per-op listener totals are complete before the next op starts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
