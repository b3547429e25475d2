package org.apache.spark

/** Lives in Spark's package only to reach the listener bus: the traced run
  * must see every task-end event before it reads its per-layer counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
