package org.apache.spark

/** Lives in Spark's package only to reach the listener bus: listener
  * events are delivered asynchronously, and the harness must see every
  * job, stage and streaming event before it totals them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
