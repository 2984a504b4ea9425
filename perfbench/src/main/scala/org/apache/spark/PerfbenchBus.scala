package org.apache.spark

/** Access to the private[spark] listener bus: the trace reads its listener's
  * state only after every posted event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
