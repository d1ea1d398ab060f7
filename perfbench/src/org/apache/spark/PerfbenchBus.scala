package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced pass is summed only after all of its job, stage and task events
  * arrived. Lives in Spark's package because `waitUntilEmpty` is
  * `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
