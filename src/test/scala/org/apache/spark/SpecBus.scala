package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * spec counting jobs with a SparkListener reads a complete count. Lives
  * in Spark's package because `waitUntilEmpty` is `private[spark]`. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
