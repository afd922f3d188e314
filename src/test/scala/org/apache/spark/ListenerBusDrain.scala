package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * spec's listener has seen all jobs of an action before it counts them.
  * Lives in this package because the bus is `private[spark]`. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
