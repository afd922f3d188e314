package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so the
  * benchmark's listeners have seen all jobs of a pass before it reads them.
  * Lives in this package because the bus is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
