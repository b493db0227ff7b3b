package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the tracer reads its
  * listener's records only after the bus has delivered every event posted
  * so far. The wait lives in this package because the bus is
  * `private[spark]`. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
