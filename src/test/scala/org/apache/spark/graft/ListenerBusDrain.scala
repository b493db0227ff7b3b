package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a spec that counts them reads
  * its listener only after the bus has delivered every event posted so
  * far. The wait lives in this package because the bus is
  * `private[spark]`. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
