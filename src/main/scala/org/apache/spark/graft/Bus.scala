package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every event posted so far,
  * so a listener's record of an action is complete once this returns. The
  * bus is `private[spark]`, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
