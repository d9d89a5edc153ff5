package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so the
  * counts a pass produced are complete before the next pass starts. The
  * bus is `private[spark]`, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
