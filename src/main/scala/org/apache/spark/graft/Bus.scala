package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `listenerBus` is `private[spark]`. After `drain`, every event posted before it has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
