package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus drain. `SparkContext.listenerBus` is `private[spark]`, so
  * this one accessor lives in an `org.apache.spark` subpackage. The traced
  * run waits on it after each query so every job, stage, task and stream
  * progress event of that query has been delivered before it is read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
