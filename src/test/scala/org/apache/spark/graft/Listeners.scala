package org.apache.spark.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** The listeners registered on a context (`listenerBus` is
  * `private[spark]`), so specs can check that one was removed. */
object Listeners {
  def of(sc: SparkContext): Seq[SparkListenerInterface] = sc.listenerBus.listeners.asScala.toSeq
}
