package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; counts read right after an
  * action are exact only once the bus has delivered everything queued
  * (`listenerBus` is private[spark], hence this package). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
