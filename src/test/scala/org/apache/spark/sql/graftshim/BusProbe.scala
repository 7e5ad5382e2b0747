package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a job count read right after an
  * action is exact only once the bus has delivered everything queued
  * (`listenerBus` is private[spark]). */
object BusProbe {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
