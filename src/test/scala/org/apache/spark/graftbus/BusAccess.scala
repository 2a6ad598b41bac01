package org.apache.spark.graftbus

import org.apache.spark.SparkContext

/** Test-side view of the `private[spark]` listener bus: how many
  * listeners are registered right now. */
object BusAccess {
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
