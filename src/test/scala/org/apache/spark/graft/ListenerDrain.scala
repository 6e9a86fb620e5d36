package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so a
  * listener read right after an action has seen that action's jobs. The
  * listener bus is `private[spark]`, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
