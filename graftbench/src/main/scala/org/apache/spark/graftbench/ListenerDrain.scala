package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so that
  * counters read right after an action include that action's jobs, stages
  * and tasks. The listener bus is `private[spark]`, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
