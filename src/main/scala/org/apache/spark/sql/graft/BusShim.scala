package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The `private[spark]` listener-bus drain, re-exported logic-free like
  * [[SqlShim]] and [[StreamShim]]: listener events are delivered
  * asynchronously, so a job count read right after an action can miss
  * jobs; waiting until the bus is empty makes it exact. */
object BusShim {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
