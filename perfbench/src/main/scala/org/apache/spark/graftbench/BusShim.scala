package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Reaches the listener bus, which is `private[spark]`: draining it is the
  * only exact way to know every job/stage/task event of a finished action
  * has been delivered to the benchmark's listeners. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
