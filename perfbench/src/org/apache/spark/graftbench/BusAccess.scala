package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus's drain barrier is spark-private; the benchmark needs
  * it so counters read after an action include that action's events.
  */
object BusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
