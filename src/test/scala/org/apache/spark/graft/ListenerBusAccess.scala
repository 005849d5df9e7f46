package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Specs' access to the `private[spark]` listener bus. */
object ListenerBusAccess {

  /** Block until every event posted so far reached its listeners. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
