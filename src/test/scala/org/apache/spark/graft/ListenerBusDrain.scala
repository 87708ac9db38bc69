package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is private[spark]; specs that count listener events
  * drain it so every event of the statement under test is delivered
  * before they read their counters. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
