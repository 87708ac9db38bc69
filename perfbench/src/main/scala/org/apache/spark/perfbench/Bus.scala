package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private[spark]; the traced run drains it at the
  * end of each op so every event of the op is attributed before the
  * next op starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
