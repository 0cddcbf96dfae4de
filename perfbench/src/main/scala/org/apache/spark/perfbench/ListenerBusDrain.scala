package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered,
  * so counters read right after an action are complete. The bus is
  * `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
