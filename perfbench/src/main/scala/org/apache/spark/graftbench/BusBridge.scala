package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus drain. `SparkContext.listenerBus` is `private[spark]`;
  * the benchmark reads its listener's counters only after every event
  * of the measured work has been delivered. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
