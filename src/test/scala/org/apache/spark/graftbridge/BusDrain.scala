package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Listener-bus drain for specs that count scheduler events.
  * `SparkContext.listenerBus` is `private[spark]`; a spec reads its
  * listener's counters only after every event of the measured work has
  * been delivered. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
