package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so job and
  * task counters read after an operation include all of its late events.
  * Lives in Spark's package because the listener bus is `private[spark]`. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
