package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus: blocks until every
  * event posted so far has been delivered, so listener counters read
  * afterwards are complete (no fixed sleep). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
