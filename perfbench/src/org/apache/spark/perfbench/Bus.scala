package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this adapter lives under the
  * `org.apache.spark` package so the benchmark can wait until every
  * posted event has reached its listener before it reads the counters.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
