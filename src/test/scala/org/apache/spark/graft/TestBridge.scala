package org.apache.spark.graft

import org.apache.spark.{SparkConf, SparkContext}

/** Test-only accessors for private[spark] SparkContext members. The LIVE
  * conf (`getConf` returns a copy) is needed to emulate `spark-submit
  * --conf spark.sql.extensions=...` on a reused local context, since
  * static confs are read from the context conf by SparkSession.getOrCreate.
  */
object TestBridge {
  def liveConf(sc: SparkContext): SparkConf = sc.conf

  /** Blocks until every posted listener event has been delivered
    * (`listenerBus` is private[spark]). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
