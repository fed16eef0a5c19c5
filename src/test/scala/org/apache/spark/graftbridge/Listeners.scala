package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Specs that count Spark jobs through a listener read the count only
  * after the listener bus delivered every event posted so far; the bus
  * is `private[spark]`, so the wait is exposed here.
  */
object Listeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
