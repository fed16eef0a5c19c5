package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark internals the tracer needs and the public API does
  * not expose: draining the asynchronous listener bus (so an op's
  * events are all delivered before it is accounted) and the codegen
  * compile counters.
  */
object SparkInternals {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)

  /** (classes compiled, total compile ms) since JVM start. The
    * histogram's reservoir keeps every sample up to 1028 of them; past
    * that the total is the reservoir mean times the count.
    */
  def codegenTotals(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val vals = h.getSnapshot.getValues
    val total = if (vals.length >= n) vals.sum.toDouble
      else if (vals.isEmpty) 0.0 else vals.sum.toDouble / vals.length * n
    (n, total)
  }
}
