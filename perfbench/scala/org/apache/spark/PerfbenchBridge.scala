package org.apache.spark

/** Access to the `private[spark]` parts the benchmark needs: waiting
  * until every posted listener event has been delivered, so an op's
  * events are complete before they are attributed to it, and the count of
  * generated classes compiled (a codegen cache hit compiles none). */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def codegenCompiles: Long =
    metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
