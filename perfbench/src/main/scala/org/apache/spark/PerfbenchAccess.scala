package org.apache.spark

/** The two engine internals the benchmark's tracer reads. Both are
  * `private[spark]`, hence this package.
  */
object PerfbenchAccess {

  /** Block until every event posted so far has reached every listener, so a
    * span's job and task counters are complete when it is read.
    */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Whole-stage and expression codegen compilations so far in this JVM. */
  def codegenCompiles: Long =
    metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
