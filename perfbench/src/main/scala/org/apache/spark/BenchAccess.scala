package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark internals the benchmark reads: the listener bus (so a
  * measured span ends only after every event of its jobs has been seen)
  * and the whole-stage codegen counters. */
object BenchAccess {

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** (generated classes, summed compile milliseconds) since JVM start. The
    * compile-time histogram keeps every sample below its 1028-entry
    * reservoir, which a benchmark JVM does not reach. */
  def codegen(): (Long, Double) = {
    val classes = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
    val compile = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.map(_.toDouble).sum
    (classes, compile)
  }
}
