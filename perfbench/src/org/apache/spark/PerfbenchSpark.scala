package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark internals the benchmark's traced run reads; both are
  * package-private, hence this package. */
object PerfbenchSpark {
  /** Blocks until every listener event posted so far is delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Whole-stage and expression classes Janino has compiled so far. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
