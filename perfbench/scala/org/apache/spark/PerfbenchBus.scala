package org.apache.spark

/** Spark internals the traced mode of the benchmark reads. Lives in
  * Spark's package because both are package-private. */
object PerfbenchBus {
  /** Waits until every listener event posted so far is delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whole-stage and expression code compilations so far (Janino). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount
}
