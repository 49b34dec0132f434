package org.apache.spark

/** Spark internals the specs read. Lives in Spark's package because
  * both are package-private. */
object SpecProbe {
  /** Waits until every listener event posted so far is delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whole-stage and expression code compilations so far (Janino), in
    * this JVM. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount
}
