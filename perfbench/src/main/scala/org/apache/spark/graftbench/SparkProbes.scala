package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** Reads of Spark state that is `private[spark]`, kept in one place so the
  * rest of the benchmark stays on the public surface.
  */
object SparkProbes {

  /** Janino compiles so far in this JVM (driver and local executors share
    * the static registry). Every compile also records its time in ms.
    */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Mean recorded compile time in ms over the histogram's recent samples. */
  def meanCompileMs: Double = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean

  /** Blocks until every event posted so far has reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
