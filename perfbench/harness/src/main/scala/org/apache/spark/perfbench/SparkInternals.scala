package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The few package-private Spark counters the trace reads. */
object SparkInternals {
  /** Blocks until every listener has seen every event posted so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Cumulative whole-stage/expression codegen compile time, in ns. */
  def codegenCompileNanos: Long = CodeGenerator.compileTime

  /** Number of generated classes compiled so far. */
  def codegenClasses: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
