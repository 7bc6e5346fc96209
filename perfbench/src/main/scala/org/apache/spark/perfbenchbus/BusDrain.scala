package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered.
  * Spark keeps the listener bus package-private; the benchmark's tracer
  * needs it drained before it closes an operation's span, so that jobs,
  * stages and query-execution callbacks land in the right operation.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
