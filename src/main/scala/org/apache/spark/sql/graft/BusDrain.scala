package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is private[spark]; graft.tools.Profile reads its
  * listener only after this, so a run's jobs, stages and tasks are all
  * there and none of them leaks into the next run.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
