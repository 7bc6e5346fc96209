package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is private[spark]; `graft.QueryTrace` reads its
  * listener only after this, so a run's jobs, stages, tasks and
  * decisions are all there and none of them leaks into the next run.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** A runtime choice the engine made for itself (`name` says which
  * choice, `choice` what was picked and why). Engine code posts it on
  * the listener bus; `graft.QueryTrace` lands it in the record of the
  * query being traced, and nothing else listens for it.
  */
final case class Decision(name: String, choice: String) extends SparkListenerEvent

object Decision {
  def post(sc: SparkContext, name: String, choice: String): Unit =
    sc.listenerBus.post(Decision(name, choice))
}
