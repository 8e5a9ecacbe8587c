package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so a
  * listener read right after an action has seen all of that action's jobs
  * and tasks. The listener bus is `private[spark]`, hence this one-liner
  * in the `org.apache.spark` namespace (same pattern as [[PlanProbe]]). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
