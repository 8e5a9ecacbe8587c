package org.apache.spark

/** Waits until every queued listener event has been delivered, so counts
  * read right after an action include that action's jobs and tasks. The
  * listener bus is Spark-internal, hence this file's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
