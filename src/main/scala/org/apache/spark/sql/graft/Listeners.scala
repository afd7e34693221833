package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus of a SparkContext. */
object Listeners {
  /** Block until every queued listener event has been delivered.
    * Listener events arrive asynchronously: without this drain, a count
    * taken right after a job could miss the job's own events, or a
    * listener attached right before it could still see an earlier job's.
    * Spark's own test utilities drain the same way.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
