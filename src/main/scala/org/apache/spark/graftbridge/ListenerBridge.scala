package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; code that reads
  * what a listener collected (graft.PlanDump's captured plans, the
  * specs' job and task counters) needs a deterministic flush instead
  * of a sleep. Same shim pattern as
  * [[org.apache.spark.sql.graftbridge.ColumnBridge]]. */
object ListenerBridge {
  /** Block until every queued listener event has been delivered. */
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
