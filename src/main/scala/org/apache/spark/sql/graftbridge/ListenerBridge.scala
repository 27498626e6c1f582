package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Test access to the private[spark] listener bus: lets a listener-based
  * metric (JobTrace, PlanSpec's shuffle counters) drain pending job and
  * stage events before reading its accumulated counters. */
object ListenerBridge {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
