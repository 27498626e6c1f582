package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events arrive on Spark's asynchronous bus; the traced run
  * drains it after each operation so every job, stage and task event of
  * that operation has been seen before its spans are closed. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
