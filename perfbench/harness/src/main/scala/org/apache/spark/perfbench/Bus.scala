package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far reached the listeners, so the
  * traced run attributes all of an op's jobs, tasks and query events.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
