package org.apache.spark

/** Test access to the context's listener bus, which is private to Spark:
  * listener events (QueryExecutionListener included) arrive on it
  * asynchronously, so a spec drains it before reading what a listener
  * counted.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
