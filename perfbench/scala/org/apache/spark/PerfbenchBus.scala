package org.apache.spark

/** Waits until every event posted so far has reached every listener, so
  * the harness reads complete action and progress logs at operation
  * boundaries. The listener bus has no public flush; this is its only
  * use of a Spark-internal name.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
