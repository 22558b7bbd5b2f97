package org.apache.spark

/** Listener-bus drain for the benchmark's recorder. Task and query events are
  * delivered asynchronously, so a report read straight after the last action
  * would miss the tail; the drain is only reachable from this package.
  */
object MedbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
