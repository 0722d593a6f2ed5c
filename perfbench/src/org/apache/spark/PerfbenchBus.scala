package org.apache.spark

/** Waits until every listener has seen every event posted so far, so a
  * traced span's job, task and plan counters are complete when read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
