package org.apache.spark.graftbench

/** Waits until every listener has seen every event posted so far, so the
  * counters read after a phase cover the whole phase. */
object Bus {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
