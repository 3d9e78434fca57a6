package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * traced run reads complete job and stage counters. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
