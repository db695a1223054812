package org.apache.spark

/** Blocks until every listener has seen every event posted so far, so a
  * counter read right after an action is complete without sleeping
  * (`listenerBus` is `private[spark]`). */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
