package org.apache.spark

/** The one engine-private call the benchmark needs: block until every
  * listener has seen every event posted so far, so counters read after
  * a span are complete without sleeping. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
