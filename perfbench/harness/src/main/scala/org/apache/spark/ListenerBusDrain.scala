package org.apache.spark

/** Waits until every listener has seen every event posted so far. The bus
  * method is package-private; traced runs call this between queries,
  * outside the timed region, so each query's events are complete before
  * the next query starts. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
