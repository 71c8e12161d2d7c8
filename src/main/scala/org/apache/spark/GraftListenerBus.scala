package org.apache.spark

/** Waits until every listener has seen every event posted so far (the bus
  * method is package-private), so listener counts read afterwards are
  * complete: trailing stage and task events of a finished action are
  * otherwise still queued. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
