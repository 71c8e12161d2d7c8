package org.apache.spark

/** Lets specs wait until every listener has seen every event posted so
  * far (the bus method is package-private), so listener counts are
  * complete before they are asserted. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
