package org.apache.spark

/** Blocks until every posted listener event has been delivered, so a
  * spec's listener has seen every job of the actions it just ran. */
object ListenerAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
