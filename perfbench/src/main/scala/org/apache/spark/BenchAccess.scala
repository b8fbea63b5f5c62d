package org.apache.spark

/** The one Spark-internal hook the harness needs: block until every
  * posted listener event has been delivered, so the traced run's job
  * and task counts are complete before they are read. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
