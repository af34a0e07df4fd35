package org.apache.spark

/** The one spark-private call the harness needs: wait until every queued
  * listener event has been delivered, so that trace totals read at the
  * end of a phase include that phase's last tasks and stages. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
