package org.apache.spark

/** The one package-private Spark call the harness needs: draining the
  * listener bus, so counters read at a span boundary include every event
  * posted before it. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
