package org.apache.spark

/** The one package-private Spark call the harness needs: wait until every
  * queued listener event has been delivered, so counters read after an action
  * include that action's tasks.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
