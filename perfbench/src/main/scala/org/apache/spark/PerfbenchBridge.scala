package org.apache.spark

/** Access to the one `private[spark]` call the harness needs: waiting
  * until every queued listener event has been delivered, so span
  * attribution reads complete job, task and Catalyst records.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
