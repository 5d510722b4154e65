package org.apache.spark

/** Test access to the one `private[spark]` call a job-counting test needs:
  * waiting until every queued listener event has been delivered.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
