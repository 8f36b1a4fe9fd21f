package org.apache.spark

/** Test-only access to the listener bus drain, which Spark keeps
  * `private[spark]`: a listener's view of the jobs an action ran is only
  * complete once every queued event has been delivered. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
