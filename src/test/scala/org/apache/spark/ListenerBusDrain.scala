package org.apache.spark

/** Test access to the one `private[spark]` call job-count checks need: wait
  * until the listener bus has delivered every queued event.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
