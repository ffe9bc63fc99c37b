package org.apache.spark

/** The one `private[spark]` call the benchmark needs: wait until the
  * listener bus has delivered every queued event, so counters read at an op
  * boundary include all tasks and queries that finished before it.
  */
object PerfBenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
