package org.apache.spark

/** Access to the one `private[spark]` call the benchmark's meter needs:
  * waiting until every listener event posted so far has been delivered,
  * so counters read after a timed call include that call's jobs. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
