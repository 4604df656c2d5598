package org.apache.spark

/** The one Spark internal the benchmark needs: waiting until the
  * listener bus has delivered every event, so counters read after a
  * span are complete.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
