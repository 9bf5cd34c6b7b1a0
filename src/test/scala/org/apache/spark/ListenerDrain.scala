package org.apache.spark

/** Test hook for the package-private listener bus: wait until every
  * posted event has been delivered, so counters read after a measured
  * call include that call's jobs, stages and tasks. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
