package org.apache.spark

/** The one package-private hook the benchmark needs: wait until every
  * posted listener event has been delivered, so counters read after a
  * measured call include that call's jobs, stages and tasks. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
