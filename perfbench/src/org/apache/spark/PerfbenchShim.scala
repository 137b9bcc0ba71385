package org.apache.spark

/** The one package-private hook the traced run needs: block until the
  * listener bus has delivered every queued event, so per-iteration
  * counters are complete before they are read. */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
