package org.apache.spark

/** The one package-private call the benchmark needs: wait until every
  * listener event posted so far has been delivered, so the per-operation
  * counters read after an operation include all of its tasks. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
