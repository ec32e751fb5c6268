package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the
  * listener bus has delivered every event posted so far, so the traced
  * run's per-layer totals are complete when they are read. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
