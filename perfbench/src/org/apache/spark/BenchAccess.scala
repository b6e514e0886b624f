package org.apache.spark

/** The one package-private hook the benchmark needs: block until the
  * listener bus has delivered every event posted so far, so a run's stage
  * and query records are complete before they are read.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
