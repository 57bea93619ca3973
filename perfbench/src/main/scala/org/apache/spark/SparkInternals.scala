package org.apache.spark

/** The one package-private Spark call the benchmark needs: listener events
  * are delivered asynchronously, so counters are read only after the bus
  * has caught up with the driver. */
object SparkInternals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
