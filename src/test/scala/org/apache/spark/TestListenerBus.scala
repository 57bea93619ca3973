package org.apache.spark

/** The one package-private Spark call the specs need: listener events are
  * delivered asynchronously, so a spec reads what a listener counted only
  * after the bus has caught up with the driver. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
