package org.apache.spark

/** The one package-private Spark call the benchmark needs: waiting until
  * every posted listener event has been delivered, so the traced run's
  * job and stage records are complete before they are billed. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
