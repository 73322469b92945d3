package org.apache.spark

/** The one Spark-internal call the harness needs: listener events are
  * delivered asynchronously, so counters are read only after the bus has
  * delivered everything posted so far. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
