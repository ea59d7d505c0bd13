package org.apache.spark

/** The one Spark internal the harness touches: waiting until every
  * listener event posted so far has been delivered, so a traced pass's
  * task metrics are complete before the listener is detached. */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
