package org.apache.spark

/** The one Spark-internal call the harness needs: drain the listener bus
  * so job, stage and task counts read after a call are complete. */
object BenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
