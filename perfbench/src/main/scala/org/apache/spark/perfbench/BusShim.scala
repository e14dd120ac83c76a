package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: engine counts read right after an
  * action would miss its last events. `waitUntilEmpty` is
  * Spark-private, hence this one-line shim in Spark's package. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
