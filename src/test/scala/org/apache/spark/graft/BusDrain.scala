package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is asynchronous, so counts read right after an
  * action can miss its last events. `waitUntilEmpty` is Spark-private,
  * hence this shim in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
