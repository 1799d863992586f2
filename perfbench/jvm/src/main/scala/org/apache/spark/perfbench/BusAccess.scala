package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: before the benchmark reads its
  * listeners' records it waits for every posted event to be delivered.
  * `waitUntilEmpty` is package-private to Spark, hence this package. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
