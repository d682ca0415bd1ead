package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; per-layer counters
  * are read only after the bus has delivered every event posted so far.
  * `waitUntilEmpty` is Spark-internal, hence this package.
  */
object BusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
