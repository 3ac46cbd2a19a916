package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps `private[spark]`: task-end
  * events reach listeners asynchronously, so the benchmark drains the bus
  * before it reads what its listener accumulated for a call. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
