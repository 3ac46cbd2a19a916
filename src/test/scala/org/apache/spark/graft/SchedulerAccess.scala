package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Scheduler details Spark keeps `private[spark]`, for suites that count
  * jobs and stages: listener events arrive asynchronously, so such a
  * suite drains the bus before it reads its listener. */
object SchedulerAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The shuffle a map stage writes; None for a result stage. */
  def shuffleId(s: StageInfo): Option[Int] = s.shuffleDepId
}
