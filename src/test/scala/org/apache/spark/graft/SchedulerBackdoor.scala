package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SchedulerBackend

/** Test-only accessors for `private[spark]` SparkContext members —
  * lets graft specs assert against the running
  * [[org.apache.spark.scheduler.cluster.lambda.LambdaSchedulerBackend]]
  * and count listener events exactly. */
object SchedulerBackdoor {
  def backend(sc: SparkContext): SchedulerBackend = sc.schedulerBackend

  /** Block until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
