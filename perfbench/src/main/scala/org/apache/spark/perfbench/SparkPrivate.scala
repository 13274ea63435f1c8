package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two Spark-private reads the benchmark's tracer needs, hence this
  * package. */
object SparkPrivate {
  /** Blocks until every event posted so far has reached the listeners,
    * so a traced pass is read only after its events arrived. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def isShuffleMap(si: StageInfo): Boolean = si.shuffleDepId.isDefined
}
