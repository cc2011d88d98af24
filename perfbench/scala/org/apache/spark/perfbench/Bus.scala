package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Scheduler internals the public API does not expose. The traced run
  * drains the listener bus after every op, so every event of an op is
  * delivered before the next op starts and its counters attach to it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether a stage writes shuffle output (its retry is a map recompute). */
  def isShuffleMap(info: StageInfo): Boolean = info.shuffleDepId.isDefined
}
