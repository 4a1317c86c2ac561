package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two `private[spark]` facts the benchmark's listener needs, which
  * is why this lives in Spark's package.
  */
object SparkInternals {
  /** Wait until the listener bus has delivered every queued event, so a
    * listener's record of an op is complete before the op is summed up.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether a stage writes shuffle output (a map stage). */
  def isMapStage(si: StageInfo): Boolean = si.shuffleDepId.isDefined
}
