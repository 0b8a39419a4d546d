package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two package-private facts the benchmark's tracer needs. */
object PerfbenchAccess {
  /** The listener bus delivers events asynchronously; the traced run waits
    * for it to drain after each op so the op's counts are complete. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether the stage writes shuffle output (a map stage, not a result stage). */
  def isShuffleStage(info: StageInfo): Boolean = info.shuffleDepId.isDefined
}
