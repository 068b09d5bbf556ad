package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two Spark internals the benchmark's listener needs, both
  * package-private: the listener bus delivers events asynchronously, so a
  * reader must let it drain first; and whether a stage is a shuffle-map
  * stage (a merge's exchange) or a result stage (its write). */
object PerfbenchHooks {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def isShuffleMap(si: StageInfo): Boolean = si.shuffleDepId.isDefined
}
