package org.apache.spark

/** The two Spark internals the traced run needs, which are package-private:
  * draining the listener bus so a flow's events are all delivered before the
  * next flow starts, and counting the RDD blocks the local block manager
  * still holds. */
object PerfbenchAccess {
  def flushListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def rddBlockCount(): Int =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isRDD).size
}
