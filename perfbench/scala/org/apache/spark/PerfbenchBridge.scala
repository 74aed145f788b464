package org.apache.spark

/** Bridge into `private[spark]` scheduler and storage state. */
object PerfbenchBridge {
  /** The traced run reads its listener's counters only after every
    * posted event has been delivered.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether any RDD block is still cached (an asynchronous unpersist may
    * still be removing one).
    */
  def rddBlocksCached(sc: SparkContext): Boolean =
    sc.env.blockManager.master.getStorageStatus.exists(_.rddBlocks.nonEmpty)
}
