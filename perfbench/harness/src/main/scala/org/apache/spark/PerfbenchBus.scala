package org.apache.spark

import scala.util.Try

/** The parts of Spark the traced run reads that are private to Spark. */
object PerfbenchBus {
  /** Waits until every posted listener event has been delivered, so a
    * pass is summed only after all of its events. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes of block storage held now: the memory store's (cached,
    * checkpoint and broadcast blocks, on and off heap) plus the RDD and
    * broadcast blocks kept on disk. */
  def storedBytes(): Long = {
    val bm = SparkEnv.get.blockManager
    val disk = Try(bm.diskBlockManager.getAllBlocks()
      .filter(b => b.isRDD || b.isBroadcast)
      .map(b => Try(bm.diskStore.getSize(b)).getOrElse(0L)).sum).getOrElse(0L)
    bm.memoryManager.storageMemoryUsed + disk
  }
}
