package org.apache.spark.storage

import org.apache.spark.{SparkContext, SparkEnv}

/** Reads Spark state the public API does not expose: the listener-bus
  * drain and the bytes RDD blocks hold in the driver's memory store. */
object StorageShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Memory held by cached, persisted and checkpointed RDD blocks of the
    * RDDs `keep` accepts. Broadcast and task-binary blocks are left out. */
  def rddMemoryB(keep: Int => Boolean): Long = {
    val bm = SparkEnv.get.blockManager
    bm.blockInfoManager.entries.collect {
      case (id: RDDBlockId, _) if keep(id.rddId) && bm.memoryStore.contains(id) => bm.memoryStore.getSize(id)
    }.sum
  }

  /** Removes every stored RDD block, also those of RDDs that nothing
    * references any more (with the ContextCleaner off they stay). */
  def dropRddBlocks(): Unit = {
    val bm = SparkEnv.get.blockManager
    bm.blockInfoManager.entries.collect { case (id: RDDBlockId, _) => id.rddId }.toSet
      .foreach((rdd: Int) => bm.master.removeRdd(rdd, blocking = true))
  }
}
