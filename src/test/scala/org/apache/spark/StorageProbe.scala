package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Test access to the block manager master, which is private[spark]:
  * the ids of the RDDs that hold blocks right now, as the block
  * managers report them. Unlike SparkContext.getPersistentRDDs, whose
  * values are weak references that any collection drops, this sees a
  * block until its storage is actually freed.
  */
object StorageProbe {
  def rddsWithBlocks(): Set[Int] =
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .collect { case RDDBlockId(rddId, _) => rddId }
      .toSet
}
