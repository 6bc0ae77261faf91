package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Test access to state that is private[spark].
  *
  * [[rddsWithBlocks]] asks the block manager master for the ids of the
  * RDDs that hold blocks right now, as the block managers report them.
  * Unlike SparkContext.getPersistentRDDs, whose values are weak
  * references that any collection drops, this sees a block until its
  * storage is actually freed.
  */
object StorageProbe {
  def rddsWithBlocks(): Set[Int] =
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .collect { case RDDBlockId(rddId, _) => rddId }
      .toSet

  /** How many listeners the active context's listener bus holds. */
  def listenerCount(): Int =
    SparkContext.getActive.fold(0)(_.listenerBus.listeners.size)

  /** Wait until the listener bus has delivered every event posted so
    * far, so a listener's counts are complete.
    */
  def drainListenerBus(): Unit =
    SparkContext.getActive.foreach(_.listenerBus.waitUntilEmpty())
}
