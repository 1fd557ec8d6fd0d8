package org.apache.spark.sql.graftshim

import org.apache.spark.SparkEnv
import org.apache.spark.storage.{BroadcastBlockId, RDDBlockId}

/** Blocks held by any block manager, read on the driver through the
  * private[spark] BlockManagerMaster.
  */
object BlockCount {
  /** Blocks of an RDD. */
  def of(rddId: Int): Int =
    SparkEnv.get.blockManager.master.getMatchingBlockIds({
      case RDDBlockId(`rddId`, _) => true
      case _ => false
    }, askStorageEndpoints = true).size

  /** Blocks of the broadcasts with ids in `[from, until)`, pieces included. */
  def broadcasts(from: Long, until: Long): Int =
    SparkEnv.get.blockManager.master.getMatchingBlockIds({
      case BroadcastBlockId(id, _) => id >= from && id < until
      case _ => false
    }, askStorageEndpoints = true).size
}
