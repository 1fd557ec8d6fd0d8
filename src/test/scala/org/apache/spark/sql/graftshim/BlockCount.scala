package org.apache.spark.sql.graftshim

import org.apache.spark.SparkEnv
import org.apache.spark.storage.RDDBlockId

/** Blocks of an RDD held by any block manager, read on the driver
  * through the private[spark] BlockManagerMaster.
  */
object BlockCount {
  def of(rddId: Int): Int =
    SparkEnv.get.blockManager.master.getMatchingBlockIds({
      case RDDBlockId(`rddId`, _) => true
      case _ => false
    }, askStorageEndpoints = true).size
}
