package org.apache.spark.sql.graftshim

import scala.reflect.ClassTag

import org.apache.spark.SparkEnv
import org.apache.spark.storage.{RDDBlockId, StorageLevel}

/** Bridge to the private[spark] BlockManager: store a block of a
  * persisted RDD from inside another RDD's task.
  */
object BlockBridge {
  /** Stores `values` as partition `split` of persisted RDD `rddId` and
    * reports it to the driver; a block that already exists is kept.
    */
  def putRddBlock[T: ClassTag](rddId: Int, split: Int, values: Iterator[T],
      level: StorageLevel): Boolean =
    SparkEnv.get.blockManager.putIterator(RDDBlockId(rddId, split), values, level)
}
