package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** How many blocks of RDD `rddId` the block managers hold. Spark keeps
  * the block manager master private to its own packages. */
object RddBlocks {
  def apply(sc: SparkContext, rddId: Int): Int =
    sc.env.blockManager.master.getMatchingBlockIds({
      case RDDBlockId(id, _) => id == rddId
      case _ => false
    }, askStorageEndpoints = true).size
}
