package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.storage.RDDBlockId

/** private[spark] bridge to the block manager master: what an RDD's
  * stored blocks hold. The master learns of a block when it is stored,
  * so the figure is complete once the action that filled it returns
  * (the UI's storage figures arrive later, through the listener bus). */
object BlockShim {

  /** Bytes in memory plus on disk of `rddId`'s blocks, over every block
    * manager (0 when none are stored). */
  def rddBytes(sc: SparkContext, rddId: Int): Long =
    sc.env.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks.iterator)
      .collect { case (RDDBlockId(`rddId`, _), s) => s.memSize + s.diskSize }
      .sum
}
