package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Test access to the block manager master, which Spark keeps private:
  * `live` is the ids of the RDDs that still hold at least one block.
  * `SparkContext.getPersistentRDDs` is a weak-value map, so it drops an
  * unreleased RDD as soon as the RDD object is garbage-collected, while
  * its blocks stay until the ContextCleaner removes them; the master's
  * block table counts them until then. An unpersist removes an RDD from
  * the table before it returns.
  */
object RddBlocks {
  def live(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks.keysIterator.collect { case RDDBlockId(id, _) => id })
      .toSet
}
