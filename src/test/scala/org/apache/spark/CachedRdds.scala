package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Test access to the block manager (package-private): the ids of the RDDs
  * that still hold cached blocks. */
object CachedRdds {
  def apply(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isInstanceOf[RDDBlockId], askStorageEndpoints = true)
      .collect { case RDDBlockId(id, _) => id }.toSet
}
