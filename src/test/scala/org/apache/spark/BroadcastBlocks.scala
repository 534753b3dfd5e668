package org.apache.spark

/** Test hook: the broadcast blocks the driver's block manager holds, by
  * name. The block manager is package-private to Spark. */
object BroadcastBlocks {
  def apply(sc: SparkContext): Set[String] =
    sc.env.blockManager.getMatchingBlockIds(_.isBroadcast).map(_.name).toSet
}
