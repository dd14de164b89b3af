package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test-only bridge into `private[spark]` internals:
  * QueryExecutionListener events are relayed on the async shared bus,
  * so a spec that registers a listener and immediately asserts would
  * race the delivery thread. `waitUntilEmpty` blocks until every queued
  * event is dispatched. `rddBlockCount` asks the block manager how many
  * blocks of one RDD any executor still stores.
  */
object TestBusBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def rddBlockCount(sc: SparkContext, rddId: Int): Int =
    sc.env.blockManager.master.getMatchingBlockIds(
      _.asRDDId.exists(_.rddId == rddId), askStorageEndpoints = true).size
}
