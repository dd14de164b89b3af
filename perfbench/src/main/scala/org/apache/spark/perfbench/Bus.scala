package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; living in its package lets the
  * benchmark wait until every event of a finished operation has reached
  * its listener before reading the counters.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
