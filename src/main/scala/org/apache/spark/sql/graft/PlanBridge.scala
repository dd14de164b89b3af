package org.apache.spark.sql.graft

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.sql.DataFrame

/** Checkpoint-plan bridge: reaches the RDD behind a checkpointed
  * frame's `LogicalRDD` leaf and Spark's `private[spark]` unpersist —
  * a one-hop shim in Spark's package, same pattern as [[ColumnBridge]].
  */
object PlanBridge {
  /** Unpersist the block-manager blocks behind a `localCheckpoint()`ed
    * frame (its analyzed plan is a `LogicalRDD` over the checkpointed
    * RDD — `Dataset.unpersist` can't reach it: that only clears the
    * SQL CacheManager). Safe once nothing downstream will re-read the
    * frame; a later action on it would fail (lineage is truncated), so
    * callers release only intermediates whose final consumer has been
    * materialized. No-op for non-LogicalRDD plans.
    */
  def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        unpersist(r.rdd, blocking = false)
      case _ => ()
    }

  /** `rdd.unpersist(blocking)`, except that a locally checkpointed RDD
    * goes through the `private[spark]` `SparkContext.unpersistRDD`:
    * `RDD.unpersist` on one logs a lineage-truncation WARN on every
    * call, and releasing is the expected end of its life here.
    */
  def unpersist(rdd: RDD[_], blocking: Boolean): Unit =
    if (rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]))
      rdd.sparkContext.unpersistRDD(rdd.id, blocking)
    else { rdd.unpersist(blocking); () }

  /** The reliable-checkpoint directory backing a frame returned by
    * `Fixpoint.reliably` (its analyzed plan is a `LogicalRDD` over a
    * reliably-checkpointed RDD; `getCheckpointFile` is that RDD's
    * on-disk `rdd-N` directory). None for frames that aren't
    * checkpoint scans — including localCheckpoint'ed ones, whose
    * state lives in the block manager, not in files.
    */
  def checkpointFile(df: DataFrame): Option[String] =
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.getCheckpointFile
      case _ => None
    }
}
