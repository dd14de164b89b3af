package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.local(2, Seq(
    "spark.app.name" -> "graft-tests",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh_").toString))
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Materialize `df` and return every QueryExecution it ran. A
    * QueryExecutionListener records each action (the per-round
    * `checkpoint` actions included); delivery is async, so we drain the
    * bus before unregistering.
    */
  protected def executedQes(df: => DataFrame): Seq[QueryExecution] = {
    import org.apache.spark.sql.util.QueryExecutionListener
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = qes.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      Harness.materialize(df)
      org.apache.spark.graft.TestBusBridge.waitUntilEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    qes.asScala.toSeq
  }
}
