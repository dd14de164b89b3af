package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.local(2, Seq(
    "spark.app.name" -> "graft-tests",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh_").toString))
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.spark
}
