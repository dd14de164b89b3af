package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Session wiring lives in [[GraftSession]] alone: a second hand-built
  * session is how settings drifted apart before (cleanCheckpoints
  * missing from half the mains, three different CPU defaults).
  */
class GraftSessionSpec extends AnyFunSuite with SparkTestBase {

  test("GraftSession.scala is the only source file that builds a SparkSession") {
    val needle = "SparkSession" + ".builder()"
    val hits = Seq("src/main", "src/test").flatMap { root =>
      Files.walk(Paths.get(root)).iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(needle))
        .map(_.getFileName.toString)
    }
    assert(hits == Seq("GraftSession.scala"))
  }

  test("the test session carries the factory's UTC, nanosAsLong and cleanCheckpoints") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf
      .get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
  }
}
