package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Session wiring lives in [[GraftSession]] alone: a second hand-built
  * session is how settings drifted apart before (cleanCheckpoints
  * missing from half the mains, three different CPU defaults).
  */
class GraftSessionSpec extends AnyFunSuite with SparkTestBase {

  private def filesContaining(root: String, needles: String*): Seq[String] =
    Files.walk(Paths.get(root)).iterator.asScala
      .filter { p =>
        p.toString.endsWith(".scala") && {
          val src = Files.readString(p)
          needles.exists(src.contains)
        }
      }
      .map(_.getFileName.toString).toSeq

  test("GraftSession.scala is the only source file that builds a SparkSession") {
    val needle = "SparkSession" + ".builder()"
    val hits = Seq("src/main", "src/test").flatMap(filesContaining(_, needle))
    assert(hits == Seq("GraftSession.scala"))
  }

  // An operator's staged blocks are released by Fixpoint.scoped on every
  // exit path; a direct localCheckpoint/persist or a hand-kept buffer of
  // frames elsewhere in etl/ is a release the scope does not own.
  test("Fixpoint.scala is the only etl source that stages or pins a frame directly") {
    val hits = filesContaining("src/main/scala/graft/etl",
      ".localCheckpoint" + "()", ".persist" + "()", "ArrayBuffer.empty" + "[DataFrame]")
    assert(hits == Seq("Fixpoint.scala"))
  }

  test("the test session carries the factory's UTC, nanosAsLong and cleanCheckpoints") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf
      .get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
  }
}
