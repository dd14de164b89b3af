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

  // An Observation read before its action returns, or on a job that
  // never ran, waits forever; Fixpoint's staging helpers are the one
  // place that reads one, after the action. Named observe(name, ...)
  // metrics (Observability.withDocStats) carry no such wait.
  test("Fixpoint.scala is the only main source that uses an Observation") {
    val hits = filesContaining("src/main", "Observation")
    assert(hits == Seq("Fixpoint.scala"))
  }

  // Every embedding query scores pairs through Similarity.cos4; a second
  // inline cosine is a second rounding/norm decision that can drift.
  test("the etl sources call the codegen'd dot product in exactly one place") {
    val needle = "dotF" + "("
    val hits = Files.walk(Paths.get("src/main/scala/graft/etl")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => Files.readString(p).sliding(needle.length).count(_ == needle))
      .sum
    assert(hits == 1, s"$hits dotF call sites under etl/")
  }

  // Every per-key top-k cut goes through GroupTopK.topK, whose output is
  // exactly the shape RewriteRankFilterToGroupTopK plans as a bounded
  // heap; a hand-written rank window that drifts from it (rank() for
  // row_number(), a non-literal bound) silently falls back to a sorted
  // WindowExec. The row_number() lines left under etl/ number rows
  // (batches, page ids, shard offsets, versions, rank statistics) or
  // flag them; they do not cut.
  test("the etl sources hand-write no top-k rank window") {
    val needle = "row_number" + "()"
    val lines = Files.walk(Paths.get("src/main/scala/graft/etl")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => Files.readAllLines(p).asScala.count(_.contains(needle)))
      .sum
    assert(lines == 17, s"$lines row_number() lines under etl/")
  }

  // A per-row kernel is a static method plus one Kernel table row, called
  // through KernelCall; a hand-written Expression class names its method
  // twice (interpreted and codegen string) and the two can drift.
  test("KernelCall.scala is the only functions source with a scalar Expression class") {
    val hits = filesContaining("src/main/scala/graft/functions",
      "Unary" + "Expression", "Binary" + "Expression", "Ternary" + "Expression")
    assert(hits.forall(_ == "KernelCall.scala"), hits)
  }

  test("the test session carries the factory's UTC, nanosAsLong and cleanCheckpoints") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf
      .get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
  }
}
