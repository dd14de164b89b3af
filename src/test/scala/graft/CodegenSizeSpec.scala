package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.ByteCodeStats
import org.apache.spark.sql.execution.debug.codegenStringSeq

/** No generated method past HotSpot's JIT limit. The JVM never compiles
  * a method of more than 8,000 bytes of bytecode (`DontCompileHugeMethods`
  * is on by default), so a whole-stage-codegen stage whose method passes
  * it runs in the bytecode interpreter on every row; Spark only logs
  * "Generated method too long to be JIT compiled". This spec compiles
  * every whole-stage-codegen subtree of every plan the workloads execute
  * and fails on any method over the limit, naming the stage.
  */
class CodegenSizeSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private val HugeMethodLimit = 8000

  /** (stage, max method bytes) of every codegen subtree `df` executed. */
  private def methodSizes(df: => DataFrame): Seq[(String, Int)] = {
    val stages = executedQes(df).flatMap(qe => codegenStringSeq(qe.executedPlan))
    stages.foreach { case (stage, _, stats) =>
      assert(stats != ByteCodeStats.UNAVAILABLE, s"stage did not compile:\n$stage")
    }
    stages.map { case (stage, _, stats) => stage -> stats.maxMethodCodeSize }
  }

  private def assertFits(what: String, df: => DataFrame): Unit = {
    val sizes = methodSizes(df)
    assert(sizes.nonEmpty, s"$what ran no whole-stage codegen")
    val huge = sizes.filter(_._2 > HugeMethodLimit)
    // each plan line cut to 200 characters: a wide projection prints
    // thousands
    if (huge.nonEmpty) fail(s"$what generated methods over $HugeMethodLimit bytes:\n" +
      huge.map { case (stage, n) =>
        s"$n bytes in\n" + stage.linesIterator.map(_.take(200)).mkString("\n")
      }.mkString("\n"))
  }

  test("the corpus build generates no method past the JIT limit") {
    val out = java.nio.file.Files.createTempDirectory("graft_codegen_").toFile
    try assertFits("the corpus build",
      etl.CorpusPipeline.build(spark, dir, out.toString))
    finally Harness.deleteRecursively(out)
  }

  for (q <- Seq("char_entropy", "minhash_fast"))
    test(s"$q generates no method past the JIT limit") {
      assertFits(q, SparkEntry.queries(q)(spark, dir))
    }
}
