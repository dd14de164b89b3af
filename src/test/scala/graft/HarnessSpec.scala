package graft

import java.nio.file.Files
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The shared harness: the between-query scrub every timing and dump
  * main relies on, and the up-front name check of the mains that take
  * query names.
  */
class HarnessSpec extends AnyFunSuite with SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("scrub releases the SQL cache and persistent RDDs; keepMemo = false " +
      "also clears the memo, checkpoint files included") {
    Harness.scrub(spark, keepMemo = false)
    val pairs = graft.etl.Dedup.minhashLsh(spark, dir)
    val ckpt = PlanBridge.checkpointFile(pairs)
      .getOrElse(fail("pair memo is not a reliable checkpoint"))
    val file = new java.io.File(new java.net.URI(ckpt).getPath)
    def scrubPinned(keepMemo: Boolean): Unit = {
      val cached = spark.range(100).selectExpr("id * 2 AS x").persist()
      cached.collect()
      val local = spark.sparkContext.parallelize(1 to 10).localCheckpoint()
      local.count()
      assert(cached.storageLevel != StorageLevel.NONE)
      assert(spark.sparkContext.getPersistentRDDs.contains(local.id))
      Harness.scrub(spark, keepMemo)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
      assert(cached.storageLevel == StorageLevel.NONE, "frame still in the SQL cache")
    }
    scrubPinned(keepMemo = true)
    assert(file.exists && (graft.etl.Dedup.minhashLsh(spark, dir) eq pairs),
      "keepMemo = true dropped the memo")
    scrubPinned(keepMemo = false)
    assert(!file.exists, "memo checkpoint files survived the scrub")
    assert(!(graft.etl.Dedup.minhashLsh(spark, dir) eq pairs),
      "memo still served the pre-scrub frame")
  }

  test("scrub releases a local checkpoint a planOnly scope left pinned, " +
      "blocks included, without a lineage-truncation warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.graft.TestBusBridge.rddBlockCount
    val sc = spark.sparkContext
    Harness.scrub(spark, keepMemo = true)
    // planOnly keeps a scope's local blocks on exit (Fixpoint.Scope)
    graft.etl.Fixpoint.planOnly(graft.etl.Fixpoint.scoped { scope =>
      assert(scope.local(spark.range(10).toDF("x")).count() == 10L)
    })
    val left = sc.getPersistentRDDs.keys.toSeq
    assert(left.nonEmpty && left.forall(rddBlockCount(sc, _) > 0),
      "the planOnly scope left no local checkpoint to scrub")
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("scrub-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(s"${e.getLevel} ${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    val level = root.getLevel
    if (!root.isWarnEnabled) root.setLevel(Level.WARN)
    root.addAppender(appender)
    try Harness.scrub(spark, keepMemo = true)
    finally {
      root.removeAppender(appender)
      root.setLevel(level)
      appender.stop()
    }
    assert(sc.getPersistentRDDs.isEmpty)
    assert(left.forall(rddBlockCount(sc, _) == 0), "scrubbed blocks still stored")
    import scala.jdk.CollectionConverters._
    val warned = lines.asScala.filter(_.contains("locally checkpointed"))
    assert(warned.isEmpty, warned.mkString("\n"))
  }

  private def assertRejected(code: Int, out: String): Unit =
    assert(code != 0 && out.contains("unknown queries: typo"),
      s"exit $code:\n${ChildJvm.tail(out)}")

  test("Verify fails on an unknown query name before dumping anything") {
    val out = Files.createTempDirectory("graft-verify-typo")
    val (code, log) = ChildJvm.run("graft.Verify", Seq(dir, out.toString, "q1_agg", "typo"))
    assertRejected(code, log)
    assert(!Files.exists(out.resolve("oracle_sql.json")))
    Files.delete(out)
  }

  test("Bench fails on an unknown SPARK_GRAFT_BENCH_ONLY name before timing anything") {
    val tmp = Files.createTempDirectory("graft-bench-typo")
    val (code, log) = ChildJvm.run("graft.Bench", Nil,
      "SPARK_GRAFT_SF_DIR" -> dir, "SPARK_GRAFT_BENCH_ONLY" -> "q1_agg,typo",
      "SPARK_GRAFT_BENCH_OUT" -> tmp.resolve("BENCH.json").toString)
    assertRejected(code, log)
    assert(!Files.exists(tmp.resolve("BENCH.json")))
    Files.delete(tmp)
  }

  test("TimeQuery and PlanDump fail on an unknown name before printing a result") {
    val (tq, tqLog) = ChildJvm.run("graft.TimeQuery", Seq(dir, "q1_agg,typo", "1"))
    assertRejected(tq, tqLog)
    assert(!tqLog.contains("[timequery]"))
    val (pd, pdLog) = ChildJvm.run("graft.PlanDump", Seq("--simple", dir, "q1_agg", "typo"))
    assertRejected(pd, pdLog)
    assert(!pdLog.contains("====="))
  }

  test("ScaleCheck fails on a retired mode name before generating a corpus") {
    val out = Files.createTempDirectory("graft-scale-typo")
    val (code, log) = ChildJvm.run("graft.ScaleCheck", Seq(out.toString, "1", "saltcheck"))
    assert(code != 0 && log.contains("unknown queries: saltcheck"),
      s"exit $code:\n${ChildJvm.tail(log)}")
    assert(!Files.exists(out.resolve("documents.parquet")))
    Files.delete(out)
  }
}
