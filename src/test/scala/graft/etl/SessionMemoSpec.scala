package graft.etl

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import org.apache.spark.sql.graft.PlanBridge

/** The memo's eviction/build race contract (ADVICE r14 item 2): an
  * eviction that lands while a build is IN FLIGHT must not leak the
  * build's eventual checkpoint files (pre-r15, the evictor saw
  * builtFrame=None and the files outlived every map entry), and the
  * racing caller must resolve to the CURRENT data, not the superseded
  * snapshot it started building against.
  */
class SessionMemoSpec extends AnyFunSuite with SparkTestBase {

  test("an eviction racing an in-flight build releases that build's " +
      "checkpoint files on completion, and the builder's caller " +
      "retries onto the current fingerprint") {
    val memo = new SessionMemo[String]
    val tmp = java.nio.file.Files.createTempDirectory("graft-memo-race").toString
    import spark.implicits._
    def write(n: Int): Unit =
      (0L until n.toLong).map(i => (i, s"text $i"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def freshFrame(): DataFrame =
      Fixpoint.reliably(spark.read.parquet(s"$tmp/documents.parquet"))
    val started = new CountDownLatch(1)
    val unblock = new CountDownLatch(1)
    @volatile var inner: DataFrame = null    // what the slow build created
    @volatile var resolved: DataFrame = null // what its caller got back
    @volatile var failure: Throwable = null
    try {
      write(4)
      val builder = new Thread(() => {
        try resolved = memo.get(spark, tmp, "p") {
          started.countDown()
          unblock.await()
          inner = freshFrame()
          inner
        } catch { case t: Throwable => failure = t }
      })
      builder.start()
      started.await()
      // regenerate the dir while the first build is still in flight:
      // the next lookup computes a NEW fingerprint and evicts the
      // in-flight entry
      write(6)
      val second = memo.get(spark, tmp, "p")(freshFrame())
      assert(second.count() == 6L)
      unblock.countDown()
      builder.join(60000)
      assert(failure == null, s"builder thread failed: $failure")
      // the evicted build's checkpoint files are gone (released by the
      // builder itself on completion — the evictor could not see them)
      val f = PlanBridge.checkpointFile(inner)
      assert(f.nonEmpty, "slow build did not produce a checkpoint frame")
      val p = new org.apache.hadoop.fs.Path(f.get)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(p),
        s"evicted in-flight build leaked checkpoint files at $p")
      // ...and the builder's caller resolved to the current entry, not
      // the superseded snapshot it started with
      assert(resolved eq second)
      assert(resolved.count() == 6L)
    } finally {
      memo.clearAndRelease()
      graft.Harness.deleteRecursively(new java.io.File(tmp))
    }
  }
}
