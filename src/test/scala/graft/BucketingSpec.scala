package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}
import org.apache.spark.sql.functions._
import graft.sources.Bucketing

/** Plan-level proof that the bucketed layout removes exchanges: the
  * scale claim is "pay the shuffle at write time, never again", and
  * these tests pin it the same way PlanSpec pins query shapes.
  */
class BucketingSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("co-bucketed tables join and aggregate with zero shuffle") {
    Bucketing.writeBucketed(
      Tables.orders(spark, dir).select("o_orderkey", "o_totalprice"),
      "orders_b", 4, Seq("o_orderkey"))
    Bucketing.writeBucketed(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
      "lineitem_b", 4, Seq("o_orderkey"))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
        .groupBy("o_orderkey").agg(sum("l_quantity").as("qty"))
      val p = j.queryExecution.explainString(SimpleMode)
      // the join and the agg both run on the write-time partitioning:
      // any hashpartitioning exchange means the layout was not trusted
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join re-shuffled:\n$p")
      // and the result is still correct
      val viaPlain = Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey").agg(sum("l_quantity").as("qty"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val viaBucketed = j.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(viaBucketed == viaPlain)
    }
  }

  test("a bucket-key equality filter prunes to a single bucket") {
    // a bare filter query has no shuffle to save, so the planner
    // disables the bucketed scan unless auto-bucketed-scan is off —
    // the production point-lookup config for a bucketed fact table
    withConf("spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val p = spark.table("orders_b").filter(col("o_orderkey") === 42)
        .queryExecution.explainString(FormattedMode)
      assert(p.contains("SelectedBucketsCount: 1 out of 4"),
        s"bucket pruning missing:\n$p")
    }
  }

  test("z-order compaction narrows BOTH key dimensions' file zone-maps") {
    val src = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_quantity")
    def avgWidth(out: String, key: String): Double = {
      val r = spark.read.parquet(out)
        .groupBy(input_file_name()).agg(
          (max(col(key)) - min(col(key))).as("w"))
        .agg(avg(col("w"))).head.getDouble(0)
      r
    }
    val single = java.nio.file.Files.createTempDirectory("graft_single_").toString
    val zed = java.nio.file.Files.createTempDirectory("graft_zorder_").toString
    Bucketing.compact(src, Seq(col("l_orderkey")), 8, 1000000L, single)
    // normalize both keys to the shared 8-bit domain before
    // interleaving (see the zvalue scaladoc — raw magnitudes would let
    // orderkey's high bits own every z-value)
    val Array(maxO, maxP) = src.agg(max("l_orderkey"), max("l_partkey"))
      .head.toSeq.map(_.asInstanceOf[Long].toDouble).toArray
    Bucketing.compact(src.withColumn("z",
        Bucketing.zvalue(
          expr(s"(l_orderkey * 256) div ${maxO.toLong + 1}"),
          expr(s"(l_partkey * 256) div ${maxP.toLong + 1}"), bits = 8)),
      Seq(col("z")), 8, 1000000L, zed)
    // single-key clustering leaves l_partkey unclustered: every file
    // spans ~the full partkey domain. Z-order must narrow it while
    // keeping l_orderkey's zone-maps far below the full domain too.
    val partSingle = avgWidth(single, "l_partkey")
    val partZ = avgWidth(zed, "l_partkey")
    assert(partZ < partSingle * 0.6,
      s"z-order did not narrow partkey zone-maps: $partZ vs $partSingle")
    val okeyFull = src.agg(max("l_orderkey")).head.getLong(0).toDouble
    assert(avgWidth(zed, "l_orderkey") < okeyFull * 0.6,
      "z-order lost orderkey clustering entirely")
  }

  test("compact's file layout does not depend on the session's RDD history") {
    val src = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
    def layout(): Set[(Long, Long)] = {
      val out = java.nio.file.Files.createTempDirectory("graft_layout_").toString
      Bucketing.compact(src, Seq(col("l_partkey")), 8, 1000000L, out)
      spark.read.parquet(out).groupBy(input_file_name())
        .agg(min("l_partkey"), max("l_partkey")).collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSet
    }
    val first = layout()
    // Spark seeds its range sample with the sampled RDD's id
    spark.sparkContext.parallelize(1 to 2).count()
    assert(layout() == first)
  }

  test("compact writes bounded, range-clustered files") {
    val out = java.nio.file.Files.createTempDirectory("graft_compact_").toString
    val src = Tables.lineitem(spark, dir) // 6005 rows at sf0.001
    Bucketing.compact(src, Seq(col("l_orderkey")), 4, 1000L, out)
    val files = new java.io.File(out).listFiles
      .filter(f => f.getName.startsWith("part-")).toSeq
    // 4 range partitions × ≤1000 rows per file: ≥ ceil(n/1000) files,
    // and no partition may exceed the cap
    assert(files.size >= (src.count() / 1000).toInt, files.map(_.getName))
    val back = spark.read.parquet(out)
    assert(back.count() == src.count())
    // range clustering: per-file key ranges must not all overlap —
    // the min of the file containing the global max key exceeds the
    // max of the file containing the global min key
    val perFile = back.groupBy(input_file_name().as("f"))
      .agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
      .collect()
    val globalLoFile = perFile.minBy(_.getLong(1))
    val globalHiFile = perFile.maxBy(_.getLong(2))
    assert(globalHiFile.getLong(1) > globalLoFile.getLong(2),
      "files are not range-clustered")
  }
}
