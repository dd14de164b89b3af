package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.GroupTopK

/** Aggregation-stage operators (SURVEY.md §2.4/§2.5/§2.8):
  *  - A1/A9 crawl statistics with relevance bands (crawler-summarizer.md:199-210)
  *  - A4 two-level (partial→final) aggregation    (DESIGN.md:153-195)
  *  - T2/A5 top-k pages for the report            (crawler-summarizer.md:100-107)
  *  - A6/G3 heading extraction                    (crawler-summarizer.md:288-314)
  *  - A7/J4 knowledge-map tree closure            (crawler-summarizer.md:317-341)
  *  - A8 greedy batch packing via running sum     (DESIGN.md:729-764)
  */
object Aggregates {

  /** Scored documents — shared input of the aggregate queries. */
  def scoredDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("relevance", Scoring.scorePage(col("text"), Scoring.PageTopic))

  /** A1: per-language crawl stats with banded relevance counts.
    * Conditional aggregation (count(when(...))) = one pass, map-side
    * partial agg, single shuffle on lang.
    */
  def crawlStats(spark: SparkSession, dir: String): DataFrame =
    scoredDocs(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_pages"),
        max(col("n_chars")).as("max_chars"),
        sum(col("n_chars")).as("total_chars"),
        count(when(col("relevance") >= 8, 1)).as("hi_band"),
        count(when(col("relevance") >= 5 && col("relevance") < 8, 1)).as("mid_band"),
        count(when(col("relevance") < 5, 1)).as("lo_band"))
      .orderBy("lang")

  /** A4: hierarchical (two-level) aggregation — per-(lang, source) partial
    * rollup, then per-lang final. Mirrors the reference's summary pyramid:
    * every intermediate row is bounded, so no single aggregation ever
    * holds unbounded input (the IRON RULE at Spark scale = partial aggs).
    */
  def hierarchicalStats(spark: SparkSession, dir: String): DataFrame = {
    val partial = scoredDocs(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        max(col("relevance")).as("best_relevance"))
    partial
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sources"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("chars")).as("total_chars"),
        max(col("best_relevance")).as("best_relevance"))
      .orderBy("lang")
  }

  /** T2/A5: top-10 pages by relevance (report head). Sort+limit plans as
    * TakeOrderedAndProject — per-partition top-k then a k-row merge, no
    * global sort at scale.
    */
  def topkPages(spark: SparkSession, dir: String): DataFrame =
    scoredDocs(spark, dir)
      .select(col("doc_id"), col("lang"), col("relevance"), col("n_chars"))
      .orderBy(col("relevance").desc, col("doc_id").asc)
      .limit(10)

  /** Per-group top-k: top-3 docs per language, planned on the native
    * [[GroupTopK]] operator (bounded per-group heaps, no window sort —
    * O(n log k) instead of O(n log n)). The total order (relevance
    * desc, doc_id asc) makes the ranks engine-deterministic. Serves both
    * topk_per_lang and topk_native.
    */
  def topkPerLang(spark: SparkSession, dir: String): DataFrame =
    GroupTopK.topK(scoredDocs(spark, dir), 3, "rn", Seq("lang"),
        col("relevance").desc, col("doc_id").asc)
      .select(col("lang"), col("rn"), col("doc_id"), col("relevance"))
      .orderBy("lang", "rn")

  /** A6/G3: markdown heading extraction → exploded (level, title) rows.
    * `documents.text` has no headings, so a deterministic markdown shell
    * is derived first (title + lang subheading), then parsed with the
    * same multiline regex in both engines.
    */
  def headingExtract(spark: SparkSession, dir: String): DataFrame = {
    val md = concat(
      lit("# doc "), col("doc_id").cast("string"), lit("\n"),
      lit("## lang "), col("lang"), lit("\n"),
      coalesce(col("text"), lit("")))
    Tables.documents(spark, dir)
      .withColumn("md", md)
      .select(col("doc_id"),
        posexplode(regexp_extract_all(col("md"), lit("(?m)^(#{1,6}) +(.*)$"), lit(2))))
      .withColumnRenamed("pos", "heading_idx")
      .withColumnRenamed("col", "heading")
      .orderBy("doc_id", "heading_idx")
  }

  /** A7/J4: knowledge-map tree closure. Synthetic 10-ary parent tree over
    * orders (parent = orderkey/10) unrolled to the reference's max depth
    * of 3 via chained self-joins — the bounded-depth form of transitive
    * closure (no iteration needed when depth ≤ 3).
    */
  def treeClosure(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("node"),
        floor(col("o_orderkey") / 10).as("parent"))
      .filter(col("node") > 0)
    val l1 = nodes.select(col("node"), col("parent"))
    val l2 = l1.as("a").join(l1.as("b"), col("a.parent") === col("b.node"))
      .select(col("a.node").as("node"), col("b.parent").as("grandparent"))
    l1.join(l2, Seq("node"), "left")
      .select(col("node"), col("parent"), col("grandparent"))
      .orderBy("node")
  }

  /** A8: greedy batch packing — running size sum in a fixed processing
    * order, batch id = cumulative/cap. Window over a single ordering:
    * at scale this is the one intentionally-serial op (the reference's
    * batcher is sequential by definition); shard per crawl-run otherwise.
    */
  def batchPack(spark: SparkSession, dir: String, capChars: Long = 4000): DataFrame = {
    val w = Window.orderBy(col("n_chars").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("running_chars", sum(col("n_chars")).over(w))
      .withColumn("batch_id",
        floor((col("running_chars") - lit(1)) / lit(capChars)).cast("int"))
      .orderBy("doc_id")
  }

  /** A8 at scale: the same greedy packing, two-phase. The global running
    * sum decomposes as (exclusive prefix total of earlier shards) +
    * (running sum within the shard) whenever shards are contiguous runs
    * of the packing order — here shard = floor(n_chars / width), monotone
    * in the (n_chars, doc_id) ordering. Phase 1 computes per-shard
    * running sums under a hash-partitioned window; phase 2 derives the
    * |shards|-row exclusive prefix totals via a broadcast inequality
    * join (no single-partition Exchange in the whole plan). Output is
    * bit-identical to [[batchPack]] — same oracle SQL — so the serial
    * form stays as the semantic spec and this is the 100 TB plan.
    */
  def batchPackSharded(spark: SparkSession, dir: String,
      capChars: Long = 4000, shardWidth: Long = 250): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("shard", floor(col("n_chars") / lit(shardWidth)))
    val wLocal = Window.partitionBy(col("shard"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = docs.groupBy(col("shard")).agg(sum(col("n_chars")).as("t"))
    val offsets = totals.as("a")
      .join(broadcast(totals.as("b")), col("b.shard") < col("a.shard"), "left")
      .groupBy(col("a.shard").as("shard"))
      .agg(coalesce(sum(col("b.t")), lit(0L)).as("offset"))
    docs
      .withColumn("local_running", sum(col("n_chars")).over(wLocal))
      .join(broadcast(offsets), Seq("shard"))
      .withColumn("running_chars", col("offset") + col("local_running"))
      .withColumn("batch_id",
        floor((col("running_chars") - lit(1)) / lit(capChars)).cast("int"))
      .select(col("doc_id"), col("n_chars"), col("running_chars"), col("batch_id"))
      .orderBy("doc_id")
  }
}
