package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, lit, shiftleft, shiftright}

/** Bucketed-table layout and size-governed output — the storage-side
  * half of the shuffle story (reference analog: the page store and
  * crawl state are keyed by slug/url — scripts/crawler-queue.sh:131-176
  * rewrites state keyed files in place; at 100 TB the fact tables are
  * written once and joined/aggregated many times, so the WRITE pays the
  * one hash shuffle and every later join on the bucket keys is
  * exchange-free).
  *
  * Both operators here are write-path infrastructure, verified by plan
  * assertions in BucketingSpec (no DuckDB oracle: table layout is not
  * SQL-observable).
  */
object Bucketing {

  /** Write `df` as a managed parquet table in `n` hash buckets on
    * `keys`, each bucket internally sorted on the same keys. Reads of
    * the table report HashPartitioning(keys, n) to the planner, so an
    * equi-join or aggregation on the bucket keys — against another
    * table bucketed the SAME way — plans with zero Exchange: the
    * pre-shuffle was paid once at write time. This is the static twin
    * of AQE's runtime re-partitioning, and the right layout for the
    * repeatedly-joined 100 TB fact tables.
    */
  def writeBucketed(df: DataFrame, table: String, n: Int, keys: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(n, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Size-governed rewrite: `files` range-partitions clustered on
    * `keys` (keeping min/max zone-maps tight for later data skipping),
    * each file capped at `maxRecordsPerFile` rows. The answer to the
    * small-files problem: a 100 TB sink must emit bounded,
    * evenly-sized, cluster-ordered parquet, not one file per shuffle
    * task.
    *
    * Spark seeds its range-bound sample with the sampled RDD's id, so
    * the write samples up to Spark's 10⁶-key cap: below it every row
    * is sampled and the layout does not depend on the session's past.
    */
  def compact(df: DataFrame, keys: Seq[Column], files: Int,
      maxRecordsPerFile: Long, out: String): Unit = {
    val conf = df.sparkSession.conf
    val sample = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    val prev = conf.getOption(sample)
    conf.set(sample, 1000000L)
    try df.repartitionByRange(files, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(out)
    finally prev.fold(conf.unset(sample))(conf.set(sample, _))
  }

  def compact(df: DataFrame, keyNames: Seq[String], files: Int,
      maxRecordsPerFile: Long, out: String)(implicit d: DummyImplicit): Unit =
    compact(df, keyNames.map(col), files, maxRecordsPerFile, out)

  /** Z-order curve value for two non-negative integer keys: the low
    * `bits` of each are bit-interleaved (a on odd positions, b on
    * even), so range-partitioning on the result clusters BOTH
    * dimensions at once — per-file min/max stays narrow on a AND b,
    * and a scan filtered on either column skips most files. This is
    * the multi-column answer where single-key range clustering leaves
    * the second column's zone-maps spanning the full domain.
    *
    * BOTH inputs must be normalized to the same `bits`-wide domain
    * first (min-max or quantile scaled, e.g. `(a * 2^bits) div
    * (max_a + 1)`): interleaving raw keys of different magnitudes
    * degenerates to single-key clustering, because the wider key's
    * high bits own the top of every z-value (measured: un-normalized
    * orderkey⊗partkey left partkey zone-maps at the full domain).
    * 21 bits per key keeps the interleave inside a signed BIGINT.
    * A z-value only PLACES rows — a bad scaling is slower to skip,
    * never wrong.
    */
  def zvalue(a: Column, b: Column, bits: Int = 21): Column = {
    require(bits >= 1 && bits <= 31)
    (0 until bits).map { i =>
      val abit = shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
      val bbit = shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i)
      abit.bitwiseOR(bbit)
    }.reduce(_.bitwiseOR(_))
  }
}
