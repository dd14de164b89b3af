package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §3.3: the output-transformer's cost-based strategy router — the
  * reference's plan selection (output-transformer.md:95-113,
  * config/limits.yaml:143-163): statistics are page count + byte size,
  * the cost model is a context budget, and the chosen plan trades
  * fidelity for safety:
  *
  *   pages ≤ 5 ∧ chars ≤ 30K → direct
  *   pages ≤ 10 ∧ chars ≤ 60K → summarize_first
  *   else                     → index_only
  *
  * Relationally this is an aggregate + a case expression per group —
  * the adaptive-plan-choice idea AQE applies to joins, applied to
  * output fidelity.
  */
object Router {

  def transformRoute(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pages"),
        sum(col("n_chars")).as("total_chars"))
      .withColumn("strategy",
        when(col("n_pages") <= 5 && col("total_chars") <= 30000, "direct")
          .when(col("n_pages") <= 10 && col("total_chars") <= 60000, "summarize_first")
          .otherwise("index_only"))
      .orderBy("source")

  /** Exact distinct aggregation (the reference's dedup-count analog);
    * sketches aren't cross-engine comparable, so only this exact form
    * is oracle-checked — [[distinctSketch]] is the approx path.
    */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** The sketch tier: HLL++ approximate distincts next to the exact
    * answer. At 100 TB this is THE cardinality plan — approx_count_
    * distinct is a fixed-size mergeable sketch (no per-key state, no
    * distinct expansion shuffle), while exact countDistinct expands
    * every (group, value) pair.
    *
    * Output discipline (Oracles.scala error-band note): the raw HLL
    * estimate is engine-specific bits, so it is NOT an output column.
    * What IS output — and DuckDB-recomputable — is the exact value
    * plus `approx_ok`, an integer-arithmetic flag that the estimate
    * sits within 10% (= 5× the configured rsd 0.02, so deterministic
    * in practice for any driver-regenerated corpus) of the exact
    * count. The flag is computed from the estimate in-engine; the
    * oracle asserts it is TRUE. InvariantSpec additionally pins the
    * relative error on a known-cardinality corpus.
    */
  /** [[distinctSketch]]'s audit re-run through the GRAFT-OWNED native
    * HLL (`hll_sketch`, [[graft.functions.HllSketchFunctions.sketch]], p = 12): per group, the
    * exact distinct count next to the native sketch's banded estimate.
    * Same error-band output discipline (the estimate itself never
    * reaches the oracle; the 10% band is ≈ 6× the p = 12 rsd of
    * 1.625%, overwhelming for any driver-regenerated corpus); the
    * register file the estimate reads is engine-portable md5 bits,
    * pinned cell-for-cell by OpUnitSpec.
    *
    * Scale posture: the native agg shuffles a constant 4 KB register
    * file per (group × partition) — the exact countDistinct beside it
    * is the audit's truth column, not the production plan (at 100 TB
    * the sketch column IS the answer and the exact column is dropped).
    */
  def hllNative(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HllSketchFunctions.{hllEstimate, hllSketch}
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        hllSketch(col("l_partkey").cast("string")).as("__regs"),
        count(lit(1)).as("n_rows"))
      .withColumn("__est", hllEstimate(col("__regs")))
      .withColumn("approx_ok",
        expr("abs(__est - exact_parts) * 10000 <= 1000 * exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"), col("n_rows"),
        col("approx_ok"))
      .orderBy("l_returnflag")
  }

  def distinctSketch(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("__approx"),
        count(lit(1)).as("n_rows"))
      .withColumn("approx_ok",
        expr("abs(__approx - exact_parts) * 10000 <= 1000 * exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"), col("n_rows"),
        col("approx_ok"))
      .orderBy("l_returnflag")
}
