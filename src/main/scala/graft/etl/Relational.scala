package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.GroupTopK

/** Core relational coverage on the TPC-H-ish tables: aggregation,
  * multi-way joins with broadcast dims, top-k, and window analytics.
  * These are the scale-bearing queries (lineitem is the volume table) —
  * each is written so Catalyst produces the plan we'd want on a 1000-
  * executor cluster: filters before joins (pushdown), broadcast for the
  * bounded dims, partial aggregation before the shuffle.
  *
  * Money math note: all price/balance columns are exact 2-decimal
  * values, so aggregates run on integer CENTS (`round(x*100)::bigint`)
  * and divide back at the end. Integer sums are order-independent and
  * bit-identical across engines — no cross-engine double-summation
  * noise, no rounding-tie ambiguity (double sums of ~1e9-cent values
  * stay far below bigint range at these SFs; a 100 TB run would switch
  * the accumulator to decimal(38,0), same plan shape).
  */
object Relational {

  /** Exact integer cents from a 2-decimal double column. */
  def cents(c: Column): Column = round(c * 100).cast("bigint")

  /** Pricing-summary aggregate (map-side combine → single shuffle on the
    * two low-cardinality flags; at 100 TB this stays one exchange of
    * ~|groups| rows per partition).
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val discBp = cents(col("l_discount")) // 0..10 (percent points)
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"), // integer-valued: exact
        (sum(cents(col("l_extendedprice"))) / lit(100.0)).as("sum_base_price"),
        (sum(cents(col("l_extendedprice")) * (lit(100L) - discBp)) / lit(10000.0))
          .as("sum_disc_price"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (sum(discBp).cast("double") / count(lit(1)) / lit(100.0)).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Segment top-k revenue: filter pushed below the joins, aggregate on
    * the join key, top-10 via sort+limit (Spark plans TakeOrderedAndProject
    * — no full sort at scale).
    */
  def q3TopK(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(o("o_orderkey"))
      .agg((sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
        / lit(10000.0)).as("revenue"))
      .select(col("o_orderkey"), col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  /** Star-join rollup with explicitly broadcast dims (region: 5 rows,
    * nation: 25 rows — broadcast at any scale; customer never shuffles
    * for the join, only for the final group-by).
    */
  def dimJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = broadcast(Tables.nation(spark, dir))
    val r = broadcast(Tables.region(spark, dir))
    c.join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        (sum(cents(col("c_acctbal"))) / lit(100.0)).as("total_bal"),
        (sum(cents(col("c_acctbal"))).cast("double") / count(lit(1)) / lit(100.0))
          .as("avg_bal"))
      .orderBy("r_name", "n_name")
  }

  /** Top-3 orders per customer — rank window partitioned by the customer
    * key (single hash exchange on o_custkey; ties broken by orderkey so
    * the result is total-order deterministic).
    */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    GroupTopK.topK(Tables.orders(spark, dir), 3, "rn", Seq("o_custkey"),
        col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rn")
  }

  /** Per-customer running order total (frame = unbounded preceding..now,
    * ordered by date then key for determinism under ties).
    */
  def runningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        (sum(cents(col("o_totalprice"))).over(w) / lit(100.0)).as("running_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Q4-pattern: EXISTS as a left-semi join with a non-equi residual —
    * orders with at least one line shipped after the order date, counted
    * per priority. The semi-join hashes on the equi key (orderkey) and
    * applies the date residual post-probe; rows never widen, the shuffle
    * carries keys + the two compared columns only.
    */
  def q4LateOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    o.join(l, o("o_orderkey") === l("l_orderkey")
        && l("l_shipdate") > o("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Q12-pattern: conditional classification aggregate over the
    * fact⋈fact join — per ship quarter, how many lines belong to
    * urgent/high- vs lower-priority orders. One join shuffle on the
    * order key, then map-side-combined counts on a tiny group key.
    */
  def q12PriorityShipping(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(year(col("l_shipdate")).as("ship_year"),
        quarter(col("l_shipdate")).as("ship_quarter"))
      .agg(count(when(isHigh, 1)).as("high_line_count"),
        count(when(!isHigh, 1)).as("low_line_count"))
      .orderBy("ship_year", "ship_quarter")
  }

  /** Q14-pattern: promo revenue share per ship year — ratio of two
    * exact cents sums (conditional numerator), divided once at the
    * output. NO broadcast hint on part: unlike region/nation (fixed 5/25
    * rows), part grows with the scale factor, so the hint that helps at
    * sf0.1 becomes an OOM at 100 TB — the adaptive planner broadcasts
    * while it fits and falls back to a shuffle join beyond, which is
    * exactly the behavior we want to keep.
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_type"))
    val l = Tables.lineitem(spark, dir)
    val disc = cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
    l.join(p, l("l_partkey") === p("p_partkey"))
      .groupBy(year(col("l_shipdate")).as("ship_year"))
      .agg(
        (sum(when(col("p_type") === "PROMO", disc).otherwise(lit(0L))).cast("double")
          * 100.0 / sum(disc)).as("promo_share_pct"),
        (sum(disc) / lit(10000.0)).as("total_revenue"))
      .orderBy("ship_year")
  }

  /** Semi/anti-join pair: customers with vs without an open order.
    * left_semi/left_anti never widen rows — the shuffle carries keys only.
    */
  def semiAntiCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val open = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "O").select("o_custkey")
    val withOpen = c.join(open, c("c_custkey") === open("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit(true).as("has_open_order"))
    val without = c.join(open, c("c_custkey") === open("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit(false).as("has_open_order"))
    withOpen.unionByName(without).orderBy("c_custkey")
  }
}
