package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.GroupTopK

/** Event-stream analytics over the `events` table — the batch forms of
  * the reference's incremental/stateful surface (SURVEY.md §2.11) plus
  * the north-star sessionization/window extension. The streaming
  * (Structured Streaming) variants live in graft.streaming and share
  * these column expressions; only the batch forms are oracle-verified.
  *
  * `events.ts` is canonicalized to BIGINT epoch-nanoseconds by
  * Tables.withNanosTs, whatever the parquet writer encoded (INT64 nanos
  * under spark.sql.legacy.parquet.nanosAsLong, or timestamp[us]). All
  * time math is integer epoch-µs (`ts div 1000` ↔ DuckDB epoch_us) —
  * exact in both engines, no double-precision drift on ~1e18 nano values.
  */
object Events {

  val SessionGapUs: Long = 30L * 60 * 1000000 // 30 min
  val HourUs: Long = 3600L * 1000000

  /** epoch microseconds from the nanos-as-long ts column (exact). */
  def tsUs: Column = expr("ts div 1000")

  /** X9: JSON field access on the props payload. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy("k_mod")

  /** lag/lead deltas per user (frame-free analytic window). */
  def lagLead(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        tsUs.as("ts_us"),
        (col("value") - lag(col("value"), 1, 0.0).over(w)).as("delta_value"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .orderBy("user_id", "event_id")
  }

  /** Sessionization: a session breaks when the gap to the previous event
    * of the same user exceeds 30 min; session id = running count of
    * breaks. Two windows over the same (user_id, ts) partitioning —
    * one exchange, both windows pipelined on it.
    */
  def sessionAssign(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val prev = lag(col("ts_us"), 1).over(w)
    val isBreak = when(prev.isNull || (col("ts_us") - prev) > SessionGapUs, 1)
      .otherwise(0)
    events
      .withColumn("ts_us", tsUs)
      .withColumn("session_seq",
        sum(isBreak).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  def sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionAssign(Tables.events(spark, dir))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        (sum(Relational.cents(col("value"))) / lit(100.0)).as("session_value"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"))
      .withColumn("duration_min",
        (col("end_us") - col("start_us")) / lit(60000000.0))
      .orderBy("user_id", "session_seq")

  /** Tumbling 1-hour windows per event type (bucket = epoch_us / 1h —
    * identical double-division floor in both engines).
    */
  def tumblingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("bucket", floor(tsUs / lit(HourUs)))
      .groupBy(col("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(Relational.cents(col("value"))) / lit(100.0)).as("total_value"))
      .orderBy("bucket", "event_type")

  /** Sliding 1-hour windows every 30 min: each event belongs to exactly
    * two windows — generated declaratively (explode of the two window
    * starts), no cross join.
    */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame = {
    val halfH = HourUs / 2
    Tables.events(spark, dir)
      .withColumn("us", tsUs)
      .withColumn("win_start",
        explode(array(
          floor(col("us") / lit(HourUs)).cast("bigint") * lit(HourUs),
          floor((col("us") - lit(halfH)) / lit(HourUs)).cast("bigint") * lit(HourUs)
            + lit(halfH))))
      .groupBy(col("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(Relational.cents(col("value"))) / lit(100.0)).as("total_value"))
      .orderBy("win_start", "event_type")
  }

  /** Range-frame rolling sum: per event type, total value over the
    * trailing hour (RANGE frame on integer epoch-µs — peers included,
    * deterministic under timestamp ties in both engines).
    */
  def rangeWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts_us"))
      .rangeBetween(-HourUs, 0)
    Tables.events(spark, dir)
      .withColumn("ts_us", tsUs)
      .withColumn("cents", Relational.cents(col("value")))
      .select(col("event_type"), col("event_id"), col("ts_us"),
        (sum(col("cents")).over(w) / lit(100.0)).as("rolling_1h_value"))
      .orderBy("event_type", "event_id")
  }

  /** Native session_window operator (the engine API users call for
    * sessionization; batch here, streaming twin in graft.streaming).
    * window.end = last event + gap by Spark's definition; the oracle
    * reproduces it from the lag/cumsum construction.
    */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("event_time", timestamp_micros(tsUs))
      .groupBy(session_window(col("event_time"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum(Relational.cents(col("value"))) / lit(100.0)).as("session_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"), col("session_value"))
      .orderBy("user_id", "start_us")

  /** Typed JSON parsing with an explicit schema (from_json — the
    * schema-on-read discipline of Sources applied to embedded payloads;
    * get_json_object covers ad-hoc access, this covers the typed path).
    */
  def jsonStructParse(spark: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    Tables.events(spark, dir)
      .withColumn("p", from_json(col("props"), schema))
      .select(col("event_id"), col("p.k").as("k"),
        (col("p.k") * 2 + 1).as("k_derived"))
      .orderBy("event_id")
  }

  /** Expression-level degradation chain (the reference's retry/fallback
    * semantics at column granularity, §2.11 / SURVEY §4 "coalesce of
    * try-alternatives"): parse a deliberately-corrupted JSON payload,
    * fall back to a regex extraction, then to a sentinel — every row
    * lands in exactly one tier, and the tier is reported.
    *
    * Validity-notion coupling (known, deliberate): Spark's tier-1 is
    * lenient Jackson (`get_json_object` → null on malformed), the
    * oracle's is DuckDB's strict `json_valid()` guard. These notions
    * agree on this corpus because the corruption is a hard prefix
    * truncation — the payload is either intact JSON (both parse it) or
    * an unclosed brace fragment (both reject it). A corruption that
    * produced e.g. trailing-garbage JSON would split the notions and
    * needs a shared validity regex on both sides first.
    */
  def safeParse(spark: SparkSession, dir: String): DataFrame = {
    // corrupt ~1/3 of payloads deterministically: truncate to 8 chars
    // (inside the '{"k": nn...' prefix, so the digits stay recoverable
    // for the regex tier)
    val dirty = when(col("event_id") % 3 === 0, substring(col("props"), 1, 8))
      .otherwise(col("props"))
    val parsed = expr("try_cast(get_json_object(dirty, '$.k') AS bigint)")
    val rescued = expr("try_cast(regexp_extract(dirty, '([0-9]+)', 1) AS bigint)")
    Tables.events(spark, dir)
      .withColumn("dirty", dirty)
      .withColumn("parsed", parsed)
      .withColumn("rescued", when(col("parsed").isNull, rescued))
      .withColumn("k_final",
        coalesce(col("parsed"), col("rescued"), lit(-1L)))
      .withColumn("tier",
        when(col("parsed").isNotNull, "parsed")
          .when(col("rescued").isNotNull, "regex_rescue")
          .otherwise("failed"))
      .select(col("event_id"), col("k_final"), col("tier"))
      .orderBy("event_id")
  }

  /** Event-type counts by hour-of-day (UTC; ts is epoch-based so the
    * modular form equals calendar hour()).
    */
  def hourlyProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("hour_of_day", ((tsUs.cast("bigint") / lit(HourUs)).cast("bigint") % 24).cast("int"))
      .groupBy(col("hour_of_day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("hour_of_day", "event_type")

  /** Session funnel: view → click → purchase, ordered by FIRST
    * occurrence inside each session (stage k counts sessions whose
    * min-timestamps are present and non-decreasing through stage k).
    * One pass over the sessionized events + a 1-row conditional agg —
    * the standard funnel plan at any scale. pct_of_first in basis
    * points via integer div (guarded: ANSI mode makes x div 0 an error,
    * not a NULL).
    */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val per = sessionAssign(Tables.events(spark, dir))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(when(col("event_type") === "view", col("ts_us"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts_us"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts_us"))).as("t_purchase"))
    val s2c = col("t_view").isNotNull && col("t_click").isNotNull &&
      (col("t_click") >= col("t_view"))
    val s3c = s2c && col("t_purchase").isNotNull &&
      (col("t_purchase") >= col("t_click"))
    per.agg(
        sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("s1"),
        sum(when(s2c, 1L).otherwise(0L)).as("s2"),
        sum(when(s3c, 1L).otherwise(0L)).as("s3"))
      .select(expr(
        """stack(3,
          |  1, 'view', s1,
          |    CASE WHEN s1 > 0 THEN CAST(10000 AS BIGINT) ELSE NULL END,
          |  2, 'view>click', s2,
          |    CASE WHEN s1 > 0 THEN (10000 * s2) div s1 ELSE NULL END,
          |  3, 'view>click>purchase', s3,
          |    CASE WHEN s1 > 0 THEN (10000 * s3) div s1 ELSE NULL END)
          |AS (stage, stage_name, n_sessions, pct_of_first_bp)""".stripMargin))
      .orderBy("stage")
  }

  /** TIME-BOUNDED conversion funnel — [[funnelStages]] with a
    * conversion window instead of session scope: a user converts at
    * stage 2 if SOME click lands within 1h AFTER some view, stage 3 if
    * a purchase lands within 1h after such a click (the product-
    * analytics "conversion within X" question sessions can't answer —
    * a session can span hours, a window cannot). Existence pairing is
    * two keyed equi-joins on user_id with the band as residual
    * predicate, distinct-reduced after each hop so the pair blowup
    * never leaves the join stage; per-user pair counts are bounded by
    * per-user event counts, and a skewed hot user is exactly what
    * AQE's skew-join split handles (PlanSpec pins that mechanism).
    * At 100 TB the same composition runs on time-binned keys
    * (AsOf.scala's binning) if user keys alone spread too thin.
    */
  def funnelWindowed(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), tsUs.as("us"))
    def stage(t: String) = ev.filter(col("event_type") === t)
    val views = stage("view").select(col("user_id"), col("us").as("v_us"))
    val clicks = stage("click").select(col("user_id").as("cu"), col("us").as("c_us"))
    val buys = stage("purchase").select(col("user_id").as("pu"), col("us").as("p_us"))
    val vc = views.join(clicks,
        col("user_id") === col("cu") && col("c_us") > col("v_us") &&
          col("c_us") <= col("v_us") + HourUs)
      .select(col("user_id"), col("c_us")).distinct()
    val vcp = vc.join(buys,
        col("user_id") === col("pu") && col("p_us") > col("c_us") &&
          col("p_us") <= col("c_us") + HourUs)
      .select(col("user_id")).distinct()
    val s1 = views.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n")).select(lit(1).as("stage"),
        lit("view").as("stage_name"), col("n"))
    val s2 = vc.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n")).select(lit(2).as("stage"),
        lit("view>click<=1h").as("stage_name"), col("n"))
    val s3 = vcp.agg(count(lit(1)).as("n")).select(lit(3).as("stage"),
      lit("view>click>purchase<=1h").as("stage_name"), col("n"))
    s1.unionByName(s2).unionByName(s3)
      .select(col("stage"), col("stage_name"), col("n").as("n_users"))
      .orderBy("stage")
  }

  /** Cohort retention: users grouped by their first-active hour bucket;
    * retention(offset k) = distinct users of that cohort active k hours
    * later (offsets 0-5). Two shuffles — per-user first bucket, then
    * the (cohort, offset) count over pre-deduped (user, bucket) pairs.
    */
  /** Exact p50/p90/p99 of event value per event type — the ops-latency
    * report via the histogram-rank method (Relational2.quartilePrices
    * generalized to the events feed): value histogram per (type, cents)
    * → tiny cumulative window over distinct values → ceil(p·n) ranks
    * selected by conditional aggregation. One table scan regardless of
    * how many percentiles are reported; no per-row ranking anywhere.
    */
  def latencyPercentiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.events(spark, dir)
      .select(col("event_type"),
        round(col("value") * 100).cast("bigint").as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("cum_before", col("cum") - col("cnt"))
    def rankFor(pct: Int) = expr(s"(n * $pct + 99) div 100")
    def valueAt(pct: Int) =
      (max(when(rankFor(pct) > col("cum_before") && rankFor(pct) <= col("cum"),
        col("cents"))) / lit(100.0)).as(s"p$pct")
    cum.groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"), valueAt(50), valueAt(90), valueAt(99))
      .orderBy("event_type")
  }

  /** Approximate-percentile tier of [[latencyPercentiles]] — Spark's
    * built-in GK-style sketch (`percentile_approx`), the one-pass
    * mergeable form a 100 TB monitoring job actually runs when exact
    * ranks aren't required: O(accuracy) state per group, partials
    * merge associatively, no second histogram pass.
    *
    * Output discipline (Oracles.scala error-band note): the sketch's
    * returned values are engine-specific, so they are NOT output
    * columns. Output = the exact histogram-rank percentiles (identical
    * machinery to [[latencyPercentiles]], DuckDB-recomputable) plus
    * per-quantile `pXX_ok` flags asserting the sketch value lands
    * inside the exact value band at ranks `q ± ε` where
    * ε = 3·(n div accuracy) + 3 ranks — the GK contract is rank error
    * ≤ n/accuracy, and the 3× + 3 margin absorbs merge-order effects
    * and the engines' rank-convention off-by-ones while staying a
    * vanishingly thin rank band (≲0.03% of n). The flags are computed
    * from the sketch in-engine; the oracle asserts they are TRUE.
    * InvariantSpec additionally pins 2% value closeness.
    */
  def latencyPercentilesApprox(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.events(spark, dir)
      .select(col("event_type"),
        round(col("value") * 100).cast("bigint").as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("cum_before", col("cum") - col("cnt"))
    def rankFor(pct: Int) = expr(s"(n * $pct + 99) div 100")
    def eps = expr("(3 * n) div 10000 + 3")
    def valueAtRank(r: Column) =
      max(when(r > col("cum_before") && r <= col("cum"), col("cents")))
    val aggCols = Seq(max(col("n")).as("n_events")) ++
      Seq(50, 90, 99).flatMap { p =>
        Seq((valueAtRank(rankFor(p)) / lit(100.0)).as(s"p$p"),
          valueAtRank(greatest(lit(1L), rankFor(p) - eps)).as(s"__lo$p"),
          valueAtRank(least(col("n"), rankFor(p) + eps)).as(s"__hi$p"))
      }
    val exact = cum.groupBy(col("event_type"))
      .agg(aggCols.head, aggCols.tail: _*)
    val approx = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(percentile_approx(col("value"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("ps"))
      .select(col("event_type") +: (1 to 3).map(i =>
        round(element_at(col("ps"), i) * 100).cast("bigint").as(s"__ap$i")): _*)
    exact.join(approx, Seq("event_type"))
      .select(Seq(col("event_type"), col("n_events"),
        col("p50"), col("p90"), col("p99")) ++
        Seq(50 -> 1, 90 -> 2, 99 -> 3).map { case (p, i) =>
          (col(s"__ap$i") >= col(s"__lo$p") && col(s"__ap$i") <= col(s"__hi$p"))
            .as(s"p${p}_ok")
        }: _*)
      .orderBy("event_type")
  }

  /** Winsorized per-type aggregates: clamp values at the exact P1/P99
    * (histogram-rank selection, same machinery as
    * [[latencyPercentiles]]) and report the robust mean alongside the
    * clip counts — the CLEANED statistic a monitoring pipeline
    * publishes where a raw mean would be one stuck sensor away from
    * garbage ([[outlierMad]] flags the outliers; this produces the
    * aggregate that survives them). All integer cents: the clamp
    * bounds are actual data values, comparisons and sums are exact in
    * both engines, the mean is an integer div.
    *
    * Plan: two scans (bounds from the per-type histogram, then the
    * clamped agg) with the 1-row-per-type bounds broadcast back — the
    * hourly-histogram discipline, never a window over raw events.
    */
  def winsorizeValues(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = Tables.events(spark, dir)
      .select(col("event_type"),
        round(col("value") * 100).cast("bigint").as("cents"))
    val hist = vals.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("cum_before", col("cum") - col("cnt"))
    def rankFor(pct: Int) = expr(s"(n * $pct + 99) div 100")
    def valueAt(pct: Int) =
      max(when(rankFor(pct) > col("cum_before") && rankFor(pct) <= col("cum"),
        col("cents"))).as(s"p$pct")
    val bounds = cum.groupBy(col("event_type")).agg(valueAt(1), valueAt(99))
    vals.join(broadcast(bounds), Seq("event_type"))
      .withColumn("w", greatest(col("p1"), least(col("p99"), col("cents"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("cents") < col("p1"), 1L).otherwise(0L)).as("n_clip_low"),
        sum(when(col("cents") > col("p99"), 1L).otherwise(0L)).as("n_clip_high"),
        max(col("p1")).as("p1_c"), max(col("p99")).as("p99_c"),
        sum(col("w")).as("wsum_c"))
      .withColumn("wmean_c", expr("wsum_c div n_events"))
      .select(col("event_type"), col("n_events"), col("n_clip_low"),
        col("n_clip_high"), col("p1_c"), col("p99_c"), col("wmean_c"))
      .orderBy("event_type")
  }

  /** Robust per-type outlier report: median / MAD (median absolute
    * deviation) of event value via the exact histogram-rank method,
    * then the classic robust cut |x − med| > 3·MAD. Mean/stddev break
    * under the very outliers being hunted; median/MAD do not — this is
    * the data-quality gate a training pipeline runs on every numeric
    * feed. Two scans (values, then deviations — MAD is inherently
    * two-pass), each aggregating to a tiny per-type histogram before
    * any window; the medians join back as broadcasts. All comparisons
    * in integer cents: the selected median/MAD are actual data values,
    * so the 3·MAD cut is exact integer arithmetic on both engines.
    */
  def outlierMad(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def rank50 = expr("(n * 50 + 99) div 100")
    def histMedian(rows: DataFrame, valueCol: String): DataFrame = {
      val h = rows.groupBy(col("event_type"), col(valueCol))
        .agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col(valueCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("event_type"))
      h.withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .withColumn("cum_before", col("cum") - col("cnt"))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          max(when(rank50 > col("cum_before") && rank50 <= col("cum"),
            col(valueCol))).as("med"))
    }
    val vals = Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast("bigint").as("cents"))
    val med = histMedian(vals, "cents")
      .select(col("event_type"), col("n").as("n_events"), col("med").as("med_cents"))
    val devs = vals.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("cents") - col("med_cents")))
    val mad = histMedian(devs.select(col("event_type"), col("dev")), "dev")
      .select(col("event_type"), col("med").as("mad_cents"))
    devs.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("med_cents")).as("med_cents"),
        max(col("mad_cents")).as("mad_cents"),
        sum(when(col("dev") > col("mad_cents") * 3, 1L).otherwise(0L)).as("n_outliers"),
        max(when(col("dev") > col("mad_cents") * 3, col("dev"))).as("max_dev_cents"))
      .orderBy("event_type")
  }

  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(spark, dir)
      .select(col("user_id"), floor(tsUs / lit(HourUs)).as("bucket"))
      .distinct()
    val firstB = act.groupBy(col("user_id")).agg(min(col("bucket")).as("cohort"))
    act.join(firstB, Seq("user_id"))
      .withColumn("hour_offset", (col("bucket") - col("cohort")).cast("int"))
      .filter(col("hour_offset") <= 5)
      .groupBy(col("cohort"), col("hour_offset"))
      .agg(count(lit(1)).as("n_users")) // (user,bucket) pre-deduped
      .orderBy("cohort", "hour_offset")
  }

  /** Markov transition counts: how often each event type is followed by
    * each other type within a user's stream (the first-order behavior
    * model behind next-action prediction and bot detection). One
    * window exchange on user_id for the lead(), then a 25-cell
    * aggregate — the per-user partition is the only shuffle that grows
    * with the data.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("from_type"), col("to_type"))
  }

  /** Session-path mining: the distribution of each user's first three
    * event types ("entry journey"). The rn<=3 filter is the exact
    * pattern RewriteRankFilterToGroupTopK targets, so the heavy first
    * phase runs on the native bounded-heap GroupTopK operator — per-user
    * state is O(3), never a full per-user sort. Path assembly sorts a
    * ≤3-element struct array (interpreted HOF is fine at that size).
    */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    val firstK = GroupTopK.topK(Tables.events(spark, dir), 3, "rn",
      Seq("user_id"), col("ts").asc, col("event_id").asc)
    firstK.groupBy(col("user_id"))
      .agg(concat_ws(">",
        transform(sort_array(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type"))).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
  }

  /** First/last-touch attribution: for every `purchase`, the earliest
    * and latest preceding `click` in the same user's history, plus the
    * touch count — the two classic attribution models side by side
    * (and their disagreement is the multi-touch signal). Conditional
    * aggregates over a user-keyed running frame: min/max/count of
    * CASE WHEN click THEN ts END between unbounded preceding and the
    * current row — one user-partitioned window, no self-join per
    * purchase, no IGNORE NULLS dialect divergence.
    */
  /** Batch twin of the streaming within-watermark dedup
    * ([[graft.streaming.StreamingOps.dedupWithinWatermark]]): drop an
    * event when the same (user, type) fired within the previous 10
    * minutes — keyed lag() over event time, the at-rest form of
    * debounce/retry-collapse. Survivors keep their original columns;
    * the first event of each burst survives (lag gap rule ≡ the
    * stream's first-within-horizon rule for non-chained bursts).
    */
  def eventDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .withColumn("us", tsUs)
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .filter(col("prev_us").isNull || col("us") - col("prev_us") > 600000000L)
      .select(col("event_id"), col("user_id"), col("event_type"), col("us"))
      .orderBy("event_id")
  }

  /** Weekly churn: of the users active in week w, the share with no
    * event in week w+1 — the retention complement of
    * [[cohortRetention]] (cohorts follow a fixed start group forward;
    * churn is the rolling week-over-week leak). The self-join is the
    * distinct (week, user) frame against itself shifted by one week —
    * keyed equi-join, integer bp. The final week reports 10000 by
    * construction (no following week observed).
    */
  def churnRate(spark: SparkSession, dir: String): DataFrame = {
    val wa = Tables.events(spark, dir)
      .select(expr("((ts div 1000) div 86400000000) div 7").as("wk"),
        col("user_id"))
      .distinct()
    val next = wa.select((col("wk") - 1).as("wk"), col("user_id"),
      lit(1L).as("retained"))
    wa.join(next, Seq("wk", "user_id"), "left")
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("n_active"),
        sum(coalesce(col("retained"), lit(0L))).as("n_retained"))
      .withColumn("churn_bp",
        expr("(10000 * (n_active - n_retained)) div n_active"))
      .orderBy("wk")
  }

  /** Ingest-rate spike detection: hours whose event count exceeds 2×
    * their day's hourly mean — the pipeline-observability alarm that
    * catches a crawler loop or a replayed feed before it floods a
    * day's partition. The comparison is cross-multiplied integers
    * (n·hours_present > 2·n_day), so no rational mean is ever
    * materialized; the day window partitions by day over the ALREADY
    * AGGREGATED hourly table — no global window, no funnel, and the
    * hour axis grows with time, not data volume.
    */
  def rateSpikes(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(expr("(ts div 1000) div 3600000000").as("hr"))
      .groupBy(col("hr")).agg(count(lit(1)).as("n"))
      .withColumn("day", expr("hr div 24"))
    val wd = Window.partitionBy(col("day"))
    hourly
      .withColumn("n_day", sum(col("n")).over(wd))
      .withColumn("hours_present", count(lit(1)).over(wd))
      .filter(col("n") * col("hours_present") > lit(2L) * col("n_day"))
      .select(col("hr"), col("day"), col("n"), col("n_day"),
        col("hours_present"))
      .orderBy("hr")
  }

  /** Time-series MOTIF matching: find where each user's hourly activity
    * best matches a query pattern — the distributed form of streaming
    * subsequence similarity search (EDBT 2019's problem re-expressed as
    * window expressions). Series = hourly event counts; candidate
    * subsequences = every run of 4 CONTIGUOUS hours (lead(hr,3)=hr+3
    * guards gaps); the match score is the squared Euclidean distance
    * between the MEAN-CENTERED window and the mean-centered rising-ramp
    * pattern [0,1,2,3] — centering done as `4·xᵢ − Σx` so everything
    * stays integer (×4 both sides; the ramp centers to [-6,-2,2,6]).
    * Offset-invariant like z-normalization but exact: no sqrt, no
    * doubles, oracle-exact. Series are per 16-way user COHORT (a
    * single user's hourly activity is too sparse for contiguous runs;
    * a cohort's is dense — the "metric group" of a real monitoring
    * feed). Top-3 windows per cohort (d2 asc, hr asc) ride the native
    * GroupTopK heap. At 100 TB the hourly pre-agg is the data
    * reduction (hours ≪ events) and every later shuffle is keyed by
    * cohort.
    */
  def tsMotif(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select((col("user_id") % 16).as("cohort"),
        expr("(ts div 1000) div 3600000000").as("hr"))
      .groupBy(col("cohort"), col("hr")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("hr").asc)
    val win = hourly.select(col("cohort"), col("hr"), col("n").as("x0"),
        lead(col("n"), 1).over(w).as("x1"),
        lead(col("n"), 2).over(w).as("x2"),
        lead(col("n"), 3).over(w).as("x3"),
        lead(col("hr"), 3).over(w).as("hr3"))
      .filter(col("hr3") === col("hr") + 3)
      .withColumn("sx", col("x0") + col("x1") + col("x2") + col("x3"))
    val q = Seq(-6L, -2L, 2L, 6L) // 4·[0,1,2,3] − Σ[0,1,2,3]
    val d2 = Seq(("x0", q(0)), ("x1", q(1)), ("x2", q(2)), ("x3", q(3)))
      .map { case (c, qi) =>
        val y = col(c) * 4 - col("sx") - lit(qi)
        y * y
      }.reduce(_ + _)
    GroupTopK.topK(win.withColumn("d2", d2), 3, "rank", Seq("cohort"),
        col("d2").asc, col("hr").asc)
      .select(col("cohort"), col("rank"), col("hr").as("hr_start"),
        col("d2"))
      .orderBy("cohort", "rank")
  }

  /** Robust time-series anomaly detection: per event type, flag hours
    * whose event count deviates from the type's MEDIAN hourly count by
    * more than 3× the MAD (median absolute deviation) — the standard
    * robust alternative to [[rateSpikes]]' mean test (one huge spike
    * drags a mean but not a median, so median/MAD keeps sensitivity
    * during incidents). LOWER medians throughout ((N+1) div 2 rank
    * selection) keep every quantity integer — no averaging of middle
    * values, no doubles, oracle-exact; the MAD floors at 1 so a
    * zero-variance series doesn't flag every hour.
    *
    * Scale: same two-pass value-HISTOGRAM rank selection as
    * Relational2.medianPrice, partitioned by event_type — the windows
    * run over (type, count-value) histograms bounded by the value
    * domain, never the raw hours, and nothing funnels to one partition.
    */
  def tsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"), expr("(ts div 1000) div 3600000000").as("hr"))
      .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("n"))

    // lower median of `v` per event_type via cumulative value histogram
    def lowerMedian(df: DataFrame, v: String, out: String): DataFrame = {
      val hist = df.groupBy(col("event_type"), col(v))
        .agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("event_type"))
      hist.withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("nn", sum(col("cnt")).over(wAll))
        .groupBy(col("event_type"))
        .agg(min(when(col("cum") >= expr("(nn + 1) div 2"), col(v))).as(out))
    }

    val med = lowerMedian(hourly, "n", "med")
    val dev = hourly.join(med, Seq("event_type"))
      .withColumn("dev", abs(col("n") - col("med")))
    val mad = lowerMedian(dev, "dev", "mad")
    dev.join(mad, Seq("event_type"))
      .filter(col("dev") > lit(3L) * greatest(col("mad"), lit(1L)))
      .select(col("event_type"), col("hr"), col("n"), col("med"),
        col("mad"), col("dev"))
      .orderBy("event_type", "hr")
  }

  /** CUSUM change-point detection over the per-type hourly event-rate
    * series (Page 1954): the hour k* maximizing |S_k|, where
    * S_k = Σ_{i≤k}(x_i − x̄) is the cumulative deviation from the
    * series mean — the level-shift locator that complements
    * [[tsAnomaly]] (MAD flags isolated spikes; CUSUM finds the point
    * where the RATE permanently changed, e.g. a deploy or a source
    * going dark). Exact integers throughout: m·S_k = m·cum_k − k·total
    * (m = hour count), so the statistic, its argmax, and the pre/post
    * rates (integer centi-events/hour) never touch a double.
    *
    * Scale posture: hourly pre-agg first (the reduction), then windows
    * partitioned by event_type over the BOUNDED hourly series — the
    * ts_anomaly discipline; the argmax is a rank-1 filter on the same
    * partitioning.
    */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"), expr("(ts div 1000) div 3600000000").as("hr"))
      .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("n"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val wIdx = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    val c = hourly
      .withColumn("k", row_number().over(wIdx).cast("long"))
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("total", sum(col("n")).over(wAll))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("stat", abs(col("m") * col("cum") - col("k") * col("total")))
    GroupTopK.topK(c, 1, "rk", Seq("event_type"),
        col("stat").desc, col("hr").asc)
      .select(col("event_type"), col("m").as("n_hours"),
        col("total").as("n_events"), col("hr").as("cp_hr"),
        col("k").as("cp_idx"), col("stat").as("cusum_peak"),
        col("cum"))
      .withColumn("cusum_bp",
        expr("(10000 * cusum_peak) div (n_hours * n_events)"))
      .withColumn("pre_rate_c", expr("(100 * cum) div cp_idx"))
      .withColumn("post_rate_c",
        expr("""CASE WHEN n_hours = cp_idx THEN 0
               |ELSE (100 * (n_events - cum)) div (n_hours - cp_idx) END""".stripMargin))
      .select(col("event_type"), col("n_hours"), col("n_events"),
        col("cp_hr"), col("cp_idx"), col("cusum_peak"), col("cusum_bp"),
        col("pre_rate_c"), col("post_rate_c"))
      .orderBy("event_type")
  }

  /** Session market-basket pairs: which event types co-occur in the
    * same session more than chance — the classic association-mining
    * primitive composed from the verified sessionizer. Presence =
    * DISTINCT (user, session, type); pairs come from a session-keyed
    * self-join (a < b), so the join is keyed by the high-cardinality
    * session id and the output is bounded by the TYPE-pair domain, not
    * the data. support_bp = 10⁴·n_ab div n_sessions; lift_bp =
    * 10⁴·n_sessions·n_ab div (n_a·n_b) — exact integers (64-bit
    * headroom holds to ~10⁹ sessions; past that, lift's triple product
    * needs decimal(38,0), the counts themselves never overflow).
    */
  def sessionBaskets(spark: SparkSession, dir: String): DataFrame = {
    val pres = sessionAssign(Tables.events(spark, dir))
      .select(col("user_id"), col("session_seq"), col("event_type"))
      .distinct()
    val nSessions = pres.select(col("user_id"), col("session_seq")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val typeCounts = pres.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val left = pres.withColumnRenamed("event_type", "a")
    val right = pres.withColumnRenamed("event_type", "b")
    left.join(right, Seq("user_id", "session_seq"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      .join(typeCounts.select(col("event_type").as("a"), col("n_t").as("n_a")), Seq("a"))
      .join(typeCounts.select(col("event_type").as("b"), col("n_t").as("n_b")), Seq("b"))
      .crossJoin(broadcast(nSessions))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        col("n_sessions"),
        expr("(10000 * n_ab) div n_sessions").as("support_bp"),
        expr("(10000 * n_sessions * n_ab) div (n_a * n_b)").as("lift_bp"))
      .orderBy("a", "b")
  }

  /** Session transition matrix — the process-mining companion to
    * [[sessionBaskets]]: ORDERED consecutive event-type transitions
    * within a session (baskets ask "co-occur?", this asks "what comes
    * NEXT?"), with per-source transition probabilities in basis points
    * (10⁴·n div n_from — integer, oracle-exact). The lead window
    * partitions by (user, session) which the sessionizer's user_id
    * exchange already satisfies — no extra shuffle before the bounded
    * (from,to) aggregation. This is the empirical Markov chain a
    * next-action model or a funnel-drop diagnosis reads.
    */
  def sessionTransitions(spark: SparkSession, dir: String): DataFrame = {
    val s = sessionAssign(Tables.events(spark, dir))
      .select(col("user_id"), col("session_seq"), col("event_type"),
        col("ts_us"), col("event_id"))
    val w = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val counts = s
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTotals = counts.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"))
    counts.join(fromTotals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        expr("(10000 * n) div n_from").as("prob_bp"))
      .orderBy("from_type", "to_type")
  }

  /** Top-10 session paths: the most common 3-step event-type sequences
    * within a session — [[sessionTransitions]] gives the first-order
    * Markov edges; this surfaces the actual multi-step journeys
    * (funnel discovery, not funnel verification). Paths build from two
    * leads over the session ordering; the global top-10 rides
    * TakeOrdered (bounded driver state), with each path's share of all
    * 3-step windows in basis points.
    *
    * Scale posture: session-keyed windows (high-cardinality key), a
    * path-keyed agg, a 1-row totals broadcast, and a bounded global
    * top-k — never a full sort.
    */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val s = sessionAssign(Tables.events(spark, dir))
      .select(col("user_id"), col("session_seq"), col("event_type"),
        col("ts_us"), col("event_id"))
    val w = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val paths = s
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .select(concat_ws(" > ", col("event_type"), col("t2"), col("t3")).as("path"))
    val counts = paths.groupBy(col("path")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("n_paths"))
    counts.crossJoin(broadcast(tot))
      .withColumn("share_bp", expr("(10000 * n) div n_paths"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(10)
      .select(col("path"), col("n"), col("n_paths"), col("share_bp"))
  }

  /** Gap-filled resampling: densify each event type's hourly series to
    * a complete hour grid (missing hours become explicit zero rows —
    * the "resample" primitive every downstream rolling computation
    * needs, since a ROWS frame over a gappy series silently spans
    * calendar gaps) and compute the trailing 3-hour sum over the dense
    * grid, where ROWS BETWEEN 2 PRECEDING is now exactly 3 calendar
    * hours. The grid generates from each type's own [min, max] span
    * (`sequence` + explode — per-type, never a global calendar join);
    * all integer.
    *
    * Scale: the grid size is hours × types (time-bounded, not
    * data-bounded); the left join and window share the event_type
    * partitioning. The dense-grid discipline is what makes window
    * semantics honest on a 100 TB feed with dead hours.
    */
  def tsFill(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"), expr("(ts div 1000) div 3600000000").as("hr"))
      .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("n"))
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("hr"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr").asc)
      .rowsBetween(-2, Window.currentRow)
    grid.join(hourly, Seq("event_type", "hr"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("sum_3h", sum(col("n")).over(w))
      .withColumn("is_gap", col("n") === 0L)
      .select(col("event_type"), col("hr"), col("n"), col("sum_3h"),
        col("is_gap"))
      .orderBy("event_type", "hr")
  }

  /** Overlapping-interval coalescing: each event opens a 5-minute
    * activity interval [ts, ts+300s); overlapping or nested intervals
    * merge into maximal busy periods per user (the classic
    * merge-intervals operator — capacity planning, rate-limit
    * windows). Same break-flag + running-sum shape as [[sessionize]],
    * but the break tests overlap against the RUNNING MAX of interval
    * ends, not the gap to the previous event — nested intervals that
    * gap logic would wrongly split stay merged. Durations VARY per
    * event (1–10 min by event id): with constant durations the
    * running max collapses to the previous event's end and the
    * operator would degenerate to gap sessionization; variable
    * durations are what make contained intervals real. All integer µs.
    */
  def intervalMerge(spark: SparkSession, dir: String): DataFrame = {
    val iv = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), tsUs.as("s"))
      .withColumn("e", col("s") + (col("event_id") % 10 + 1) * 60000000L)
    val wPrev = Window.partitionBy(col("user_id"))
      .orderBy(col("s").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("user_id"))
      .orderBy(col("s").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = iv
      .withColumn("prev_max_e", max(col("e")).over(wPrev))
      .withColumn("brk",
        when(col("prev_max_e").isNull || col("s") > col("prev_max_e"), 1L)
          .otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(wRun))
    marked.groupBy(col("user_id"), col("grp"))
      .agg(min(col("s")).as("start_us"), max(col("e")).as("end_us"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("grp").as("interval_seq"),
        col("start_us"), col("end_us"), col("n_events"))
      .orderBy("user_id", "interval_seq")
  }

  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val clickTs = when(col("event_type") === "click", tsUs)
    Tables.events(spark, dir)
      .withColumn("first_touch_us", min(clickTs).over(w))
      .withColumn("last_touch_us", max(clickTs).over(w))
      .withColumn("n_touches", count(clickTs).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        tsUs.as("purchase_us"),
        col("first_touch_us"), col("last_touch_us"), col("n_touches"))
      .orderBy("event_id")
  }

  /** Discrete-time survival analysis over user lifetimes (Nelson-Aalen
    * cumulative hazard, Aalen 1978): a user's lifetime is the span in
    * whole days from their first to last event; users whose last event
    * falls within 7 days of the corpus end are right-censored (still
    * active — their true lifetime is only known to EXCEED the observed
    * span). For each observed day d: the at-risk count (users with
    * lifetime ≥ d), events (uncensored users whose lifetime ends at
    * exactly d), censored exits, the per-day hazard, and the running
    * cumulative hazard — the retention curve churn models calibrate
    * against, and the censoring-aware upgrade of [[churnRate]]'s naive
    * ratio (which undercounts survival by treating active users as
    * churned).
    *
    * Determinism: Kaplan-Meier's survival PRODUCT of rationals is not
    * cross-engine exact, so this emits the additive Nelson-Aalen form —
    * hazard_bp = (10000·deaths) div at_risk truncated per term, summed
    * by a window. Each term truncates identically in both engines, so
    * the running sum is integer-exact (same discipline as spearman's
    * shifted div). S(t) ≈ exp(−H(t)) is a reader-side transform.
    *
    * Scale posture: one user-keyed agg collapses 100 TB of events to
    * one row per user; the day grid is bounded by the observation span
    * (≤ thousands of rows), so both running sums are TRIANGULAR
    * BROADCAST JOINS over the bounded grid ([[Aggregates.batchPackSharded]]'s
    * offset pattern — never an unpartitioned window, which would plan a
    * single-partition funnel). The global max-ts is a 1-row broadcast.
    */
  def survivalHazard(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"), tsUs.as("us"))
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
    val endUs = perUser.agg(max(col("last_us")).as("end_us"))
    val lives = perUser.crossJoin(broadcast(endUs))
      .select(
        expr("(last_us - first_us) div 86400000000").as("life_d"),
        (col("last_us") >= col("end_us") - lit(7L * 86400000000L))
          .cast("long").as("censored"))
    // exits per day, split by censoring status. localCheckpoint: the
    // day grid is BOUNDED (one row per observed day) and feeds four
    // branches of the triangular joins below — without the checkpoint
    // the plan nests the full events subtree ~12×. n_users re-derives
    // from the checkpointed grid (every user exits on exactly one day),
    // so events are scanned once.
    val byDay = Fixpoint.reliably(lives.groupBy(col("life_d"))
      .agg(sum(lit(1L) - col("censored")).as("deaths"),
        sum(col("censored")).as("n_censored")))
    val total = byDay.agg(
      sum(col("deaths") + col("n_censored")).as("n_users"))
    // at_risk(d) = n_users - exits strictly before d (triangular join)
    val exits = byDay.select(col("life_d").as("d0"),
      (col("deaths") + col("n_censored")).as("ex"))
    val atRisk = byDay.crossJoin(broadcast(total))
      .join(broadcast(exits), col("d0") < col("life_d"), "left")
      .groupBy(col("life_d"), col("deaths"), col("n_censored"),
        col("n_users"))
      .agg(coalesce(sum(col("ex")), lit(0L)).as("prior_exits"))
      .withColumn("at_risk", col("n_users") - col("prior_exits"))
      .withColumn("hazard_bp", expr("(10000 * deaths) div at_risk"))
    // cumulative hazard: inclusive triangular sum of per-day hazards
    val haz = atRisk.select(col("life_d").as("d1"),
      col("hazard_bp").as("h"))
    atRisk
      .join(broadcast(haz), col("d1") <= col("life_d"))
      .groupBy(col("life_d"), col("at_risk"), col("deaths"),
        col("n_censored"), col("hazard_bp"))
      .agg(sum(col("h")).as("cum_hazard_bp"))
      .select(col("life_d"), col("at_risk"), col("deaths"),
        col("n_censored"), col("hazard_bp"), col("cum_hazard_bp"))
      .orderBy("life_d")
  }

  /** Lag-k autocorrelation of each event type's hourly rate series
    * (k ∈ {1, 2, 3, 24} — adjacent-hour persistence up to the daily
    * seasonal echo): the ACF profile that separates bursty types from
    * periodic ones, and the statistic behind every "is this series
    * seasonal?" gate in a forecasting pipeline (Box & Jenkins ch.2).
    * Computed on the DENSE hour grid ([[tsFill]]'s discipline —
    * missing hours are real zeros; ACF over a gappy series is wrong).
    *
    * Exactness: with S = Σx over all m hours, m²·cov_k =
    * Σ_{t≤m−k}(m·x_t − S)(m·x_{t+k} − S) is pure integer arithmetic
    * (the n²-scaling that clears both means), and m²·var uses the
    * same transform over all t, so acf_bp = the spearman-style
    * shifted division (10000·(var′+cov′)) div var′ − 10000 — exact in
    * both engines, negative values survive (numerator stays
    * nonnegative because |cov_k| ≤ var by Cauchy-Schwarz).
    *
    * 64-bit headroom: each moment term |m·x − S| ≤ m·maxN (maxN = the
    * largest hourly count), so |m²·cov| ≤ m³·maxN² — int64 clears only
    * while m³·maxN² < 9.2·10¹⁸, e.g. a year of hours (m = 8760) caps
    * maxN at ≈ 3.7·10³ events/hour. That is within 10² of plausible
    * production rates, so since round 11 the moment operands are
    * UNCONDITIONALLY promoted to decimal(38,0) (the [[pcaPower]]
    * discipline; DuckDB side mirrors with HUGEINT): the 10³⁸ ceiling
    * lets a year of hours carry maxN ≈ 10¹³, ANSI overflow can't fire,
    * and the IntegralDivide surface (exact integer bp) is unchanged —
    * 1× hashes identical, proven by the sf0.01 oracle.
    *
    * Scale posture: hourly pre-agg is the reduction; the grid and all
    * windows are (event_type)-keyed over BOUNDED series; the lag
    * values come from `lead` over the same partitioning — no
    * self-join, no broadcast of anything data-sized.
    */
  def autocorrLag(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"), expr("(ts div 1000) div 3600000000").as("hr"))
      .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("n"))
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("hr"))
    val dense = grid.join(hourly, Seq("event_type", "hr"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val wAll = Window.partitionBy(col("event_type"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("hr").asc)
    val lags = Seq(1, 2, 3, 24)
    val withLeads = lags.foldLeft(
      dense
        .withColumn("m", count(lit(1)).over(wAll))
        .withColumn("s", sum(col("n")).over(wAll))
        // decimal(38,0) BEFORE the moment products: the m²-scaled
        // Σc·c is bounded by m³·maxN², which clears int64 already at
        // a year of hours × ~4k events/hour (the documented bound) —
        // within 10² of production rates, so the promotion is
        // unconditional (round-11; the pcaPower discipline). The
        // 10³⁸ ceiling then covers m³·maxN² for any realistic series.
        .withColumn("c", (col("m").cast("decimal(38,0)") * col("n")
          - col("s")).cast("decimal(38,0)"))) { (df, k) =>
      df.withColumn(s"c_$k", lead(col("c"), k).over(wOrd))
    }
    val aggCols = (sum(col("c") * col("c")).as("var2")) +:
      lags.map(k => sum(col("c") * col(s"c_$k")).as(s"cov2_$k"))
    val agged = withLeads.groupBy(col("event_type"))
      .agg(max(col("m")).as("m_hours"), aggCols: _*)
    lags.foldLeft(agged) { (df, k) =>
        df.withColumn(s"acf${k}_bp",
          expr(s"""CASE WHEN var2 = 0 THEN 0
                  |ELSE (10000 * (var2 + cov2_$k)) div var2 - 10000
                  |END""".stripMargin))
      }
      .select((col("event_type") +: col("m_hours") +:
        lags.map(k => col(s"acf${k}_bp"))): _*)
      .orderBy("event_type")
  }

  /** Burst detection over the dense hourly grid: maximal runs of
    * consecutive hours where a type's rate is ≥ 2× its median hourly
    * rate (median over the dense grid, [[tsAnomaly]]'s exact
    * cumulative-histogram selection). Emits one row per burst with
    * span, length, peak rate, and total burst mass — the
    * "flash-crowd / scraper / incident" primitive that single-hour
    * spike detection (tsAnomaly) can't express because it has no run
    * structure. Gaps-and-islands: burst group = running count of
    * non-burst hours at each burst hour (consecutive burst hours
    * share it); all integer.
    *
    * Scale posture: identical to [[tsFill]] — hourly pre-agg, then
    * type-keyed windows over the bounded dense grid; the median join
    * broadcasts one row per type. Output bounded by burst count.
    */
  def burstDetect(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"), expr("(ts div 1000) div 3600000000").as("hr"))
      .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("n"))
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("hr"))
    val dense = grid.join(hourly, Seq("event_type", "hr"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    // exact lower median of n over the dense grid, per type
    val hist = dense.groupBy(col("event_type"), col("n"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("n"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val med = hist.withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("nn", sum(col("cnt")).over(wAll))
      .groupBy(col("event_type"))
      .agg(min(when(col("cum") >= expr("(nn + 1) div 2"), col("n"))).as("med"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("hr").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = dense.join(med, Seq("event_type"))
      .withColumn("is_burst",
        (col("n") >= lit(2L) * greatest(col("med"), lit(1L))).cast("long"))
      .withColumn("grp", sum(lit(1L) - col("is_burst")).over(wOrd))
    flagged.filter(col("is_burst") === 1L)
      .groupBy(col("event_type"), col("grp"))
      .agg(min(col("hr")).as("start_hr"), max(col("hr")).as("end_hr"),
        count(lit(1)).as("len_hours"), max(col("n")).as("peak_n"),
        sum(col("n")).as("burst_mass"), max(col("med")).as("med"))
      .filter(col("len_hours") >= 2)
      .select(col("event_type"), col("start_hr"), col("end_hr"),
        col("len_hours"), col("peak_n"), col("burst_mass"), col("med"))
      .orderBy("event_type", "start_hr")
  }

  /** Half-life recency weighting: each event's training weight decays
    * by 2× per week of age (half-life 7 d against the corpus end) —
    * the freshness-weighted sampling mass a continually-retrained
    * model assigns its event stream. Exponential decay is usually
    * exp(−λ·age), irrational and cross-engine unsafe; powers of two
    * ARE exact — weight_bp = 10000 div 2^age_weeks (shift, capped at
    * 2^20 ≈ zero) gives the same geometric family with integer
    * arithmetic both engines reproduce bit-for-bit. Per type: event
    * count, decayed mass, the average weight, and the age span — the
    * "how much of this stream still matters" dashboard.
    *
    * Scale posture: one scan, a 1-row corpus-end broadcast, a map-side
    * weight, one type-keyed agg. Nothing else.
    */
  def recencyDecay(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), tsUs.as("us"))
    val endUs = ev.agg(max(col("us")).as("end_us"))
    ev.crossJoin(broadcast(endUs))
      .withColumn("age_w", expr("(end_us - us) div 604800000000"))
      .withColumn("w_bp",
        expr("10000 div shiftleft(1L, cast(least(age_w, 20) as int))"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("w_bp")).as("decayed_mass_bp"),
        max(col("age_w")).as("oldest_weeks"),
        min(col("age_w")).as("newest_weeks"))
      .withColumn("avg_weight_bp",
        expr("decayed_mass_bp div n_events"))
      .select(col("event_type"), col("n_events"), col("decayed_mass_bp"),
        col("avg_weight_bp"), col("oldest_weeks"), col("newest_weeks"))
      .orderBy("event_type")
  }

  /** Watermark-lateness audit: how out-of-order each event type's
    * stream actually arrives — the number that sets a Structured
    * Streaming `withWatermark` delay honestly (too tight drops data,
    * [[StreamingOps]]' epoch-0 gotcha; too loose bloats state).
    * Arrival order is the event_id sequence; an event is LATE if some
    * earlier-arriving event of its type carries a larger event time.
    * Reports per type: events, late events and share, and the max /
    * mean lateness in whole seconds.
    *
    * The arrival-prefix running max is TWO-PHASE ([[Aggregates
    * .batchPackSharded]]'s decomposition): arrivals chunk by
    * event_id div 1000; phase 1 takes each chunk's max event time
    * (keyed agg) and runs the cross-chunk prefix max over the BOUNDED
    * chunk grid (type-keyed window); phase 2 runs the within-chunk
    * prefix max under a (type, chunk)-keyed window — high-cardinality
    * partitioning end to end, never one partition per type over the
    * raw stream. prior_max = greatest(cross-chunk, within-chunk).
    *
    * Scale posture: one scan, one (type, chunk) agg, one bounded-grid
    * window, one (type, chunk) window, one equi-join on (type, chunk),
    * one type-keyed agg. All integer µs → s.
    */
  /** Shared core of [[latenessAudit]] and [[watermarkSweep]]: the
    * per-event arrival lateness frame (event_type, event_id, us,
    * late_us), where late_us = max(0, prior_max − us) and prior_max is
    * the running max event time over the ARRIVAL prefix (event_id
    * order) of the same type. Two-phase as documented on
    * latenessAudit: within-chunk window + cross-chunk prefix max over
    * the bounded chunk grid — high-cardinality partitioning end to
    * end. Extracted in round 10 (ADVICE r9): the two operators
    * previously duplicated this whole pipeline and could drift.
    */
  private def arrivalLateness(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), tsUs.as("us"))
      .withColumn("chunk", expr("event_id div 1000"))
    val chunkMax = ev.groupBy(col("event_type"), col("chunk"))
      .agg(max(col("us")).as("cmax"))
    val wChunks = Window.partitionBy(col("event_type"))
      .orderBy(col("chunk").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prior = chunkMax
      .withColumn("prior_chunk_max", max(col("cmax")).over(wChunks))
      .select(col("event_type"), col("chunk"), col("prior_chunk_max"))
    val wIn = Window.partitionBy(col("event_type"), col("chunk"))
      .orderBy(col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.join(prior, Seq("event_type", "chunk"))
      .withColumn("within_max", max(col("us")).over(wIn))
      .withColumn("late_us",
        greatest(lit(0L),
          greatest(coalesce(col("within_max"), lit(-1L)),
            coalesce(col("prior_chunk_max"), lit(-1L))) - col("us")))
      .select(col("event_type"), col("event_id"), col("us"), col("late_us"))
  }

  def latenessAudit(spark: SparkSession, dir: String): DataFrame = {
    arrivalLateness(spark, dir)
      .withColumn("late_s", expr("late_us div 1000000"))
      .withColumn("is_late", (col("late_us") > 0).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("is_late")).as("n_late"),
        max(col("late_s")).as("max_late_s"),
        sum(col("late_s")).as("total_late_s"))
      .withColumn("late_bp", expr("(10000 * n_late) div n_events"))
      .withColumn("mean_late_s",
        expr("CASE WHEN n_late = 0 THEN 0 ELSE total_late_s div n_late END"))
      .select(col("event_type"), col("n_events"), col("n_late"),
        col("late_bp"), col("max_late_s"), col("mean_late_s"))
      .orderBy("event_type")
  }

  /** Interpolation join — [[AsOf.asOfJoin]] carries the LAST value
    * forward; this LINEARLY INTERPOLATES between the surrounding
    * hourly anchors instead (the feature-backfill primitive: a model
    * reading an hourly-snapshotted feature at event time wants the
    * value slope, not a staircase). Anchors are each type's hourly
    * mean value in integer cents, timestamped at the hour start; each
    * event interpolates between its OWN hour's anchor and the next
    * existing hour's (hold-last at the series tail). The weighted
    * form v = (v0·(t1−t) + v1·(t−t0)) div (t1−t0) keeps every operand
    * nonnegative — no negative-division cross-engine hazard.
    *
    * Scale posture: anchors are the hourly pre-agg (the reduction);
    * next-anchor is a `lead` over the BOUNDED per-type hourly grid;
    * events attach their anchor pair by an equi-join on (type, hour)
    * — never a window over the raw stream ([[AsOf]]'s user-keyed
    * union trick doesn't apply here because the interpolation key is
    * the low-cardinality type).
    */
  def interpJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), tsUs.as("us"),
        expr("cast(round(cast(value as double) * 100, 0) as bigint)").as("v_c"))
      .withColumn("hr", expr("us div 3600000000"))
    val anchors = ev.groupBy(col("event_type"), col("hr"))
      .agg(expr("sum(v_c) div count(1)").as("a_v"))
    val wNext = Window.partitionBy(col("event_type")).orderBy(col("hr").asc)
    val pairs = anchors
      .withColumn("next_hr", lead(col("hr"), 1).over(wNext))
      .withColumn("next_v", lead(col("a_v"), 1).over(wNext))
    ev.join(pairs, Seq("event_type", "hr"))
      .withColumn("t0", col("hr") * lit(3600000000L))
      .withColumn("t1", col("next_hr") * lit(3600000000L))
      .withColumn("v_interp_c",
        when(col("next_hr").isNull, col("a_v"))
          .otherwise(expr(
            "(a_v * (t1 - us) + next_v * (us - t0)) div (t1 - t0)")))
      .select(col("event_id"), col("event_type"), col("us").as("ts_us"),
        col("a_v").as("v0_c"), col("next_v").as("v1_c"),
        col("v_interp_c"))
      .orderBy("event_id")
  }

  /** Weekly quantile drift: exact p50/p90 of the event value (integer
    * cents) per (type, week), with the week-over-week p50 delta — the
    * distribution-shift monitor that catches "the payment amounts
    * changed shape" long before the mean moves ([[tsAnomaly]] watches
    * rate; this watches VALUE). Quantiles by the exact cumulative
    * value-histogram rank selection; the delta is a `lag` over the
    * bounded (type, week) grid.
    *
    * Scale posture: one scan → (type, week, value) histogram agg; all
    * windows run over the bounded histogram / week grids, keyed by
    * type(+week); output bounded by types × weeks.
    */
  def quantileDrift(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("(ts div 1000) div 604800000000").as("wk"),
        expr("cast(round(cast(value as double) * 100, 0) as bigint)").as("v_c"))
      .groupBy(col("event_type"), col("wk"), col("v_c"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("event_type"), col("wk"))
      .orderBy(col("v_c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"), col("wk"))
    val q = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("nn", sum(col("cnt")).over(wAll))
      .groupBy(col("event_type"), col("wk"))
      .agg(max(col("nn")).as("n"),
        min(when(col("cum") >= expr("(nn + 1) div 2"), col("v_c"))).as("p50_c"),
        min(when(expr("10 * cum >= 9 * nn"), col("v_c"))).as("p90_c"))
    val wLag = Window.partitionBy(col("event_type")).orderBy(col("wk").asc)
    q.withColumn("p50_delta_c",
        col("p50_c") - coalesce(lag(col("p50_c"), 1).over(wLag), col("p50_c")))
      .select(col("event_type"), col("wk"), col("n"), col("p50_c"),
        col("p90_c"), col("p50_delta_c"))
      .orderBy("event_type", "wk")
  }

  /** Engagement stickiness: per week, the weekly-active users (WAU),
    * the trailing-4-week monthly-active users (MAU), and the DAU/MAU-
    * family stickiness ratio WAU/MAU in basis points — the product-
    * analytics north-star that [[churnRate]]'s exit counting can't
    * express (a user can be retained but barely active). MAU without
    * a sliding distinct-count window: each distinct (user, week)
    * contributes itself to the 4 FORWARD weeks' windows (`sequence` +
    * explode), so MAU(w) is a plain distinct count per week — the
    * standard shuffle-friendly decomposition of windowed COUNT
    * DISTINCT.
    *
    * Scale posture: one scan → distinct (user, week) — the reduction;
    * the 4-week contribution explode is map-side ×4; both counts are
    * week-keyed distinct aggs; output bounded by the week grid.
    */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("(ts div 1000) div 604800000000").as("wk"))
      .distinct()
    val wau = uw.groupBy(col("wk")).agg(count(lit(1)).as("wau"))
    val span = uw.agg(min(col("wk")).as("w0"), max(col("wk")).as("w1"))
    val contrib = uw
      .select(col("user_id"), col("wk"),
        explode(sequence(col("wk"), col("wk") + 3)).as("mwk"))
      .crossJoin(broadcast(span))
      .filter(col("mwk") <= col("w1"))
      .select(col("user_id"), col("mwk").as("wk"))
      .distinct()
    val mau = contrib.groupBy(col("wk")).agg(count(lit(1)).as("mau"))
    wau.join(mau, Seq("wk"))
      .withColumn("stickiness_bp", expr("(10000 * wau) div mau"))
      .select(col("wk"), col("wau"), col("mau"), col("stickiness_bp"))
      .orderBy("wk")
  }

  /** Conversion-lag distribution: minutes from a user's FIRST view to
    * their first purchase AT OR AFTER it, in power-of-two buckets with
    * cumulative share — the "how long does the funnel actually take"
    * histogram that [[funnelWindowed]]'s fixed attribution window
    * assumes an answer to (read the p90 bucket off this to SET that
    * window). Buckets are the exact CASE ladder ([[graft.etl.Crawl
    * .degreeDistribution]]'s power-law trick — no irrational log2);
    * the cumulative share is a triangular broadcast join over the
    * bounded ≤12-row bucket frame, never an unpartitioned window.
    *
    * Scale posture: two user-keyed min-aggs (the reduction), map-side
    * bucketing, one bucket agg, 1-row totals broadcast, bounded
    * triangle. Output ≤ 12 rows.
    */
  def conversionLag(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), tsUs.as("us"))
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("view_us"))
    val firstBuy = ev.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .filter(col("us") >= col("view_us"))
      .groupBy(col("user_id"), col("view_us"))
      .agg(min(col("us")).as("buy_us"))
    val lag = firstBuy
      .withColumn("lag_min", expr("(buy_us - view_us) div 60000000"))
    val bucket = when(col("lag_min") < 1, 0).when(col("lag_min") < 2, 1)
      .when(col("lag_min") < 4, 2).when(col("lag_min") < 8, 3)
      .when(col("lag_min") < 16, 4).when(col("lag_min") < 32, 5)
      .when(col("lag_min") < 64, 6).when(col("lag_min") < 128, 7)
      .when(col("lag_min") < 256, 8).when(col("lag_min") < 512, 9)
      .when(col("lag_min") < 1024, 10).otherwise(11)
    // bounded (<=12 rows) and read by three branches (totals, shares,
    // triangle) — localCheckpoint so the user-keyed reduction runs
    // once, not per branch
    val cells = Fixpoint.reliably(lag.withColumn("bucket", bucket)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_users")))
    val tot = cells.agg(sum(col("n_users")).as("total"))
    val shared = cells.crossJoin(broadcast(tot))
      .withColumn("share_bp", expr("(10000 * n_users) div total"))
    val cum = cells.select(col("bucket").as("b2"), col("n_users").as("n2"))
    shared.join(broadcast(cum), col("b2") <= col("bucket"))
      .groupBy(col("bucket"), col("n_users"), col("share_bp"),
        col("total"))
      .agg(sum(col("n2")).as("n_cum"))
      .withColumn("cum_bp", expr("(10000 * n_cum) div total"))
      .select(col("bucket"), col("n_users"), col("share_bp"),
        col("cum_bp"))
      .orderBy("bucket")
  }

  /** Peak concurrency by sweep line: each event holds a resource for
    * 5 minutes; per type, the maximum number of simultaneously-open
    * holds and the minute it first occurs — the capacity-planning
    * number ([[intervalMerge]] coalesces busy spans; this counts the
    * DEPTH inside them). The sweep is +1 at the start minute, −1 at
    * the end minute, aggregated to the per-(type, minute) delta grid
    * FIRST (the reduction — the running sum then walks the bounded
    * delta grid, never raw events; concurrency is constant between
    * deltas so the peak always sits on a grid row).
    *
    * Scale posture: one scan → explode(±1) → (type, minute) delta agg
    * → type-keyed running sum over the time-bounded grid → rank-1
    * filter. Same discipline as [[tsAnomaly]]'s histograms.
    */
  def peakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), tsUs.as("us"))
    val deltas = ev.select(col("event_type"),
        explode(array(
          struct(expr("us div 60000000").as("mn"), lit(1L).as("d")),
          struct(expr("(us + 300000000) div 60000000").as("mn"),
            lit(-1L).as("d")))).as("x"))
      .select(col("event_type"), col("x.mn").as("mn"), col("x.d").as("d"))
      .groupBy(col("event_type"), col("mn")).agg(sum(col("d")).as("delta"))
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("mn").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val conc = deltas.withColumn("conc", sum(col("delta")).over(wRun))
    GroupTopK.topK(conc, 1, "rk", Seq("event_type"),
        col("conc").desc, col("mn").asc)
      .select(col("event_type"), col("conc").as("peak"),
        col("mn").as("peak_minute"))
      .orderBy("event_type")
  }

  /** SLO burn-rate alerting (the Google SRE workbook's multi-window
    * policy): per hour, the error-event share against a 1% (100 bp)
    * availability SLO, the 1-hour burn rate, the trailing-6-hour burn
    * rate, and the fast/slow alert flags (fast: 1 h burn ≥ 14.4×;
    * slow: 6 h burn ≥ 6× — the standard page/ticket thresholds,
    * ×10 integer units). Burn = err_bp/SLO_bp exactly as err_bp div 10
    * in ×10 units. The trailing window is a BROADCAST band join over
    * the bounded hourly grid (h−5 ≤ h2 ≤ h) — the hours axis is
    * time-bounded, so the triangle is tiny and the plan has no
    * unpartitioned window.
    *
    * Scale posture: one scan → hourly (n, n_err) agg (the reduction),
    * bounded non-equi broadcast join, map-side flags. Output = hours.
    */
  def sloBurn(spark: SparkSession, dir: String): DataFrame = {
    // bounded hourly grid, read by both band sides — reliable
    // checkpoint (round-10 lifecycle: no pinned blocks outlive the call)
    val hourly = Fixpoint.reliably(Tables.events(spark, dir)
      .select(expr("(ts div 1000) div 3600000000").as("hr"),
        (col("event_type") === "error").cast("long").as("is_err"))
      .groupBy(col("hr"))
      .agg(count(lit(1)).as("n"), sum(col("is_err")).as("n_err")))
    val win = hourly.select(col("hr").as("h2"), col("n").as("n2"),
      col("n_err").as("e2"))
    hourly.join(broadcast(win),
        col("h2") >= col("hr") - 5 && col("h2") <= col("hr"))
      .groupBy(col("hr"), col("n"), col("n_err"))
      .agg(sum(col("n2")).as("n6"), sum(col("e2")).as("e6"))
      .withColumn("err_bp", expr("(10000 * n_err) div n"))
      .withColumn("burn1_x10", expr("((10000 * n_err) div n) div 10"))
      .withColumn("burn6_x10", expr("((10000 * e6) div n6) div 10"))
      .withColumn("alert_fast", col("burn1_x10") >= 144L)
      .withColumn("alert_slow", col("burn6_x10") >= 60L)
      .select(col("hr"), col("n"), col("n_err"), col("err_bp"),
        col("burn1_x10"), col("burn6_x10"), col("alert_fast"),
        col("alert_slow"))
      .orderBy("hr")
  }

  /** Watermark-delay sweep: the drop-rate curve [[latenessAudit]]'s
    * summary implies — for candidate watermark delays {0, 1, 10, 60,
    * 300} seconds, the share of events that would arrive LATER than
    * the delay allows and be dropped by a stateful streaming operator.
    * This is the number `withWatermark` is actually set from: pick the
    * knee where drop_bp falls below the pipeline's loss budget.
    * Lateness is the same two-phase arrival-prefix running max
    * (chunked by event_id, cross-chunk maxima over the bounded grid —
    * never one partition per type).
    *
    * Scale posture: latenessAudit's plan plus a 5-row broadcast delay
    * grid and a (delay)-keyed agg. Output = 5 rows.
    */
  def watermarkSweep(spark: SparkSession, dir: String): DataFrame = {
    val late = arrivalLateness(spark, dir)
    val delays = spark.createDataFrame(
      Seq(Tuple1(0L), Tuple1(1L), Tuple1(10L), Tuple1(60L), Tuple1(300L)))
      .toDF("delay_s")
    late.crossJoin(broadcast(delays))
      .groupBy(col("delay_s"))
      .agg(count(lit(1)).as("n_events"),
        sum((col("late_us") > col("delay_s") * 1000000L).cast("long"))
          .as("n_dropped"))
      .withColumn("drop_bp", expr("(10000 * n_dropped) div n_events"))
      .select(col("delay_s"), col("n_events"), col("n_dropped"),
        col("drop_bp"))
      .orderBy("delay_s")
  }
}
