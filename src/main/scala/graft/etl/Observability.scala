package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** A10: IR run-statistics (chars, docs, skips, errors) as `observe()`
  * metrics — accumulated ON the executors during the normal pass, read
  * from the driver after the action. The Spark-native form of the
  * reference's IR.stats counters (DESIGN.md:1092-1099): no second scan,
  * no collect.
  */
object Observability {

  /** Attach the standard document-pipeline counters to any docs frame
    * (columns: text, n_chars). Read back via
    * `df.queryExecution.observedMetrics("graft_stats")` after an action.
    */
  def withDocStats(docs: DataFrame): DataFrame =
    docs.observe("graft_stats",
      count(lit(1)).as("docs_seen"),
      sum(coalesce(col("n_chars"), lit(0L))).as("chars_total"),
      count(when(length(coalesce(col("text"), lit(""))) === 0, 1))
        .as("docs_empty"),
      max(col("n_chars")).as("chars_max"))

  /** Data-profiling report (the precheck every ingest pipeline runs
    * before trusting a new drop): per column — null count, exact
    * distinct count, min/max. One branch PER COLUMN, unioned: each
    * branch is a single-column parquet scan (columnar pruning makes it
    * read only that column's pages) + a two-phase distinct aggregate.
    * The alternative one-pass form (all countDistincts in one agg)
    * plans an Expand that pushes |cols|× the FULL row width through
    * one aggregate — measured 5.4s vs ~1s for the per-column branches
    * at sf0.1; per-column scans are the standard profiler shape on
    * columnar storage (branches also parallelize independently).
    * min/max aggregate in the column's NATIVE type and cast to string
    * only at the surface. At 100 TB swap countDistinct for
    * approx_count_distinct (see Router.distinctSketch for the tier).
    */
  def tableProfile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_returnflag", "l_linestatus", "l_suppkey", "l_partkey")
    cols.map { c =>
      Tables.lineitem(spark, dir).select(col(c))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_value"),
          max(col(c)).cast("string").as("max_value"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_value"), col("max_value"))
    }.reduce(_ unionByName _)
      .orderBy("column_name")
  }

  /** Rule-driven data-quality expectations (the Deequ/Great-
    * Expectations pattern): every rule is a boolean Column compiled
    * into ONE conditional aggregation pass — a single scan of the
    * fact table produces every rule's violation count (versus one
    * scan per rule: the profiler's per-column trick is wrong here
    * because rules share columns). The 1-row aggregate is then
    * exploded into the per-rule report — driver-side work on 6
    * values, not data. At 100 TB this is the ingest gate that runs
    * INSIDE the first pass over a new drop; adding a rule costs one
    * more sum(when(..)), never another scan.
    */
  def expectations(spark: SparkSession, dir: String): DataFrame = {
    val rules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "quantity_in_1_50" -> col("l_quantity").between(1, 50),
      "discount_in_0_10pct" -> col("l_discount").between(0.0, 0.1),
      "shipdate_not_null" -> col("l_shipdate").isNotNull,
      "returnflag_in_domain" -> col("l_returnflag").isin("A", "N", "R"),
      "price_positive" -> (col("l_extendedprice") > 0),
      // deliberately failing rule: TPC-H tax is 0-8%, so this reports
      // a real violation rate (the report must prove it can say no)
      "tax_is_zero" -> (col("l_tax") === 0.0))
    val aggs = count(lit(1)).as("n_rows") +:
      rules.zipWithIndex.map { case ((_, ok), i) =>
        sum(when(!coalesce(ok, lit(false)), 1L).otherwise(0L)).as(s"v$i")
      }
    val one = Tables.lineitem(spark, dir).agg(aggs.head, aggs.tail: _*)
    val report = explode(array(rules.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("rule"), col(s"v$i").as("n_violations"))
    }: _*)).as("r")
    one.select(col("n_rows"), report)
      .select(col("r.rule").as("rule"), col("n_rows"),
        col("r.n_violations").as("n_violations"))
      .withColumn("violation_bp", expr("(10000 * n_violations) div n_rows"))
      .withColumn("status",
        when(col("n_violations") === 0, lit("pass")).otherwise(lit("fail")))
      .orderBy("rule")
  }

  /** k-anonymity audit (Sweeney 2002) — the re-identification check a
    * pipeline runs before releasing training data containing people:
    * rows whose quasi-identifier combination (here nation ×  market
    * segment × coarse balance band) is shared by fewer than K rows are
    * re-identifiable. Reported per nation: equivalence classes, risky
    * classes, risky rows, and the risky-row fraction in basis points —
    * the signal that gates release or triggers further generalization
    * (widening the bands until every class reaches K).
    *
    * Scale posture: two keyed aggregations (QI-keyed class sizes, then
    * nation-keyed rollup) — both partial-agg map-side combined; QI
    * cardinality bounds state, never row count.
    */
  val AnonK = 4

  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val qi = graft.Tables.customer(spark, dir).select(
      col("c_nationkey").as("nation"),
      col("c_mktsegment").as("segment"),
      expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").as("bal_band"))
    val classes = qi.groupBy("nation", "segment", "bal_band")
      .agg(count(lit(1)).as("class_n"))
    classes.groupBy(col("nation"))
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("class_n") < AnonK, 1L).otherwise(0L)).as("risky_classes"),
        sum(when(col("class_n") < AnonK, col("class_n")).otherwise(lit(0L)))
          .as("risky_rows"),
        sum(col("class_n")).as("n_rows"))
      .withColumn("risky_bp", expr("(10000 * risky_rows) div n_rows"))
      .select(col("nation"), col("n_classes"), col("risky_classes"),
        col("risky_rows"), col("n_rows"), col("risky_bp"))
      .orderBy("nation")
  }

  /** l-diversity audit — [[kAnonymity]]'s attribute-disclosure
    * sibling: k-anonymity stops re-identification but a class whose
    * SENSITIVE value is homogeneous still leaks it (everyone in the
    * class shares the segment). Quasi-identifiers here are (nation,
    * balance band); sensitive attribute = market segment; a class is
    * exposed when it carries fewer than l = 2 distinct segments. Two
    * keyed aggs, same shape as kAnonymity.
    */
  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.Tables.customer(spark, dir).select(
      col("c_nationkey").as("nation"),
      expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").as("bal_band"),
      col("c_mktsegment").as("segment"))
    val classes = t.groupBy("nation", "bal_band")
      .agg(count(lit(1)).as("class_n"),
        countDistinct(col("segment")).as("n_sensitive"))
    classes.groupBy(col("nation"))
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("n_sensitive") < 2, 1L).otherwise(0L))
          .as("homogeneous_classes"),
        sum(when(col("n_sensitive") < 2, col("class_n")).otherwise(lit(0L)))
          .as("exposed_rows"),
        sum(col("class_n")).as("n_rows"))
      .withColumn("exposed_bp", expr("(10000 * exposed_rows) div n_rows"))
      .orderBy("nation")
  }

  /** t-closeness breach threshold: a class whose sensitive-attribute
    * distribution sits more than 0.2 EMD from the global one (2000 bp)
    * leaks the attribute through membership alone — the t the original
    * paper uses in its worked examples. */
  val TCloseBp = 2000L

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    * distribution-disclosure sibling of [[kAnonymity]] /
    * [[lDiversity]]: a class can be k-anonymous AND l-diverse yet still
    * leak, when its sensitive-value DISTRIBUTION differs sharply from
    * the table's (e.g. a class where 90% of balances sit in the top
    * band). For the ordered sensitive attribute (balance band) the
    * paper's distance is the ordered Earth-Mover's Distance:
    * EMD = (1/(K−1)) · Σ_k |Σ_{j≤k} (p_j − q_j)| over the K-band
    * support. Quasi-identifiers here are (nation, market segment);
    * reported per nation: class count, worst and mean class EMD in
    * basis points, and the classes/rows breaching [[TCloseBp]].
    *
    * Exactness: prefix sums compare cross-multiplied integers
    * (cum_class·N − cum_global·n_c), so the EMD numerator is exact and
    * t_bp one integer division — no rationals ever materialize.
    * Headroom: int64 would cap the summed |prefix| terms at
    * n_c·N < 9·10¹⁴ / K — with K = 11 bands only ~10⁷ rows, within 10²
    * of production corpora — so since round 11 the cross-products are
    * UNCONDITIONALLY decimal(38,0) (DuckDB mirrors with HUGEINT): ANSI
    * overflow can't fire at any realistic N, and the IntegralDivide
    * surface (exact integer bp) plus all 1× hashes are unchanged.
    *
    * Scale posture: one QI×band keyed agg over the table (map-side
    * combined), then everything downstream lives on the CLASS grid
    * (classes × K bands — bounded by QI cardinality, never row count):
    * the band support and the 1-row total are broadcast, the prefix
    * window partitions by class over K rows. Output = one row per
    * nation. The QI×band frame feeds FOUR branches (class totals, band
    * support, grand total, grid join-back) — the CLAUDE.md bounded-frame
    * rule: without materializing it once, each branch re-nests the full
    * customer scan (round 10 shipped exactly that 8× re-scan). Staged
    * at memory speed, the per-nation result written reliably, staging
    * blocks released on return — zero pins.
    */
  def tCloseness(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.scoped { scope =>
      val cb = scope.local(Tables.customer(spark, dir)
        .select(col("c_nationkey").as("nation"),
          col("c_mktsegment").as("segment"),
          expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").as("band"))
        .groupBy("nation", "segment", "band")
        .agg(count(lit(1)).as("c")))
      val cls = cb.groupBy("nation", "segment").agg(sum(col("c")).as("n_c"))
      val gb = cb.groupBy("band").agg(sum(col("c")).as("g"))
      val tot = gb.agg(sum(col("g")).as("n_total"),
        count(lit(1)).as("k_bands"))
      val grid = cls.crossJoin(broadcast(gb))
        .join(cb, Seq("nation", "segment", "band"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val w = Window.partitionBy("nation", "segment").orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val perClass = grid
        .withColumn("cum_c", sum(col("c")).over(w))
        .withColumn("cum_g", sum(col("g")).over(w))
        .crossJoin(broadcast(tot))
        // decimal(38,0) before the cross-multiplication: n_c·N clears
        // int64 only below ~10⁷ rows at K=11 (within 10² of production
        // corpora), so the promotion is unconditional (round-11, the
        // pcaPower discipline; oracle mirrors with HUGEINT) — surface
        // t_bp stays an exact IntegralDivide long, 1× hashes unchanged
        .withColumn("p_abs",
          abs(col("cum_c").cast("decimal(38,0)") * col("n_total")
            - col("cum_g").cast("decimal(38,0)") * col("n_c")))
        .groupBy(col("nation"), col("segment"), col("n_c"))
        .agg(sum(col("p_abs")).as("emd_num"),
          max(col("n_total")).as("n_total"), max(col("k_bands")).as("k_bands"))
        .withColumn("t_bp", // greatest(...,1): K=1 support ⇒ EMD 0, not ÷0
          expr("(10000 * emd_num) div " +
            "(greatest(k_bands - 1, 1) * CAST(n_c AS DECIMAL(38,0)) * n_total)"))
      Fixpoint.reliably(perClass.groupBy(col("nation"))
        .agg(count(lit(1)).as("n_classes"),
          sum(col("n_c")).as("n_rows"),
          max(col("t_bp")).as("max_t_bp"),
          sum(col("t_bp")).as("sum_t"),
          sum(when(col("t_bp") > TCloseBp, 1L).otherwise(0L))
            .as("breach_classes"),
          sum(when(col("t_bp") > TCloseBp, col("n_c")).otherwise(lit(0L)))
            .as("breach_rows"))
        .withColumn("avg_t_bp", expr("sum_t div n_classes"))
        .select(col("nation"), col("n_classes"), col("n_rows"),
          col("max_t_bp"), col("avg_t_bp"), col("breach_classes"),
          col("breach_rows"))
        .orderBy("nation"))
    }

  /** Poisson bootstrap of the mean tokens-per-document — uncertainty
    * for corpus metrics in ONE pass (Chamandy et al., "Estimating
    * Uncertainty for Massive Data Streams", the scalable bootstrap:
    * each replicate re-weights every row by an independent Poisson(1)
    * draw instead of resampling, so B=16 replicates ride a single
    * scan + one small agg — no data movement, no per-replicate scan).
    * The consumer reads the replicate spread as the CI of the mean.
    *
    * Fully deterministic across engines and partitionings: the
    * "draw" is the salted-hash uniform (weightedSample's rule) cut at
    * floor(2³²·CDF_Poisson(1)(k)) integer literals, truncated at 5
    * (tail mass 4·10⁻⁴). Every output is exact integer bp.
    */
  def bootstrapMean(spark: SparkSession, dir: String): DataFrame = {
    val drawn = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("bigint").as("v"))
      .select(col("doc_id"), col("v"),
        explode(sequence(lit(0), lit(15))).as("b"))
      .withColumn("u",
        conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
          col("b").cast("string"))), 1, 8), 16, 10).cast("bigint"))
      .withColumn("cnt",
        when(col("u") < 1580030168L, 0L)
          .when(col("u") < 3160060337L, 1L)
          .when(col("u") < 3950075421L, 2L)
          .when(col("u") < 4213413783L, 3L)
          .when(col("u") < 4279248373L, 4L)
          .otherwise(5L))
    drawn.groupBy(col("b"))
      .agg(sum(col("cnt")).as("n_eff"),
        sum(col("cnt") * col("v")).as("token_mass"))
      .withColumn("mean_tokens_bp",
        expr("(10000 * token_mass) div n_eff"))
      .orderBy("b")
  }

  /** Right-to-be-forgotten cascade audit (GDPR art. 17 / CCPA
    * deletion): given a deletion cohort (here every 97th customer —
    * production passes the actual request list), measure the blast
    * radius BEFORE deleting — how many rows each downstream table
    * loses when the deletion cascades along foreign keys
    * (customer → orders → lineitem). The events tier is NOT a true FK
    * cascade from the customer seeds — event user_ids are not
    * custkeys ([[fkIntegrity]]'s finding) — so it applies the
    * ANALOGOUS modular cohort on user_id (user_id % 97 == 0): the
    * same "every 97th identity" policy evaluated independently per
    * id domain.
    * One row per table with total rows, cascade-deleted rows, and the
    * share in basis points — the dry-run report a data-governance
    * pipeline files with every deletion batch.
    *
    * Scale posture: each cascade level is a LEFT SEMI join on the
    * parent's key set (key-partitioned shuffles; at 100 TB the
    * customer cohort is broadcast-sized and Spark picks the broadcast
    * semi automatically); counts are per-table global aggs; the
    * 4-row output unions 1-row frames. No row data ever moves — only
    * keys and counters.
    */
  def forgetCascade(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select(col("c_custkey"))
    val seeds = cust.filter(col("c_custkey") % 97 === 0)
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val delOrders = orders.join(
      seeds.withColumnRenamed("c_custkey", "o_custkey"),
      Seq("o_custkey"), "left_semi")
    val line = Tables.lineitem(spark, dir).select(col("l_orderkey"))
    val delLine = line.join(
      delOrders.select(col("o_orderkey").as("l_orderkey")),
      Seq("l_orderkey"), "left_semi")
    val ev = Tables.events(spark, dir).select(col("user_id"))
    val delEv = ev.filter(col("user_id") % 97 === 0)

    def row(tbl: String, total: DataFrame, deleted: DataFrame): DataFrame = {
      val t = total.agg(count(lit(1)).as("n_total"))
      val d = deleted.agg(count(lit(1)).as("n_delete"))
      t.crossJoin(broadcast(d))
        .select(lit(tbl).as("tbl"), col("n_total"), col("n_delete"),
          expr("(10000 * n_delete) div n_total").as("share_bp"))
    }

    row("customer", cust, seeds)
      .unionByName(row("orders", orders, delOrders))
      .unionByName(row("lineitem", line, delLine))
      .unionByName(row("events", ev, delEv))
      .orderBy("tbl")
  }

  /** Referential-integrity audit: for every foreign-key edge in the
    * corpus schema, the child rows whose parent key is MISSING (the
    * orphans a MERGE/ingest precheck must count before any join-based
    * pipeline silently drops them — an inner join on a 2% orphaned FK
    * is a 2% silent data loss). Edges: lineitem→orders,
    * orders→customer, and events.user→customer (the last one is
    * EXPECTED to orphan — event users are not customers — which is
    * exactly what the audit should surface rather than assume).
    *
    * Scale posture: one LEFT ANTI join per edge (key-partitioned; the
    * parent side is key-only), one count each; 3 rows out.
    */
  def fkIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir).select(col("c_custkey"))

    def edge(name: String, child: DataFrame, parent: DataFrame,
        key: String): DataFrame = {
      val t = child.agg(count(lit(1)).as("n_child"))
      val o = child.join(parent, Seq(key), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      t.crossJoin(broadcast(o))
        .select(lit(name).as("fk_edge"), col("n_child"), col("n_orphans"),
          expr("(10000 * n_orphans) div n_child").as("orphan_bp"))
    }

    edge("lineitem.l_orderkey->orders",
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("k")),
        orders.select(col("o_orderkey").as("k")), "k")
      .unionByName(edge("orders.o_custkey->customer",
        orders.select(col("o_custkey").as("k")),
        cust.select(col("c_custkey").as("k")), "k"))
      .unionByName(edge("events.user_id->customer",
        Tables.events(spark, dir).select(col("user_id").as("k")),
        cust.select(col("c_custkey").as("k")), "k"))
      .orderBy("fk_edge")
  }

  /** Benford leading-digit audit (Newcomb 1881 / Benford 1938) — the
    * forensic data-quality screen run over any naturally-occurring
    * monetary or count column before trusting a new drop: genuine
    * multiplicative data puts digit d first with probability
    * log10(1+1/d); fabricated, truncated, or unit-mangled values break
    * the curve. Reported per digit: observed count, observed share
    * (basis points), the Benford reference share, and the signed
    * deviation. TPC-H totalprice is uniform-ish, so the report shows
    * REAL deviations — like [[expectations]]' deliberately failing
    * rule, the audit must prove it can say no. The reference shares
    * are pinned integer constants (round(10000·log10(1+1/d))), not
    * runtime log10 calls: libm log10 is not guaranteed correctly
    * rounded, and a pinned table is how production auditors ship the
    * curve anyway.
    *
    * The leading digit comes from the exact integer-cents encoding
    * (Relational.cents — the repo's money rule), whose decimal string
    * shares the price's significand; double→string formatting never
    * enters the plan. Scale posture: ONE pruned scan of orders into a
    * 9-group partial aggregate; the grand total is a SinglePartition
    * window over the 9-row aggregate (never a second scan) and the
    * reference table is a 9-row broadcast literal.
    */
  def benfordDeviation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val benford = Seq(1 -> 3010L, 2 -> 1761L, 3 -> 1249L, 4 -> 969L,
        5 -> 792L, 6 -> 669L, 7 -> 580L, 8 -> 512L, 9 -> 458L)
      .toDF("digit", "benford_bp")
    val byDigit = Tables(spark, dir, "orders")
      .select(Relational.cents(col("o_totalprice")).as("c"))
      .select(substring(col("c").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    byDigit
      .withColumn("n_total", sum(col("n")).over(Window.partitionBy()))
      .join(broadcast(benford), Seq("digit"))
      .withColumn("share_bp", expr("(10000 * n) div n_total"))
      .withColumn("dev_bp", col("share_bp") - col("benford_bp"))
      .select(col("digit"), col("n"), col("share_bp"), col("benford_bp"),
        col("dev_bp"))
      .orderBy("digit")
  }
}
