package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Plan-shape regression tests: the scale posture (broadcasts, pruning,
  * shuffle counts) is part of the contract, not an accident. These
  * assert the physical plans we designed for — if a refactor
  * reintroduces a shuffle or drops a broadcast, this fails before any
  * benchmark does.
  */
class PlanSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  // planOnly: the graph fixpoints materialize eagerly through reliable
  // checkpoints since round 10 — passthrough keeps their full lazy tree
  // visible here (and keeps plan-building side-effect-free)
  private def plan(name: String): String = graft.etl.Fixpoint.planOnly {
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(FormattedMode)
  }

  private def countOf(p: String, token: String): Int =
    p.sliding(token.length).count(_ == token)

  /** Every plan a query ACTUALLY executes, end to end — the instrument
    * for the eager graph fixpoints, whose interesting plans (per-round
    * joins, checkpoint materializations) run INSIDE the operator and
    * are invisible in the returned frame's single checkpoint-scan leaf.
    */
  private def executedPlans(name: String): Seq[String] =
    executedQes(SparkEntry.queries(name)(spark, dir))
      .map(_.explainString(FormattedMode))

  /** Single-partition exchanges that funnel real data through one task.
    *
    * Matched on SimpleMode output (FormattedMode prints the node name
    * and its `Arguments: SinglePartition` on separate lines, so a
    * naive substring check there never fires — which silently
    * vacuated this guard until round 4). A SinglePartition exchange is
    * legitimate in exactly one shape: the combine step of a global
    * aggregate, whose input is one partial-agg row per upstream
    * partition. Everything else (Sort/Window/non-partial child) moves
    * table-sized data through one task and fails here.
    */
  private def serialFunnels(name: String): Seq[String] = {
    val p = graft.etl.Fixpoint.planOnly {
      SparkEntry.queries(name)(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.SimpleMode)
    }
    val lines = p.linesIterator.toVector
    lines.zipWithIndex
      .filter(_._1.contains("Exchange SinglePartition"))
      .map { case (_, i) => lines.lift(i + 1).getOrElse("").trim }
      .filterNot(child => child.contains("Aggregate") && child.contains("partial"))
  }

  /** A statically-flagged funnel is tolerable iff it is provably
    * bounded AT RUNTIME: every SinglePartition shuffle the query
    * actually executes moves at most this many rows. The bound sits
    * far under the smallest sf0.001 table (~330 documents), so a
    * table-sized funnel cannot slip beneath it, while bounded-domain
    * grids (benford's 9 digit rows, a day grid, a lang domain) pass
    * mechanically — no per-query prose exemptions (r12 verdict 5).
    */
  private val FunnelRowBound = 128L

  /** Execute `name` once and return (node, rows-moved) for every
    * SinglePartition shuffle across ALL its executed plans (the
    * eager operators' internal actions included), read from the
    * exchanges' own shuffle-write metrics. AQE wraps stages in
    * leaf-like nodes, so the walk unwraps adaptive plans and query
    * stages explicitly — a plain collect() stops at the wrapper.
    */
  private def funnelRecordCounts(name: String): Seq[(String, Long)] =
    funnelRecordCountsOf(SparkEntry.queries(name)(spark, dir))

  private def funnelRecordCountsOf(df: => org.apache.spark.sql.DataFrame)
      : Seq[(String, Long)] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case o => o.children.flatMap(flatten)
    }) :+ p
    executedQes(df).flatMap(qe => flatten(qe.executedPlan)).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning ==
          org.apache.spark.sql.catalyst.plans.physical.SinglePartition =>
        // a missing metric must read as unbounded, never as tolerated
        e.nodeName -> e.metrics.get("shuffleRecordsWritten")
          .map(_.value).getOrElse(Long.MaxValue)
    }
  }

  test("dim_join_agg: both dims broadcast, no sort-merge join") {
    val p = plan("dim_join_agg")
    assert(countOf(p, ") BroadcastHashJoin") == 2, p)
    assert(!p.contains("SortMergeJoin"), "dims must not shuffle-join")
  }

  test("q3_topk plans a TakeOrderedAndProject, not a global sort") {
    val p = plan("q3_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("signature extraction is single-scan: only the output sort exchanges") {
    for (q <- Seq("doc_fingerprint", "minhash_signature", "simhash")) {
      val p = plan(q)
      assert(countOf(p, "+- Exchange") <= 1, s"$q grew a shuffle:\n$p")
    }
  }

  test("column pruning reaches the documents scan") {
    val p = plan("score_page") // needs doc_id, lang, text — not n_chars/source
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("n_chars"), readSchema)
    assert(!readSchema.contains("source"), readSchema)
  }

  test("predicate pushdown reaches the parquet scan") {
    val p = plan("ngram_jaccard") // doc_id < 64 must hit the scan
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,64)]")
      || p.contains("LessThan(doc_id,64)"), p)
  }

  test("knn queries broadcast the bounded query side") {
    for (q <- Seq("knn_brute", "knn_bucketed", "knn_multiprobe", "cluster_assign",
        "knn_pq", "knn_pq_rerank")) {
      val p = plan(q)
      assert(p.contains("Broadcast"), s"$q must broadcast queries:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q must not shuffle the corpus:\n$p")
    }
  }

  test("chunker is a pure generator: no aggregation, one output-sort exchange") {
    val p = plan("rag_chunk")
    assert(!p.contains("HashAggregate"), p)
    assert(countOf(p, "+- Exchange") <= 1, p)
  }

  test("skyline avoids the O(n²) self-join: banded windows + broadcasts only") {
    val p = plan("skyline_parts")
    assert(!p.contains("CartesianProduct"), s"skyline must not go all-pairs:\n$p")
    assert(!p.contains("SortMergeJoin"), s"carry/bounds joins must broadcast:\n$p")
    // the prefix-max window must be band-partitioned, never global
    assert(p.contains("Window"), p)
    assert(!serialFunnels("skyline_parts").exists(_.contains("Window")),
      s"skyline window funneled to one partition:\n$p")
  }

  test("eval-harness queries keep their broadcast/TakeOrdered shapes") {
    // oov_rate: the vocab cut must be a bounded TakeOrdered (never a
    // full global sort) and the coverage join must broadcast the
    // 256-entry vocab against the token stream
    val ov = plan("oov_rate")
    assert(ov.contains("TakeOrderedAndProject"),
      s"vocab cut must be bounded top-k, not a global sort:\n$ov")
    assert(ov.contains("BroadcastHashJoin"),
      s"coverage join must broadcast the vocab:\n$ov")
    // knn_recall / cluster_purity: the underlying tiers keep their
    // broadcast query/centroid sides; no all-pairs anywhere.
    // (mmr_diversify is excluded: its per-round localCheckpoint — the
    // fixpoint plan-growth rule — truncates the observable plan to a
    // Scan ExistingRDD, like dedup_components.)
    for (q <- Seq("knn_recall", "cluster_purity", "triplet_mine",
        "label_noise", "pq_distortion")) {
      val p = plan(q)
      assert(p.contains("Broadcast"), s"$q lost its broadcast side:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q went all-pairs:\n$p")
    }
    // bootstrap_mean: replicate expansion is a generator in the scan
    // stage — one b-keyed agg, no join anywhere
    val bm = plan("bootstrap_mean")
    assert(bm.contains("Generate"), s"bootstrap must explode in-scan:\n$bm")
    assert(!bm.contains("Join"), s"bootstrap grew a join:\n$bm")
    // quality_deciles: the cumulative window must run per-lang over
    // the aggregated counts table, never a single global partition
    assert(!serialFunnels("quality_deciles").exists(_.contains("Window")),
      s"decile window funneled to one partition:\n${plan("quality_deciles")}")
    // domain_cap: the per-source rank<=10 must ride the native
    // bounded-heap operator (RewriteRankFilterToGroupTopK), and the
    // single scan must not join back on doc_id
    val dc = plan("domain_cap")
    assert(dc.contains("GroupTopK"), s"domain_cap missed the heap rewrite:\n$dc")
    assert(!dc.contains("SortMergeJoin") && !dc.contains("BroadcastHashJoin"),
      s"domain_cap must be a single-scan window, no self-join:\n$dc")
  }

  test("banded edit-distance joins on the block key, never a nested loop") {
    val p = plan("edit_distance_banded")
    assert(!p.contains("NestedLoop"), s"blocking must make an equi-join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("binned range join is a hash/merge equi-join, never a nested loop") {
    val p = plan("range_join_band")
    assert(!p.contains("NestedLoop"), s"band join must stay equi-join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("as-of join costs one key shuffle plus the output sort") {
    val p = plan("asof_join")
    assert(countOf(p, "+- Exchange") <= 3, s"as-of grew shuffles:\n$p")
    assert(!p.contains("NestedLoop"), p)
  }

  test("q5 six-table join keeps both dims broadcast") {
    val p = plan("q5_local_supplier")
    assert(countOf(p, ") BroadcastHashJoin") >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sharded sequence plans have no single-partition exchange") {
    // batch_pack / the old page_id_gen were the intentionally-serial
    // plans; their sharded two-phase forms must never funnel the table
    // through one task. (The serial batch_pack stays as the semantic
    // reference and is exempt.)
    for (q <- Seq("batch_pack_sharded", "page_id_gen")) {
      val f = serialFunnels(q)
      assert(f.isEmpty, s"$q reintroduced a serial exchange into: $f")
    }
  }

  test("median_price aggregates to a value histogram before any window") {
    val p = plan("median_price")
    // no per-row ranking: the row_number form funnels lineitem into
    // 3 tasks (one per returnflag)
    assert(!p.contains("row_number"), p)
    // the low-cardinality window input is the (flag, cents) histogram,
    // not the table: a HashAggregate keyed on both must exist upstream
    assert("Keys \\[2\\]: \\[l_returnflag#\\d+, cents#\\d+L?\\]".r
      .findFirstIn(p).isDefined, p)
  }

  test("q4/q12/q14/decontaminate keep their claimed plan shapes") {
    // q4: EXISTS must plan as a semi-join (rows never widen)
    assert(plan("q4_late_orders").contains("LeftSemi"))
    // q12: classification agg must partial-aggregate before the shuffle
    assert(countOf(plan("q12_priority_shipping"), "HashAggregate") >= 2)
    // q14: un-hinted part dim — the planner must still pick broadcast
    // while it fits (the adaptive behavior the scaladoc promises)
    assert(plan("q14_promo_share").contains("BroadcastHashJoin"))
    // decontaminate: the bench shingle side must broadcast — losing it
    // turns the corpus scan into a shuffle join
    val dc = plan("decontaminate")
    assert(dc.contains("BroadcastHashJoin"), s"bench side lost broadcast:\n$dc")
    assert(!dc.contains("SortMergeJoin"), dc)
  }

  test("q7/q10: dims broadcast; q10 tops out via TakeOrdered with scan-level filter") {
    val p7 = plan("q7_nation_volume")
    assert(countOf(p7, ") BroadcastHashJoin") >= 3, s"q7 lost a dim broadcast:\n$p7")
    val p10 = plan("q10_returned_items")
    assert(p10.contains("TakeOrderedAndProject"), p10)
    assert(p10.contains("BroadcastHashJoin"), p10)
    assert(p10.contains("EqualTo(l_returnflag,R)"), s"return filter not pushed:\n$p10")
  }

  test("ngram_novelty: two hash shuffles plus the output sort, nothing else") {
    val p = plan("ngram_novelty")
    assert(countOf(p, "+- Exchange") <= 3, s"novelty grew a shuffle:\n$p")
  }

  test("kmeans_update: centroids broadcast, corpus never shuffle-joined") {
    val p = plan("kmeans_update")
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("SortMergeJoin"), s"corpus side must stay map-side:\n$p")
  }

  test("topk_native runs the GroupTopK physical operator, not a window sort") {
    val p = plan("topk_native")
    assert(p.contains("GroupTopK"), s"native operator not planned:\n$p")
    assert(p.contains("PartialGroupTopK"), s"map-side phase missing:\n$p")
    assert(!p.contains("Window"), s"fell back to WindowExec:\n$p")
    // the entire point vs WindowGroupLimit: no Sort below the operator
    // (only the final output orderBy sorts, above it)
    val belowTopK = p.substring(p.indexOf("PartialGroupTopK"))
    assert(!belowTopK.contains("+- Sort"), s"input sorted below the heaps:\n$p")
  }

  test("bloom probes plan as broadcast hash joins on the word index") {
    val p = plan("bloom_prefilter")
    assert(p.contains("BroadcastHashJoin"),
      s"word-index probes must be hash lookups:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"a nested-loop probe scans the word table per row:\n$p")
  }

  test("reservoir_sample auto-rewrites to GroupTopK (no window sort)") {
    val p = plan("reservoir_sample")
    assert(p.contains("GroupTopK"),
      s"rank-filter idiom did not rewrite to the native operator:\n$p")
    assert(!p.contains("Window"), s"fell back to WindowExec:\n$p")
  }

  test("group-column filters push through GroupTopK to the scan") {
    import org.apache.spark.sql.functions.col
    val base = graft.plans.GroupTopK.topK(
      SparkEntry.queries("score_page")(spark, dir), 3, "rn", Seq("lang"),
      col("relevance").desc, col("doc_id").asc)
    val filtered = base.filter(col("lang") === "en")
    val p = filtered.queryExecution.explainString(FormattedMode)
    // without PushFilterThroughGroupTopK the predicate is stuck above
    // the custom node and never reaches the parquet scan
    assert(p.contains("EqualTo(lang,en)"),
      s"lang filter did not reach PushedFilters:\n$p")
    // pushing whole groups is semantics-preserving
    val viaPost = base.collect().filter(_.getAs[String]("lang") == "en").toSet
    assert(filtered.collect().toSet == viaPost)
    // mixed conjuncts: only the group part pushes, the rank part stays
    val mixed = base.filter(col("lang") === "en" && col("rn") === 1)
    assert(mixed.queryExecution.explainString(FormattedMode)
      .contains("EqualTo(lang,en)"))
    assert(mixed.collect().forall(r =>
      r.getAs[String]("lang") == "en" && r.getAs[Int]("rn") == 1))
  }

  test("q6: all three predicates and the projection reach the parquet scan") {
    val p = plan("q6_forecast")
    val scanLines = p.linesIterator.filter(l =>
      l.contains("PushedFilters") || l.contains("ReadSchema")).mkString("\n")
    assert(scanLines.contains("l_shipdate"), s"shipdate range not pushed:\n$p")
    assert(scanLines.contains("l_discount"), s"discount band not pushed:\n$p")
    assert(scanLines.contains("l_quantity"), s"quantity cap not pushed:\n$p")
    // 4-column projection: the scan must not read the other 7 columns
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    for (c <- Seq("l_orderkey", "l_partkey", "l_returnflag", "l_tax"))
      assert(!readSchema.contains(c), s"$c read but unused:\n$readSchema")
  }

  test("q8/q9: every dim broadcast; no sort-merge against a dim") {
    val p8 = plan("q8_market_share")
    assert(countOf(p8, ") BroadcastHashJoin") >= 4, s"q8 dims must broadcast:\n$p8")
    val p9 = plan("q9_product_profit")
    assert(countOf(p9, ") BroadcastHashJoin") == 3, s"q9 dims must broadcast:\n$p9")
    assert(!p9.contains("SortMergeJoin"), s"q9 must only shuffle for the agg:\n$p9")
  }

  test("scalar-subquery thresholds are 1-row broadcasts, not windows") {
    // q15 (global max), q22 (global avg), q11 (global total): the
    // distributed form of `x > (SELECT agg .. )` — none may plan a
    // Window over an unpartitioned frame or a CartesianProduct
    for (q <- Seq("q15_top_supplier", "q22_idle_rich", "q11_important_parts")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q must not sort-window globally:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q scalar must broadcast:\n$p")
      assert(p.contains("Broadcast"), s"$q scalar must broadcast:\n$p")
    }
  }

  test("q2 min-cost carries the winner through one agg: no window, no re-join on the min") {
    val p = plan("q2_min_cost_supplier")
    assert(!p.contains("Window"), s"struct-min replaces the rank window:\n$p")
    // exactly one aggregation pair (partial+final) over the join
    assert(countOf(p, "HashAggregate") <= 2
      || countOf(p, "ObjectHashAggregate") <= 2, p)
  }

  test("q18 having-filter runs before the join-back to orders") {
    val p = plan("q18_large_orders")
    // the sum_qty > 250 filter must sit on the aggregate side, making
    // the join input tiny; TakeOrderedAndProject caps the output
    assert(p.contains("TakeOrderedAndProject"), p)
    val filterIdx = p.indexOf("sum_qty")
    assert(filterIdx >= 0, p)
  }

  test("rank-filter windows rewrite to GroupTopK exactly when safe") {
    // the standard DataFrame idiom now plans the heap operator...
    for (q <- Seq("topk_per_lang", "knn_brute", "frontier_pop")) {
      val p = plan(q)
      assert(p.contains("GroupTopK"), s"$q missed the rewrite:\n$p")
      assert(!p.contains("Window"), s"$q kept its window:\n$p")
    }
    // ...and patterns the rewrite cannot absorb keep WindowExec:
    // politeness_batches filters on (rn+1)/2 (not a literal bound),
    // rank_functions computes multiple window expressions
    for (q <- Seq("politeness_batches", "rank_functions")) {
      val p = plan(q)
      assert(p.contains("Window"), s"$q should not rewrite:\n$p")
    }
    // every query that cuts a per-key top-k (through GroupTopK.topK,
    // directly or via a ranked upstream) plans the partial + final heap
    // pair; a site that drifts from the helper's shape (rank() for
    // row_number(), say) is left on a sorted WindowExec
    val viaHelper = Seq(
      "topk_per_lang", "topk_native", "bigram_next", "budget_sample",
      "prefix_topk", "token_head_share", "cusum_changepoint",
      "peak_concurrency", "top_paths", "ts_motif", "knn_graph",
      "label_prop", "jaccard_linkpred", "image_filter", "window_rank",
      "hard_negatives", "ivf_sweep", "knn_brute", "knn_bucketed",
      "knn_ivf", "knn_ivf_trained", "knn_multiprobe", "knn_pq",
      "knn_pq_rerank", "knn_pq_trained", "label_noise",
      "matryoshka_recall", "triplet_mine", "decontaminate_eval",
      "reservoir_sample", "summary_extract", "domain_cap", "ap_eval",
      "best_snippet", "bm25_topk", "inverted_index", "mrr_eval",
      "ndcg_eval", "phrase_search", "query_expansion", "record_linkage",
      "rrf_fusion", "tfidf_search", "tfidf_topk", "anchor_text",
      "frontier_pop", "cluster_purity", "cluster_assign", "kmeans_update",
      "semdedup", "knn_recall", "rbo_inrow", "rbo_overlap",
      "retriever_overlap")
    for (q <- viaHelper) {
      val p = plan(q)
      assert(p.contains("PartialGroupTopK") && p.contains("GroupTopK"),
        s"$q missed the GroupTopK rewrite:\n$p")
    }
    // modularity and mmr_diversify cut inside staged frames, which the
    // returned plan reads as checkpoint scans: check what they execute
    for (q <- Seq("modularity", "mmr_diversify")) {
      val p = executedPlans(q).mkString("\n=== next executed plan ===\n")
      assert(p.contains("PartialGroupTopK") && p.contains("GroupTopK"),
        s"$q missed the GroupTopK rewrite:\n$p")
    }
  }

  test("round-4 wave keeps its claimed plan shapes") {
    // hard_negatives: knn discipline — bounded query side broadcast,
    // corpus never shuffle-joined
    val hn = plan("hard_negatives")
    assert(hn.contains("Broadcast"), s"query side must broadcast:\n$hn")
    assert(!hn.contains("SortMergeJoin"), s"corpus must stay map-side:\n$hn")
    // scd2_lookup: keyed equi-join with interval residuals — never a
    // nested loop over events × intervals
    val sl = plan("scd2_lookup")
    assert(!sl.contains("NestedLoop"), s"interval join degenerated:\n$sl")
    assert(!sl.contains("CartesianProduct"), sl)
    // monthly_revenue_delta: the month axis self-join must broadcast
    val mr = plan("monthly_revenue_delta")
    assert(mr.contains("BroadcastHashJoin"), s"month axis must broadcast:\n$mr")
    assert(!mr.contains("Window"), s"bridge must not window globally:\n$mr")
    // vocab_growth / mix_weights: scalars and the fixed axis broadcast;
    // no window anywhere (the cum-sums are triangular broadcast joins)
    for (q <- Seq("vocab_growth", "mix_weights", "temperature_mix")) {
      val p = plan(q)
      assert(p.contains("Broadcast"), s"$q scalar must broadcast:\n$p")
      assert(!p.contains("Window"), s"$q must not window:\n$p")
    }
  }

  test("round-4 completion wave keeps its claimed plan shapes") {
    // top_paths / inverted_index: the rn<=k caps must plan the native
    // bounded-heap operator (per-group state O(k), no per-group sort of
    // stopword-sized posting lists / user streams)
    for (q <- Seq("top_paths", "inverted_index")) {
      val p = plan(q)
      assert(p.contains("PartialGroupTopK"), s"$q lost the heap pre-prune:\n$p")
      assert(p.contains("GroupTopK"), s"$q missed the rewrite:\n$p")
    }
    // q16: the complaints exclusion is a broadcast anti-join, never a
    // NOT IN re-scan; part is a broadcast dim
    val q16 = plan("q16_supplier_counts")
    assert(q16.contains("BroadcastHashJoin LeftAnti"), s"exclusion must broadcast-anti:\n$q16")
    // q20: the per-part denominator is a window over the aggregated
    // pairs (partitioned on l_partkey — never a lineitem join-back or a
    // global window); dims broadcast
    val q20 = plan("q20_excess_shippers")
    assert(q20.contains("Window"), s"denominator must be a window:\n$q20")
    assert(!q20.contains("SortMergeJoin"), s"dims must broadcast:\n$q20")
    // gap_fill: axis ⋈ daily stays a broadcast join (both tiny)
    val gf = plan("gap_fill")
    assert(gf.contains("BroadcastHashJoin"), s"axis join must broadcast:\n$gf")
    assert(!gf.contains("SortMergeJoin"), gf)
  }

  test("round-5 training-pipeline wave keeps its claimed plan shapes") {
    // pack_sequences: the packing window is SHARD-partitioned — the
    // sweep below already rejects any single-partition funnel; here we
    // additionally pin that the only exchanges are the shard hash
    // shuffle and the output sort
    val ps = plan("pack_sequences")
    assert(countOf(ps, "+- Exchange") <= 2, s"pack_sequences grew a shuffle:\n$ps")
    // token_chunk: chunks are built inside the token array — a pure
    // generator, no aggregation, only the output sort exchanges
    val tc = plan("token_chunk")
    assert(!tc.contains("HashAggregate"), s"token_chunk must not aggregate:\n$tc")
    assert(countOf(tc, "+- Exchange") <= 1, s"token_chunk grew a shuffle:\n$tc")
    // quality_classifier: map-side scoring inside the array — single
    // scan, zero data shuffles beyond the output sort
    val qc = plan("quality_classifier")
    assert(countOf(qc, "+- Exchange") <= 1, s"classifier grew a shuffle:\n$qc")
    assert(!qc.contains("Generate"), s"scoring must not explode tokens:\n$qc")
    // anchor_text: the rank<=5 filter must ride the native GroupTopK
    // heap plan, not a per-domain window sort
    val at = plan("anchor_text")
    assert(at.contains("GroupTopK"), s"anchor_text missed the rewrite:\n$at")
    assert(!at.contains("Window"), s"anchor_text kept its window:\n$at")
    // zorder_layout: one agg pair on file_id after map-side key math —
    // the Morton key must not force extra exchanges
    val zl = plan("zorder_layout")
    assert(countOf(zl, "+- Exchange") <= 2, s"zorder grew a shuffle:\n$zl")
    assert(zl.contains("partial_count"), s"zorder must partial-agg:\n$zl")
    // expectations: all six rules must compile into ONE scan of
    // lineitem — adding a rule may never add a scan. Counted on the
    // TREE section only (everything before the first blank line):
    // FormattedMode repeats each node in the detail section, and
    // pinning the 2x total would break on a formatting change alone.
    val ex = plan("expectations")
    val exTree = ex.split("\n\n", 2).head
    assert(countOf(exTree, "Scan parquet") == 1,
      s"expectations must scan lineitem exactly once:\n$ex")
    assert(ex.contains("partial_count"), s"rules must partial-agg:\n$ex")
    // padding_batches: band-partitioned window + keyed agg + output
    // sort — three exchanges, none single-partition (sweep enforces)
    val pb = plan("padding_batches")
    assert(countOf(pb, "+- Exchange") <= 3, s"padding_batches grew a shuffle:\n$pb")
    // rrf_fusion: every rank<=k filter (both retriever tiers and the
    // fused ranking) rides the GroupTopK heap plan
    val rf = plan("rrf_fusion")
    assert(rf.contains("GroupTopK"), s"rrf_fusion missed the rewrite:\n$rf")
    // --- round-6 wave ---
    // knn_pq_trained: the codebook/LUT joins must broadcast (M·K and
    // queries·M·K rows) — a corpus-side shuffle for them would be the
    // wrong plan at any scale; the sweep below covers funnels/cartesian
    val pt = plan("knn_pq_trained")
    assert(pt.contains("BroadcastHashJoin"),
      s"knn_pq_trained lost its broadcast codebook joins:\n$pt")
    // substring_dedup (reshaped round 18): ONE gram pass exchanged once
    // by digest — the per-(g,doc) agg and the distinct-doc count window
    // ride that exchange; per-doc totals are in-row (word_count), so
    // the explode appears exactly once and nothing nested-loops
    val sd = plan("substring_dedup")
    // count TREE nodes ("- Generate"), not the FormattedMode detail
    // headers that repeat each node name (the CLAUDE.md string-match
    // gotcha)
    assert(countOf(sd, "- Generate") == 1,
      s"substring_dedup must shingle exactly once:\n$sd")
    assert(sd.contains("Window"),
      s"substring_dedup lost the colocated distinct-doc window:\n$sd")
    assert(!sd.contains("NestedLoop"), s"substring_dedup nested-loops:\n$sd")
    assert(!rf.contains("CartesianProduct"), rf)
    // html_extract: page build + extraction are one map-side pass over
    // the scan — at 100 TB the extractor pipelines inside the scan
    // stage; only the output sort may exchange
    val he = plan("html_extract")
    assert(countOf(he, "+- Exchange") <= 1, s"html_extract grew a shuffle:\n$he")
    assert(!he.contains("HashAggregate"), s"html_extract must not aggregate:\n$he")
    // round 14 (VERDICT r13 item 5): the extractor is a codegen'd
    // expression, not a ScalaUDF — whole-stage codegen must span the
    // scan→project pipeline. Codegen ids only appear on the EXECUTED
    // plan (AQE's lazy explain hides WholeStageCodegen wrappers), so
    // read the write's executed plan via the listener and check the
    // FormattedMode detail header of the node carrying the expression.
    val heExec = executedPlans("html_extract").mkString("\n")
    assert(!heExec.contains("UDF("),
      s"html_extract still runs a ScalaUDF:\n$heExec")
    var lastHeader = ""
    var heSeen = false
    var heCodegen = false
    heExec.linesIterator.foreach { l =>
      if (l.matches("""^\(\d+\) .*""")) lastHeader = l
      else if (l.contains("html_main_text") && l.startsWith("Output")) {
        heSeen = true
        if (lastHeader.contains("codegen id")) heCodegen = true
      }
    }
    assert(heSeen, s"html_main_text expression missing:\n$heExec")
    assert(heCodegen,
      s"extraction projection fell out of codegen:\n$heExec")
    // span_clip: detection stays the sorted-ngram-table plan (gram-keyed
    // SEMI join); removal (round 18) is the in-row clip kernel over a
    // per-doc dup-start array — the coverage explode / (doc,pos) anti
    // join / word-struct reassembly agg must NOT reappear, and nothing
    // nested-loops
    val sc = plan("span_clip")
    assert(sc.contains("LeftSemi"), s"span_clip lost the semi join:\n$sc")
    assert(!sc.contains("LeftAnti"),
      s"span_clip regrew the (doc,pos) anti join:\n$sc")
    assert(countOf(sc, "- Generate") <= 2,
      s"span_clip regrew a coverage/word explode:\n$sc")
    assert(sc.contains("span_clip_struct"),
      s"span_clip lost the in-row clip kernel:\n$sc")
    assert(!sc.contains("NestedLoop"), s"span_clip nested-loops:\n$sc")
    // heavy_hitters: the recount pass must filter through a BROADCAST
    // semi join on the sketch's candidate set — re-shuffling the full
    // stream to join candidates would forfeit the sketch's whole win
    val hh = plan("heavy_hitters")
    assert(hh.contains("BroadcastHashJoin") && hh.contains("LeftSemi"),
      s"heavy_hitters recount lost its broadcast semi join:\n$hh")
    // phrase_search: the phrase list joins BROADCAST against the
    // shingle stream, and the per-phrase top-5 rides the GroupTopK
    // heap, not a window sort
    val ph = plan("phrase_search")
    assert(ph.contains("BroadcastHashJoin"),
      s"phrase_search must broadcast the phrase list:\n$ph")
    assert(ph.contains("GroupTopK"), s"phrase_search missed the rewrite:\n$ph")
    assert(!ph.contains("Window"), s"phrase_search kept its window:\n$ph")
    // record_linkage: the block join must be an equi-join on the
    // blocking key — levenshtein may only run inside blocks, never as
    // a nested-loop pair predicate
    val rl = plan("record_linkage")
    assert(!rl.contains("NestedLoop") && !rl.contains("CartesianProduct"),
      s"record_linkage lost its blocking:\n$rl")
    assert(rl.contains("GroupTopK"), s"record_linkage missed the rewrite:\n$rl")
  }

  test("round-8 wave keeps its claimed plan shapes") {
    // image_classify: the X11 dispatch tier is pure map-side scoring —
    // single scan, no aggregate, only the output sort exchanges
    val ic = plan("image_classify")
    assert(countOf(ic, "+- Exchange") <= 1, s"image_classify grew a shuffle:\n$ic")
    assert(!ic.contains("HashAggregate"), s"image_classify must not aggregate:\n$ic")
    // ts-encoding normalization (Tables.withNanosTs) must stay a scan-
    // stage projection: sessionize keeps its single (user_id) exchange
    // feeding both windows and the session agg, plus the output sort
    val sz = plan("sessionize")
    assert(countOf(sz, "+- Exchange") <= 2, s"sessionize grew a shuffle:\n$sz")
    // gopher_rules (round 18): the five rule statistics are ONE
    // compiled per-row kernel (gopher_stats_of) — the whole gate is a
    // pure map, so the only exchange left is the output sort (the old
    // pin asserted the explode + GroupTopK bigram shape this replaced)
    val gr = plan("gopher_rules")
    assert(gr.contains("gopher_stats_of"),
      s"gopher_rules lost the compiled stats kernel:\n$gr")
    assert(countOf(gr, "+- Exchange") <= 1, s"gopher_rules grew a shuffle:\n$gr")
    assert(!gr.contains("HashAggregate"),
      s"gopher_rules must be aggregation-free (pure map):\n$gr")
    // lm_score: model and scoring joins must stay keyed equi-joins
    // (small-model × big-corpus shape) — never a pair join
    val lm = plan("lm_score")
    assert(!lm.contains("NestedLoop") && !lm.contains("CartesianProduct"),
      s"lm_score lost its keyed joins:\n$lm")
    // ts_motif: the top-3-per-cohort rides the GroupTopK heap; the
    // hourly pre-agg + lead window share the cohort partitioning
    // (3 exchanges incl. the output sort, no more)
    val tm = plan("ts_motif")
    assert(tm.contains("GroupTopK"), s"ts_motif missed the rewrite:\n$tm")
    assert(countOf(tm, "+- Exchange") <= 3, s"ts_motif grew a shuffle:\n$tm")
    // ts_anomaly: med/MAD are histogram-sized 1-row-per-type frames —
    // they must broadcast back to the hourly table, never shuffle it
    val ta = plan("ts_anomaly")
    assert(ta.contains("BroadcastHashJoin"), s"ts_anomaly med/mad not broadcast:\n$ta")
    assert(!ta.contains("CartesianProduct"), s"ts_anomaly went cartesian:\n$ta")
  }

  test("round-9 pins: the remaining r8-wave scale-bearing plan shapes") {
    // ppr_seed: the mass side is table-sized (one row per reachable
    // node) and must NEVER broadcast — every mass join (the LeftOuter
    // nodes ⋈ contrib re-derive, incl. the final round) stays a
    // shuffled keyed join; only edge-derived frames (edges, degrees)
    // may broadcast. A BroadcastHashJoin LeftOuter here would mean
    // Catalyst chose to ship the mass frame. Since round 10 the
    // operator materializes internally (Fixpoint.reliably), so the pin
    // reads the EXECUTED plans — the returned frame is just the result
    // checkpoint; the mass joins run inside the operator (and the
    // checkpointed nodes leaf carries unknown/huge stats, which is what
    // structurally keeps the mass side off the broadcast path). AQE is
    // disabled for this one run: at sf0.001 its runtime join conversion
    // correctly broadcasts the observed-tiny contrib frame, but the pin
    // is about the STATIC choice — the one made with no runtime
    // evidence, i.e. the one a 100 TB run starts from.
    val pr = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try executedPlans("ppr_seed").mkString("\n=== next executed plan ===\n")
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    assert(pr.contains("SortMergeJoin LeftOuter"),
      s"ppr_seed mass join must stay a shuffled keyed join:\n$pr")
    assert(!pr.contains("BroadcastHashJoin LeftOuter"),
      s"ppr_seed must not broadcast the mass side:\n$pr")
    assert(!pr.contains("NestedLoop") && !pr.contains("CartesianProduct"), pr)
    // ts_fill: the dense grid joins the hourly agg as a BROADCAST left
    // join (both sides bounded by hours × types, never data-sized) and
    // the trailing window shares the event_type keying — 3 exchanges
    // total (grid span agg, hourly agg, output sort)
    val tf = plan("ts_fill")
    assert(tf.contains("BroadcastHashJoin LeftOuter"),
      s"ts_fill grid join must broadcast the hourly side:\n$tf")
    assert(countOf(tf, "+- Exchange") <= 3, s"ts_fill grew a shuffle:\n$tf")
    // session_baskets: the pair generator is the self-join keyed by
    // (user_id, session_seq) — a hash/merge EQUI-join on the session
    // key, never a looped pair join; the only nested-loop is the 1-row
    // broadcast n_sessions scalar
    val sb = plan("session_baskets")
    assert(sb.linesIterator.exists(l => l.contains("keys") &&
      l.contains("user_id") && l.contains("session_seq")),
      s"session_baskets pair join must key on (user_id, session_seq):\n$sb")
    // tree section only: FormattedMode repeats each node in the detail
    assert(countOf(sb.split("\n\n", 2).head, "BroadcastNestedLoopJoin") <= 1 &&
      !sb.contains("CartesianProduct"),
      s"session_baskets grew a non-scalar loop join:\n$sb")
    // session_transitions: the lead window partitions by (user_id,
    // session_seq) — riding the sessionizer's user keying, never a
    // wider (or global) partition; the (from,to) matrix is a keyed agg
    val st = plan("session_transitions")
    assert(st.linesIterator.exists(l => l.contains("lead(") &&
      l.contains("windowspecdefinition(user_id") && l.contains("session_seq")),
      s"session_transitions lead must partition by (user, session):\n$st")
    assert(!st.contains("NestedLoop") && !st.contains("CartesianProduct"), st)
    // --- round-9 corpus-composition wave ---
    // token_head_share: the per-lang top-100 rides the native bounded
    // heap (Partial+final GroupTopK), never a full vocabulary window sort
    val th = plan("token_head_share")
    assert(th.contains("PartialGroupTopK") && th.contains("GroupTopK"),
      s"token_head_share missed the GroupTopK rewrite:\n$th")
    assert(!th.contains("Window"), s"token_head_share kept a window:\n$th")
    // ingest_novelty: sorted-ngram-table discipline — gram/doc keyed
    // equi-joins only, no window over the gram stream, no pair join
    val in9 = plan("ingest_novelty")
    assert(!in9.contains("NestedLoop") && !in9.contains("CartesianProduct"),
      s"ingest_novelty lost its keyed joins:\n$in9")
    // crosslang_overlap: the contamination join is an equi-join on
    // shingle (per-shingle match set bounded by the lang domain)
    val cl = plan("crosslang_overlap")
    assert(!cl.contains("NestedLoop") && !cl.contains("CartesianProduct"),
      s"crosslang_overlap lost its shingle equi-join:\n$cl")
    // --- round-9 mix-construction wave ---
    // budget_sample: the per-stratum pick rides the GroupTopK heap
    // (never a corpus window sort) and the allocation side broadcasts
    val ss = plan("budget_sample")
    assert(ss.contains("PartialGroupTopK") && ss.contains("GroupTopK"),
      s"budget_sample missed the GroupTopK rewrite:\n$ss")
    assert(!ss.contains("Window"), s"budget_sample kept a window:\n$ss")
    assert(ss.contains("BroadcastHashJoin"),
      s"budget_sample must broadcast the allocation:\n$ss")
    // winsorize_values: the P1/P99 bounds (1 row per type) broadcast
    // back to the event stream — never the other way around
    val wv = plan("winsorize_values")
    assert(wv.contains("BroadcastHashJoin"),
      s"winsorize_values bounds must broadcast:\n$wv")
    assert(!wv.contains("CartesianProduct"), wv)
    // --- round-9 graph-curation + boilerplate wave ---
    // knn_graph: the pair stage is the sign-bucket equi-join — a
    // nested-loop/cartesian here means the blocking was lost
    val kg = plan("knn_graph")
    assert(!kg.contains("CartesianProduct") &&
      !kg.contains("BroadcastNestedLoopJoin"),
      s"knn_graph pair join must stay bucket-blocked:\n$kg")
    val lpn = plan("label_prop")
    assert(!lpn.contains("CartesianProduct") &&
      !lpn.contains("BroadcastNestedLoopJoin"),
      s"label_prop vote joins must stay edge-keyed:\n$lpn")
    // kcore: each peel restricts edges by LeftSemi against survivors.
    // Round 17: the peel is an adaptive eager loop (per-round local
    // checkpoints), so the interesting plans run INSIDE the operator —
    // read the executed plans, not the returned checkpoint scan
    val kcps = executedPlans("kcore").mkString("\n=== next executed plan ===\n")
    assert(kcps.contains("LeftSemi"), s"kcore peel must semi-join:\n$kcps")
    assert(!kcps.contains("CartesianProduct"), kcps)
    // boilerplate: per-source doc counts (|sources| rows) broadcast;
    // the gram doc-frequency side never does
    val bng = plan("boilerplate_ngrams")
    assert(bng.contains("BroadcastHashJoin"),
      s"boilerplate_ngrams must broadcast the per-source doc counts:\n$bng")
    assert(!bng.contains("Window"), s"boilerplate_ngrams kept a window:\n$bng")
    val bst = plan("boilerplate_strip")
    assert(bst.contains("BroadcastHashJoin"),
      s"boilerplate_strip must broadcast the per-source doc counts:\n$bst")
    assert(!bst.contains("CartesianProduct"), bst)
    // --- round-9 eval/drift wave ---
    // mrr_eval: the per-term top-10 rides the GroupTopK heap (never a
    // corpus window sort); df/dl sides broadcast
    val me = plan("mrr_eval")
    assert(me.contains("PartialGroupTopK") && me.contains("GroupTopK"),
      s"mrr_eval missed the GroupTopK rewrite:\n$me")
    assert(!me.contains("Window"), s"mrr_eval kept a window:\n$me")
    assert(me.contains("BroadcastHashJoin"),
      s"mrr_eval must broadcast df/dl:\n$me")
    // ks_drift: CDF windows run per-lang over the bounded histogram
    // grid — never over raw rows, never single-partition
    val kd = plan("ks_drift")
    assert(kd.contains("Window"), s"ks_drift lost its per-lang CDF window:\n$kd")
    assert(!kd.contains("CartesianProduct"), kd)
    assert(kd.contains("BroadcastHashJoin"),
      s"ks_drift lang totals must broadcast:\n$kd")
    // containment_dedup: the pair stage stays a shared-shingle
    // equi-join (ngram_jaccard's skeleton)
    val cd = plan("containment_dedup")
    assert(!cd.contains("CartesianProduct") &&
      !cd.contains("BroadcastNestedLoopJoin"),
      s"containment_dedup lost its shingle equi-join:\n$cd")
    // chi2_independence: domain-sized margins broadcast onto the
    // cell frame; no window anywhere
    val ch = plan("chi2_independence")
    assert(ch.contains("BroadcastHashJoin"),
      s"chi2_independence margins must broadcast:\n$ch")
    assert(!ch.contains("Window"), s"chi2_independence kept a window:\n$ch")
    // filter_kappa: one corpus pass — a doc-keyed gate join, then a
    // single global agg; no window, no cartesian
    val fk = plan("filter_kappa")
    assert(!fk.contains("CartesianProduct"), fk)
    assert(!fk.contains("Window"), s"filter_kappa kept a window:\n$fk")
    // quality_sweep: the threshold grid (10 rows) broadcasts onto the
    // scan — the non-equi join must be the broadcast loop, never a
    // shuffled cartesian
    val qs = plan("quality_sweep")
    assert(qs.contains("BroadcastNestedLoopJoin"),
      s"quality_sweep grid must broadcast:\n$qs")
    assert(!qs.contains("CartesianProduct"), qs)
    // cusum_changepoint: windows run per-type over the HOURLY pre-agg
    // (the reduction comes first — an HashAggregate below the Window)
    val cu = plan("cusum_changepoint")
    assert(cu.contains("Window"), cu)
    assert(cu.indexOf("HashAggregate") > cu.indexOf("Window"),
      s"cusum_changepoint must pre-aggregate to hours below its windows:\n$cu")
    // embedding_audit: one scan, one label-keyed agg — joins or
    // windows here mean the single-pass design broke
    val ea = plan("embedding_audit")
    assert(!ea.contains("Join"), s"embedding_audit grew a join:\n$ea")
    assert(!ea.contains("Window"), s"embedding_audit grew a window:\n$ea")
    // spearman_corr: per-lang rank windows + one agg, no joins
    val sp = plan("spearman_corr")
    assert(sp.contains("Window"), sp)
    assert(!sp.contains("Join"), s"spearman_corr grew a join:\n$sp")
    // matryoshka_recall: both retrieval passes broadcast the bounded
    // query block (the knnBrute non-equi BNLJ shape) and both top-5s
    // ride the GroupTopK heap; the corpus side never becomes a build
    val mk = plan("matryoshka_recall")
    assert(countOf(mk, "BroadcastNestedLoopJoin") >= 2,
      s"matryoshka_recall must broadcast both query blocks:\n$mk")
    assert(countOf(mk, "PartialGroupTopK") >= 2,
      s"matryoshka_recall lost the GroupTopK rewrite:\n$mk")
    assert(!mk.contains("CartesianProduct"), mk)
    // dup_attribution: survivor rank is a component-keyed window on
    // the materialized closure; source rollup joins stay hash-keyed
    val da = plan("dup_attribution")
    assert(da.contains("Window"), da)
    assert(!da.contains("CartesianProduct"), da)
    // session_paths: the global top-10 is a bounded TakeOrdered, not a
    // full sort + limit
    val spp = plan("session_paths")
    assert(spp.contains("TakeOrderedAndProject"),
      s"session_paths lost its bounded top-k:\n$spp")
  }

  test("pagerank_iter / ppr_seed aggregate out-degree once, outside the " +
      "loop, and plan the unrolled rounds with 7 exchanges") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // every node, through AQE wrappers and into the cached plan that the
    // reliable result checkpoint scans
    def nodesOf(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodesOf(a.executedPlan)
      case s: QueryStageExec => nodesOf(s.plan)
      case m: InMemoryTableScanExec => m +: nodesOf(m.relation.cachedPlan)
      case o => o +: o.children.flatMap(nodesOf)
    }
    def aggsOf(p: SparkPlan, column: String): Int = nodesOf(p).count {
      case a: BaseAggregateExec => a.output.exists(_.name == column)
      case _ => false
    }
    Seq("pagerank_iter", "ppr_seed").foreach { q =>
      val plans = executedQes(SparkEntry.queries(q)(spark, dir)).map(_.executedPlan)
      def all = plans.mkString("\n=== next executed plan ===\n")
      // the 3 unrolled rounds run as one job (the result checkpoint)
      val rounds = plans.filter(aggsOf(_, "inbound") > 0)
      assert(rounds.size == 1 && aggsOf(rounds.head, "inbound") == 3,
        s"$q: expected one plan holding the 3 rounds:\n$all")
      assert(aggsOf(rounds.head, "outdeg") == 0,
        s"$q aggregates out-degree inside the loop:\n${rounds.head}")
      assert(plans.map(aggsOf(_, "outdeg")).sum == 1,
        s"$q must aggregate out-degree exactly once:\n$all")
      // the rounds' plan as the checkpoint job starts it, before AQE
      // re-plans or reuses a stage: 16 exchanges before round 19
      val initial = graft.etl.Fixpoint.planOnly {
        SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      }
      val exchanges = nodesOf(initial).count(_.isInstanceOf[ShuffleExchangeExec])
      assert(exchanges == 7, s"$q rounds plan $exchanges exchanges, not 7:\n$initial")
    }
  }

  test("crawl_bfs reads its level state from local checkpoints and " +
      "writes one reliable checkpoint, for its result") {
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.hadoop.fs.Path
    def nodesOf(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodesOf(a.executedPlan)
      case s: QueryStageExec => nodesOf(s.plan)
      case m: InMemoryTableScanExec => m +: nodesOf(m.relation.cachedPlan)
      case o => o +: o.children.flatMap(nodesOf)
    }
    def rddDirs(): Set[String] =
      spark.sparkContext.getCheckpointDir.toSeq.flatMap { d =>
        val p = new Path(d)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) Nil
        else fs.listStatus(p).toSeq.map(_.getPath.getName).filter(_.startsWith("rdd-"))
      }.toSet
    val before = rddDirs()
    val plans = executedQes(graft.etl.Crawl.crawlBfs(spark, dir)).map(_.executedPlan)
    val added = rddDirs() -- before
    def all = plans.mkString("\n=== next executed plan ===\n")
    assert(added.size == 1, s"crawl_bfs wrote ${added.size} reliable " +
      s"checkpoints (${added.mkString(", ")}), expected 1")
    val scanned = plans.flatMap(nodesOf).collect {
      case s: RDDScanExec if s.rdd.isCheckpointed => s.rdd
    }.distinct
    val (local, reliable) = scanned.partition(_.getCheckpointFile.isEmpty)
    assert(local.size == graft.etl.Crawl.MaxDepth,
      s"expected one local-checkpoint scan per level, got ${local.size}:\n$all")
    // the only reliable checkpoint read is the result's, by the caller
    assert(reliable.flatMap(_.getCheckpointFile).map(new Path(_).getName).toSet == added,
      s"level state read from reliable checkpoints:\n$all")
  }

  test("round-9 close-out wave keeps its claimed plan shapes") {
    // survival_hazard: the bounded day grid is localCheckpoint'ed, so
    // the triangular joins read the materialized grid (Scan
    // ExistingRDD) — a FileScan inside the triangles would mean the
    // events subtree is being re-derived per branch (~12 scans)
    // (executedPlans since r10: the grid is a Fixpoint.reliably stage,
    // invisible to the planOnly lazy twin; the FINAL executed plan must
    // read the materialized grid, earlier plans do the FileScan once)
    val sh = executedPlans("survival_hazard").last
    assert(sh.contains("Scan ExistingRDD"),
      s"survival_hazard lost its checkpointed day grid:\n$sh")
    assert(!sh.contains("FileScan"),
      s"survival_hazard re-derives events per triangle branch:\n$sh")
    assert(!sh.contains("CartesianProduct"), sh)
    // autocorr_lag / burst_detect: the hourly pre-agg is the reduction
    // — every window (grid stats, leads, run ids) partitions by
    // event_type ABOVE an aggregate, never over raw events; the dense
    // grid joins broadcast (bounded by hours x types)
    for (q <- Seq("autocorr_lag", "burst_detect")) {
      val p = plan(q)
      assert(p.contains("windowspecdefinition(event_type"),
        s"$q window lost its event_type partitioning:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q grid join must broadcast:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    }
    // jaccard_linkpred: the neighbor cap rides the GroupTopK heap, the
    // wedge join stays a nbr-keyed equi-join, and the global top-20 is
    // a bounded TakeOrdered — never a full sort or a pair loop
    val jl = plan("jaccard_linkpred")
    assert(jl.contains("GroupTopK"),
      s"jaccard_linkpred neighbor cap missed the GroupTopK rewrite:\n$jl")
    assert(jl.contains("TakeOrderedAndProject"),
      s"jaccard_linkpred lost its bounded top-k:\n$jl")
    assert(!jl.contains("CartesianProduct") && !jl.contains("NestedLoop"),
      s"jaccard_linkpred lost its wedge equi-join:\n$jl")
    // ndcg_eval: both DCG top-5s (system + ideal) ride GroupTopK
    // heaps; df/dl sides broadcast; no window sort anywhere
    val ne = plan("ndcg_eval")
    assert(countOf(ne, "PartialGroupTopK") >= 2,
      s"ndcg_eval lost a GroupTopK rewrite:\n$ne")
    assert(!ne.contains("Window"), s"ndcg_eval kept a window:\n$ne")
    assert(ne.contains("BroadcastHashJoin"),
      s"ndcg_eval must broadcast df/dl:\n$ne")
    // query_expansion: the PRF doc set (|terms| x 3 rows) broadcasts
    // onto the token stream; both top-k stages ride GroupTopK
    val qe = plan("query_expansion")
    assert(countOf(qe, "PartialGroupTopK") >= 2,
      s"query_expansion lost a GroupTopK rewrite:\n$qe")
    assert(qe.contains("BroadcastHashJoin"),
      s"query_expansion PRF set must broadcast:\n$qe")
    assert(!qe.contains("CartesianProduct"), qe)
    // minmax_prune: the key-space extremes are 1-row broadcast
    // scalars; no data-sized join of any kind
    val mp = plan("minmax_prune")
    assert(mp.contains("BroadcastNestedLoopJoin"),
      s"minmax_prune extremes must broadcast:\n$mp")
    assert(!mp.contains("SortMergeJoin") && !mp.contains("CartesianProduct"),
      s"minmax_prune grew a data-sized join:\n$mp")
    // forget_cascade: every cascade level is a LeftSemi keyed join
    // (orders by custkey, lineitem by orderkey)
    val fc = plan("forget_cascade")
    assert(countOf(fc, "LeftSemi") >= 3,
      s"forget_cascade lost a semi-join cascade level:\n$fc")
    assert(!fc.contains("CartesianProduct"), fc)
    // readability: pure map-side regex counting — no joins, no
    // windows, no aggregates; only the output sort exchanges
    val rd = plan("readability")
    assert(!rd.contains("Join") && !rd.contains("Window") &&
      !rd.contains("HashAggregate"),
      s"readability must stay map-side:\n$rd")
    assert(countOf(rd, "+- Exchange") <= 1, s"readability grew a shuffle:\n$rd")
    // blocklist_filter: the wordlist and the per-source totals both
    // broadcast; scoring joins stay doc/source-keyed equi-joins
    val bf = plan("blocklist_filter")
    assert(countOf(bf, "BroadcastHashJoin") >= 2,
      s"blocklist_filter wordlist/totals must broadcast:\n$bf")
    assert(!bf.contains("CartesianProduct") && !bf.contains("NestedLoop"), bf)
    // quantile_norm: the per-source CDF window runs over the bounded
    // histogram; the global histogram broadcasts as the triangular
    // percentile join — never a global window or a shuffled non-equi
    val qn = plan("quantile_norm")
    assert(qn.contains("windowspecdefinition(source"),
      s"quantile_norm CDF window lost its source partitioning:\n$qn")
    assert(qn.contains("BroadcastNestedLoopJoin"),
      s"quantile_norm global histogram must broadcast:\n$qn")
    assert(!qn.contains("CartesianProduct"), qn)
    // recency_decay: one scan, a 1-row corpus-end broadcast, map-side
    // weights, one type-keyed agg — nothing else
    val rc = plan("recency_decay")
    assert(!rc.contains("SortMergeJoin") && !rc.contains("CartesianProduct"),
      s"recency_decay grew a data-sized join:\n$rc")
    assert(!rc.contains("Window"), s"recency_decay grew a window:\n$rc")
    // lateness_audit: the cross-chunk prefix max runs over the bounded
    // chunk grid (event_type partitioning); the within-chunk window
    // partitions by (event_type, chunk); the grid joins back as a
    // keyed equi-join
    val la = plan("lateness_audit")
    assert(la.contains("windowspecdefinition(event_type"),
      s"lateness_audit windows lost their keyed partitioning:\n$la")
    assert(!la.contains("CartesianProduct") && !la.contains("NestedLoop"), la)
    // vocab_coverage: the frequency ranking is a per-lang window over
    // the bounded vocabulary; the 4-row cut grid is the broadcast
    // non-equi loop; per-lang totals broadcast
    val vc = plan("vocab_coverage")
    assert(vc.contains("windowspecdefinition(lang"),
      s"vocab_coverage ranking lost its lang partitioning:\n$vc")
    assert(vc.contains("BroadcastNestedLoopJoin") &&
      vc.contains("BroadcastHashJoin"),
      s"vocab_coverage grid/totals must broadcast:\n$vc")
    assert(!vc.contains("CartesianProduct"), vc)
    // lm_kneser_ney: scoring stays keyed left joins on the model
    // tables (broadcast at this SF) + the 1-row types scalar; never a
    // pair join
    val kn = plan("lm_kneser_ney")
    assert(countOf(kn, "BroadcastHashJoin") >= 3,
      s"lm_kneser_ney model joins must stay keyed:\n$kn")
    assert(!kn.contains("CartesianProduct"), kn)
    // pca_power: each round's 64-row s frame localCheckpoints (the
    // fixpoint rule — without it the plan doubles per round), so the
    // final plan reads the materialized frame, never a FileScan
    val pp = executedPlans("pca_power").last // final stage: reads materializations only
    assert(pp.contains("Scan ExistingRDD"),
      s"pca_power lost its per-round checkpoint:\n$pp")
    assert(!pp.contains("FileScan"),
      s"pca_power re-derives the corpus per round branch:\n$pp")
    assert(!pp.contains("CartesianProduct"), pp)
    // interp_join: anchors pre-aggregate to hours BELOW the next-
    // anchor lead window (event_type partitioning over the bounded
    // grid); events attach by a keyed equi-join
    val ij = plan("interp_join")
    assert(ij.contains("windowspecdefinition(event_type"),
      s"interp_join lead lost its type partitioning:\n$ij")
    assert(ij.indexOf("HashAggregate") > ij.indexOf("Window"),
      s"interp_join must pre-aggregate anchors below the window:\n$ij")
    assert(!ij.contains("CartesianProduct") && !ij.contains("NestedLoop"), ij)
    // quantile_drift: rank selection runs over the (type, week, value)
    // HISTOGRAM (aggregate below the windows), never raw events
    val qd = plan("quantile_drift")
    assert(qd.contains("windowspecdefinition(event_type"),
      s"quantile_drift windows lost their keyed partitioning:\n$qd")
    assert(qd.indexOf("HashAggregate") > qd.indexOf("Window"),
      s"quantile_drift must build the histogram below its windows:\n$qd")
    assert(!qd.contains("CartesianProduct"), qd)
    // stickiness: the windowed COUNT DISTINCT is decomposed into a
    // forward-contribution explode + week-keyed distinct aggs — no
    // window anywhere; the span scalar broadcasts
    val sk = plan("stickiness")
    assert(!sk.contains("Window"), s"stickiness grew a window:\n$sk")
    assert(!sk.contains("CartesianProduct"), sk)
    // hits_scores: each half-round's node-sized score frame is eagerly
    // checkpointed (plan would double per half-round otherwise) — the
    // later half-rounds' EXECUTED plans must read the prior round's
    // materialization (Scan ExistingRDD), never re-derive it
    val hs = executedPlans("hits_scores").mkString("\n=== next executed plan ===\n")
    assert(hs.contains("Scan ExistingRDD"),
      s"hits_scores lost its per-round checkpoints:\n$hs")
    assert(!hs.contains("CartesianProduct"), hs)
    // conversion_lag: the bounded bucket frame localCheckpoints (three
    // branches read it), so the final plan reads the materialized
    // cells — the triangle and totals are broadcast loops over it
    val cg = executedPlans("conversion_lag").last
    assert(cg.contains("Scan ExistingRDD") && !cg.contains("FileScan"),
      s"conversion_lag re-derives the reduction per branch:\n$cg")
    assert(cg.contains("BroadcastNestedLoopJoin"),
      s"conversion_lag bucket triangle must broadcast:\n$cg")
    assert(!cg.contains("Window"), s"conversion_lag grew a window:\n$cg")
    assert(!cg.contains("CartesianProduct"), cg)
    // rfm_segments: one customer-keyed reduction, map-side banding,
    // one segment agg — no windows, no data-sized joins
    val rf = plan("rfm_segments")
    assert(!rf.contains("Window") && !rf.contains("SortMergeJoin") &&
      !rf.contains("CartesianProduct"),
      s"rfm_segments must stay reduction + banding:\n$rf")
    // analytic_ranks: all three rank functions share ONE window pass
    // (same partitioning + ordering → a single Window node, one sort)
    val ar = plan("analytic_ranks")
    assert(countOf(ar, "+- Window") == 1,
      s"analytic_ranks must fuse into one window pass:\n$ar")
    assert(!ar.contains("Join"), s"analytic_ranks grew a join:\n$ar")
    // assortativity: degree attach is keyed equi-joins; one global
    // moment agg — never a pair loop
    val as9 = plan("assortativity")
    assert(!as9.contains("CartesianProduct") && !as9.contains("NestedLoop"),
      s"assortativity lost its keyed degree joins:\n$as9")
    // cluster_sizes: reads the checkpointed closure/cells — no
    // FileScan re-derivation per branch
    val cz = executedPlans("cluster_sizes").last
    assert(cz.contains("Scan ExistingRDD") && !cz.contains("FileScan"),
      s"cluster_sizes re-derives the closure per branch:\n$cz")
    assert(!cz.contains("CartesianProduct"), cz)
    // calibration_bins: two map-side scorers joined doc-keyed, one
    // bin agg — no window, never a pair loop
    val cb = plan("calibration_bins")
    assert(!cb.contains("Window") && !cb.contains("CartesianProduct") &&
      !cb.contains("NestedLoop"),
      s"calibration_bins must stay keyed score-join + bin agg:\n$cb")
    // peak_concurrency: the sweep runs over the (type, minute) delta
    // GRID — aggregate below the running-sum window, type partitioning
    val pk = plan("peak_concurrency")
    assert(pk.contains("windowspecdefinition(event_type"),
      s"peak_concurrency sweep lost its type partitioning:\n$pk")
    assert(pk.indexOf("HashAggregate") > pk.indexOf("Window"),
      s"peak_concurrency must pre-aggregate deltas below the sweep:\n$pk")
    assert(!pk.contains("CartesianProduct"), pk)
    // slo_burn: the hourly grid localCheckpoints (band join reads both
    // sides), the trailing-6h band is a broadcast non-equi loop
    val sb9 = executedPlans("slo_burn").last
    assert(sb9.contains("Scan ExistingRDD") && !sb9.contains("FileScan"),
      s"slo_burn re-derives the hourly grid per band side:\n$sb9")
    assert(sb9.contains("BroadcastNestedLoopJoin"),
      s"slo_burn band join must broadcast:\n$sb9")
    assert(!sb9.contains("CartesianProduct"), sb9)
    // corpus_shuffle: the global rank is two-phase — a SHARD-keyed
    // window plus the 256-row broadcast offset triangle; never an
    // unpartitioned rank
    val cshuf = plan("corpus_shuffle")
    assert(cshuf.contains("windowspecdefinition(shard"),
      s"corpus_shuffle rank lost its shard partitioning:\n$cshuf")
    assert(cshuf.contains("BroadcastNestedLoopJoin"),
      s"corpus_shuffle offset triangle must broadcast:\n$cshuf")
    assert(!cshuf.contains("CartesianProduct"), cshuf)
    // dim_correlation: the pair frame is a vec-keyed equi self-join
    // (constant d^2/2 expansion per vector); top-20 is a TakeOrdered
    val dc = plan("dim_correlation")
    assert(dc.contains("TakeOrderedAndProject"),
      s"dim_correlation lost its bounded top-k:\n$dc")
    assert(!dc.contains("CartesianProduct") && !dc.contains("NestedLoop"),
      s"dim_correlation pair join must stay vec-keyed:\n$dc")
    // best_snippet: both rank-1 filters ride GroupTopK heaps; the
    // occurrence band join stays a keyed equi-join
    val bs = plan("best_snippet")
    assert(countOf(bs, "GroupTopK") >= 2,
      s"best_snippet lost a GroupTopK rewrite:\n$bs")
    assert(!bs.contains("CartesianProduct") && !bs.contains("NestedLoop"),
      s"best_snippet lost its keyed occurrence join:\n$bs")
    // fk_integrity: one LeftAnti per FK edge, nothing data-sized else
    val fi = plan("fk_integrity")
    assert(countOf(fi, "LeftAnti") >= 3,
      s"fk_integrity lost an anti-join edge:\n$fi")
    assert(!fi.contains("CartesianProduct"), fi)
    // watermark_sweep: lateness_audit's keyed two-phase windows plus a
    // broadcast 5-row delay grid
    val ws = plan("watermark_sweep")
    assert(ws.contains("windowspecdefinition(event_type"),
      s"watermark_sweep windows lost their keyed partitioning:\n$ws")
    assert(ws.contains("BroadcastNestedLoopJoin"),
      s"watermark_sweep delay grid must broadcast:\n$ws")
    assert(!ws.contains("CartesianProduct"), ws)
    // bfs_layers: per-level frontiers are materialized (checkpointed
    // per-level summary read by the cumulative triangle) — the final
    // returned frame and the per-level executed plans must read
    // materializations (Scan ExistingRDD), never re-derive levels
    val bl = executedPlans("bfs_layers").mkString("\n=== next executed plan ===\n")
    assert(bl.contains("Scan ExistingRDD"),
      s"bfs_layers lost its materialized level summary:\n$bl")
    assert(!bl.contains("CartesianProduct"), bl)
  }

  test("round-10 pin (in-row since round 11): bleu_eval/rouge_eval are " +
       "one pair join + the compiled word-gram clip — no gram explode") {
    // a paired eval is 1:1 — the clips run inside the pair row
    // (GramClip.clippedWords) and the totals are projections of the
    // staged word counts; a Generate/Expand or gram-keyed exchange
    // here means the corpus-sized gram shuffle came back
    for (q <- Seq("bleu_eval", "rouge_eval")) {
      val p = plan(q)
      assert(p.contains("clipped_word_gram_matches"),
        s"$q lost the compiled per-pair clip:\n$p")
      assert(!p.contains("Generate") && !p.contains("Expand"),
        s"$q grew a gram explode:\n$p")
      assert(!p.contains("Window"), s"$q grew a window:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"$q lost its keyed pair join:\n$p")
    }
  }

  test("round-11 pin: chrf_eval is one doc_id-keyed pair join + a map " +
       "pass through the compiled clip — no gram explode, no shuffle " +
       "beyond the pair join") {
    // the paired clip runs inside the pair row (GramClip expression);
    // an Expand/Generate or a gram-keyed exchange here means the
    // corpus-sized gram shuffle came back (6.7 s -> 1.5 s at sf0.1)
    val ce = plan("chrf_eval")
    assert(ce.contains("clipped_gram_matches"),
      s"chrf_eval lost the compiled per-pair clip:\n$ce")
    assert(!ce.contains("Generate") && !ce.contains("Expand"),
      s"chrf_eval grew a gram explode:\n$ce")
    assert(!ce.contains("Window"), s"chrf_eval grew a window:\n$ce")
    assert(!ce.contains("CartesianProduct") && !ce.contains("NestedLoop"),
      s"chrf_eval lost its keyed pair join:\n$ce")
  }

  test("round-11 pin: wer_eval scans documents once; vocab rank " +
       "partitions by pair, never table-wide") {
    // eager operator (locally-staged slice projection + reliable
    // final): the staged word-slice frame is built from ONE parquet
    // scan; pair assembly, both token explodes, vocab, and encode all
    // read the materialized stage
    val all = executedPlans("wer_eval")
    val wp = all.mkString("\n=== next executed plan ===\n")
    val scans = wp.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1,
      s"wer_eval must read documents exactly once:\n$wp")
    assert(!wp.contains("CartesianProduct"), wp)
    assert(!wp.linesIterator.exists(l =>
        l.contains("Window") && l.contains("SinglePartition")),
      s"wer_eval vocab window must partition by pair id:\n$wp")
  }

  test("round-11 pin: int8_quant is one map pass — no join, no " +
       "aggregate exchange, one scan, in-array arithmetic only") {
    val p = plan("int8_quant")
    // count DETAIL-section entries — FormattedMode prints each node in
    // both the tree and the detail list
    assert(p.linesIterator.count(
        _.matches("""\(\d+\) Scan parquet\s*""")) == 1,
      s"int8_quant must read embeddings once:\n$p")
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("HashAggregate"),
      s"int8_quant grew a shuffle-bearing operator:\n$p")
  }

  test("round-11 pin: rbo_overlap agreement join stays keyed on " +
       "(qid, cand); no cartesian beyond the tiers' own shapes") {
    // the knn tier's broadcast inequality join (bounded query block)
    // is its own sanctioned shape — only an unkeyed CartesianProduct
    // would mean the agreement join degraded
    val p = plan("rbo_overlap")
    assert(!p.contains("CartesianProduct"),
      s"rbo_overlap grew a cartesian:\n$p")
    assert(p.linesIterator.exists(l => l.contains("keys") &&
      l.contains("qid") && l.contains("cand")),
      s"rbo_overlap must join the tiers on (qid, cand):\n$p")
  }

  test("round-11 pin: cms_frequency scans documents once; the 1024-cell " +
       "frame broadcasts back onto the vocab") {
    val all = executedPlans("cms_frequency")
    val cp = all.mkString("\n=== next executed plan ===\n")
    val scans = cp.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1,
      s"cms_frequency must read documents exactly once:\n$cp")
    assert(cp.contains("BroadcastHashJoin"),
      s"cms_frequency cell join must broadcast:\n$cp")
    assert(!cp.contains("CartesianProduct"), cp)
  }

  test("round-11 pin: cms_native sketches through a PARTIAL native " +
       "aggregate — map-side sketch merge, 1024-long shuffle payload") {
    val p = plan("cms_native")
    assert(p.contains("partial_cms_sketch"),
      s"cms_native lost the partial sketch aggregation:\n$p")
    assert(p.contains("cms_sketch"),
      s"cms_native must aggregate through the native sketch:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("round-12 pin: cms_join_size sketches BOTH sides through partial " +
       "native aggregates; 1-row frames combine via broadcast, no " +
       "cartesian") {
    val p = plan("cms_join_size")
    assert(p.linesIterator.count(_.contains("partial_cms_sketch")) >= 2,
      s"cms_join_size must build both sketches through partial native " +
        s"aggregation (constant shuffle payload per side):\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("round-11 pin: modularity builds the kNN graph ONCE — staged " +
       "edges feed propagation and scoring; community-keyed aggs only") {
    // eager operator: the edge frame and labels are local checkpoints;
    // the final plan joins domain-sized aggregates + a 1-row broadcast
    val p = plan("modularity")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"modularity lost the 1-row m broadcast:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.contains("Window") && l.contains("SinglePartition")),
      s"modularity grew an unpartitioned window:\n$p")
  }

  test("round-10 pin: t_closeness scans customer once; all downstream " +
       "work lives on the class grid") {
    // eager operator since round 11 (locally-staged QI×band agg +
    // reliable final) — inspect EXECUTED plans, where the staging and
    // checkpoint actions are visible. Across every plan the query runs,
    // the customer parquet is read exactly once (the staging agg); the
    // grid/cum/EMD stages read the materialized class frame only.
    val all = executedPlans("t_closeness")
    val tc = all.mkString("\n=== next executed plan ===\n")
    // count DETAIL-section entries ("(n) Scan parquet"), one per unique
    // physical node — the AQE tree sections print the same node again
    // under both == Final Plan == and == Initial Plan ==
    val scans = tc.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1,
      s"t_closeness must read customer exactly once:\n$tc")
    assert(!tc.contains("CartesianProduct"), tc)
    // the prefix window partitions by the QI class, never the table
    assert(tc.linesIterator.exists(l => l.contains("Window")),
      s"t_closeness lost its prefix-sum window:\n$tc")
    assert(!tc.linesIterator.exists(l =>
        l.contains("windowspecdefinition()") ||
        (l.contains("Window") && l.contains("SinglePartition"))),
      s"t_closeness window must partition by the QI class:\n$tc")
  }

  test("sweep: no query plans a single-partition funnel or cartesian product") {
    // the serial batch_pack is the ONE documented by-name exception
    // (its funnel IS its semantics — the serial spec for the sharded
    // twin, table-sized by design); every other statically-flagged
    // funnel must prove itself bounded at runtime: the query executes
    // once and every SinglePartition shuffle it runs must move ≤
    // FunnelRowBound rows (benford_deviation's grand-total window over
    // the 9-row digit aggregate clears this mechanically — no prose
    // whitelist entry needed). Table-sized data stays on hash/range
    // partitioning only; SinglePartition exchanges are tolerated
    // statically solely as global-agg combines (see serialFunnels)
    val whitelist = Set("batch_pack")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(whitelist)
      .flatMap { q =>
        val funnels = serialFunnels(q)
        val cart = plan(q).contains("CartesianProduct")
        val oversize =
          if (funnels.isEmpty) Nil
          else funnelRecordCounts(q).filter(_._2 > FunnelRowBound)
        val bad = (if (funnels.nonEmpty && oversize.nonEmpty)
            funnels.map(c => s"funnel into [$c]") ++
              oversize.map { case (n, r) => s"$n moved $r rows" }
          else Nil) ++
          (if (cart) Seq("CartesianProduct") else Nil)
        if (bad.isEmpty) None else Some(s"$q: ${bad.mkString("; ")}")
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the runtime funnel guard FIRES on a real table-sized funnel " +
       "and clears a bounded one (fail-first proof of the r13 sweep " +
       "mechanization)") {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    import org.apache.spark.sql.expressions.Window
    // the classic offender: an UNPARTITIONED window funnels the whole
    // table through one task (SinglePartition exchange, 10k rows)
    def globalTotal(n: Long) =
      spark.range(0, n).toDF("v").repartition(4)
        .withColumn("t", fsum(col("v")).over(Window.partitionBy()))
    val offender = funnelRecordCountsOf(globalTotal(10000))
    assert(offender.nonEmpty && offender.exists(_._2 > FunnelRowBound),
      s"guard failed to count a 10k-row funnel: $offender")
    // the SAME shape over a 9-row grid (benford's) clears mechanically
    val bounded = funnelRecordCountsOf(globalTotal(9))
    assert(bounded.nonEmpty && bounded.forall(_._2 <= FunnelRowBound),
      s"bounded 9-row funnel should clear: $bounded")
  }

  test("AQE splits a skewed shuffle join at runtime (skew=true)") {
    // the other half of the skew story: skew_salted_agg is the static
    // fix (salting); this pins the runtime fix — AQE detects the hot
    // key's oversized partition and splits it, no code change needed
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, lit, when}
    val confs = Seq(
      // enough partitions that the median is a non-hot partition
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 99.5% of fact rows share key 0 → one partition dwarfs the rest
      val fact = spark.range(0, 200000)
        .select(when($"id" % 200 =!= 0, 0L).otherwise($"id").as("k"),
          concat(lit("payload-"), $"id").as("v"))
      val dim = spark.range(0, 1000).select($"id".as("k"), ($"id" * 2).as("w"))
      val j = fact.join(dim, "k")
      // collect() executes j's OWN QueryExecution — count() would build
      // a separate plan and leave this one un-finalized (isFinalPlan=false)
      assert(j.collect().length == 199005)
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$finalPlan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partition pruning: a lang filter never scans other partitions") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_part_").toString
    Seq((1L, "en", "a"), (2L, "de", "b"), (3L, "en", "c"), (4L, "fr", "d"))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").partitionBy("lang").parquet(d)
    val q = spark.read.parquet(d).filter($"lang" === "en")
    val p = q.queryExecution.explainString(FormattedMode)
    // the predicate must land in PartitionFilters (metadata pruning),
    // not as a post-scan row filter over all partitions
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("lang"), s"lang filter not pruned:\n$p")
    assert(q.count() == 2)
  }

  test("round-12 pin: eval_significance clips IN-ROW — the only " +
       "Generate is the 16x replicate explode, no gram shuffle") {
    val p = plan("eval_significance")
    // one Generate node: the bounded replicate explode. A second one
    // would mean the clip regressed to the gram-explode join shape.
    // (count FormattedMode node HEADERS — the tree section repeats
    // each node name once more)
    val generates = p.linesIterator.count(
      _.matches("""\(\d+\) Generate\s*"""))
    assert(generates == 1,
      s"eval_significance must have exactly the replicate Generate:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the 16-group final agg must partial-aggregate map-side
    assert(p.contains("HashAggregate") && p.contains("partial_sum"),
      s"replicate agg lost its partial phase:\n$p")
  }

  test("round-12 pin: image_describe is map-only — one documents scan, " +
       "no exchange but the output sort") {
    val p = plan("image_describe")
    val scans = p.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1, s"image_describe must scan documents once:\n$p")
    assert(countOf(p, "Exchange") <= 2, // rangepartitioning for the sort
      s"image_describe grew a shuffle beyond the output sort:\n$p")
    assert(!p.contains("Join"), s"image_describe must not join:\n$p")
  }

  test("round-12 pin: hll_native sketches through a PARTIAL native " +
       "aggregate — map-side register merge, 4 KB shuffle payload") {
    val p = plan("hll_native")
    assert(p.contains("partial_hll_sketch"),
      s"hll_native lost the partial sketch aggregation:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("round-12 pin: zipf_bands scans documents once; band agg and " +
       "share join run on the staged domain-sized frame") {
    val all = executedPlans("zipf_bands")
    val cp = all.mkString("\n=== next executed plan ===\n")
    val scans = cp.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1,
      s"zipf_bands must read documents exactly once:\n$cp")
    assert(cp.contains("BroadcastNestedLoopJoin") ||
      cp.contains("BroadcastHashJoin"),
      s"zipf_bands total must broadcast onto the band frame:\n$cp")
    assert(countOf(cp, "CartesianProduct") == 0, cp)
  }

  test("round-12 pin: hll_union stages the tokenized frame once — " +
       "both sketch builds read the checkpoint, 1-row direct side " +
       "broadcasts") {
    val all = executedPlans("hll_union")
    val cp = all.mkString("\n=== next executed plan ===\n")
    val scans = cp.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1,
      s"hll_union must read documents exactly once:\n$cp")
    assert(countOf(cp, "partial_hll_sketch") >= 2,
      s"hll_union must build both sketches through partial native aggs:\n$cp")
    assert(!cp.contains("CartesianProduct"), cp)
  }

  test("round-12 pin: kmv_overlap stages the distinct (lang, word) " +
       "frame once; sketches build through partial native aggs; no " +
       "unkeyed join beyond the broadcast-sized pair frame") {
    val all = executedPlans("kmv_overlap")
    val cp = all.mkString("\n=== next executed plan ===\n")
    val scans = cp.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1,
      s"kmv_overlap must read documents exactly once:\n$cp")
    assert(countOf(cp, "partial_kmv_sketch") >= 1,
      s"kmv_overlap must build sketches through a partial native agg:\n$cp")
    assert(!cp.contains("CartesianProduct"), cp)
  }

  test("round-13 pin: kmv_novelty stages the distinct (snap, word) " +
       "frame once — two data scans total (corpus + doc_id-pruned max " +
       "for the split point); sketches build through partial native " +
       "aggs; downstream is 1-row broadcasts only") {
    val all = executedPlans("kmv_novelty")
    val cp = all.mkString("\n=== next executed plan ===\n")
    val scans = cp.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 2,
      s"kmv_novelty must scan parquet exactly twice (corpus + max):\n$cp")
    assert(countOf(cp, "partial_kmv_sketch") >= 2,
      s"kmv_novelty must build snapshot AND direct sketches through " +
        s"partial native aggs:\n$cp")
    assert(!cp.contains("CartesianProduct"), cp)
  }

  test("round-13 pin: rbo_inrow has NO window — the tiers' top-5 ride " +
       "GroupTopK and the RBO sum is in-row prefix intersects over " +
       "the staged arrays") {
    val p = plan("rbo_inrow")
    assert(!p.contains("Window"),
      s"rbo_inrow regressed to a window plan:\n$p")
    assert(countOf(p, "GroupTopK") >= 2,
      s"rbo_inrow's tiers lost the native top-k heaps:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("round-14 pin: summary_extract shuffles only scalar rows — the " +
       "tokenized frame is staged once, passage text is sliced in-row " +
       "after a second PRUNED documents scan (never shuffled through " +
       "the chunk agg), and both cuts ride GroupTopK") {
    val all = executedPlans("summary_extract")
    val cp = all.mkString("\n=== next executed plan ===\n")
    val scans = cp.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*"""))
    // exactly two: the token explode, and the final doc-keyed text
    // join. The second scan is the round-14 in-row fix (VERDICT r13
    // item 2): re-reading (doc_id, text) in parallel is the 100×-safe
    // alternative to re-assembling passage text through the
    // (doc_id, cidx) exchange — no aggregate in this query carries a
    // text payload anymore (asserted below via the agg expressions).
    assert(scans == 2,
      s"summary_extract must read documents exactly twice:\n$cp")
    assert(countOf(cp, "GroupTopK") >= 2,
      s"summary_extract lost a native top-k heap:\n$cp")
    assert(!cp.contains("CartesianProduct"), cp)
    assert(!cp.linesIterator.exists(l =>
        l.contains("Window") && l.contains("SinglePartition")),
      s"summary_extract grew an unpartitioned window:\n$cp")
    // no HashAggregate/ObjectHashAggregate node may aggregate over a
    // column named chunk/text — the passage rebuild must stay in-row
    assert(!cp.linesIterator.exists(l =>
        l.contains("Functions") && (l.contains("(chunk") || l.contains("(text"))),
      s"summary_extract re-grew a text-payload aggregate:\n$cp")
  }

  test("round-14 pin: lsh_bucket_stats prices the banded join without " +
       "building it — one documents scan (class frame staged for its " +
       "two readers), no pair join, the only cartesian is the 1-row " +
       "totals broadcast") {
    // executed plans: the class frame is an eager checkpoint, so the
    // lazy tree would show a passthrough double-derivation under
    // planOnly — count the scans the query actually runs
    val cp = executedPlans("lsh_bucket_stats")
      .mkString("\n=== next executed plan ===\n")
    val scans = cp.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1,
      s"lsh_bucket_stats must read documents exactly once:\n$cp")
    assert(!cp.contains("SortMergeJoin") && !cp.contains("ShuffledHashJoin"),
      s"lsh_bucket_stats grew a pair join — the profile must never " +
        s"build the pairs it prices:\n$cp")
    assert(!cp.contains("CartesianProduct"),
      s"lsh_bucket_stats: only the 1-row totals broadcast is allowed:\n$cp")
  }

  test("round-15 pin: lsh_band_advisor measures every candidate band " +
       "size from ONE documents scan and never builds the pairs it " +
       "prices — no pair join, only 1-row budget/pick broadcasts") {
    val cp = executedPlans("lsh_band_advisor")
      .mkString("\n=== next executed plan ===\n")
    val scans = cp.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1,
      s"lsh_band_advisor must read documents exactly once:\n$cp")
    assert(!cp.contains("SortMergeJoin") && !cp.contains("ShuffledHashJoin"),
      s"lsh_band_advisor grew a pair join — the advisor must price " +
        s"the banded join without building it:\n$cp")
    assert(!cp.contains("CartesianProduct"),
      s"lsh_band_advisor: only 1-row broadcasts are allowed:\n$cp")
  }

  test("round-15 pin: neardup_multiprobe keys its pair join on " +
       "(label, probe=bucket) — the probe explode is map-side, never " +
       "a cartesian") {
    val p = plan("neardup_multiprobe")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
      s"neardup_multiprobe grew an unkeyed pair join:\n$p")
    assert(p.linesIterator.exists(l => l.contains("keys") &&
        l.contains("label") && l.contains("probe")),
      s"neardup_multiprobe's join lost the (label, probe) key:\n$p")
    // the probe list explodes BEFORE the join (map-side Generate)
    assert(p.contains("Generate"),
      s"neardup_multiprobe lost the probe explode:\n$p")
  }

  test("round-15 pin: neardup_recall pushes the bounded audit slice " +
       "into both scans — exact truth is computed over vec_id<256, " +
       "never the corpus") {
    val p = plan("neardup_recall")
    assert(!p.contains("CartesianProduct"),
      s"neardup_recall grew a cartesian:\n$p")
    // the vec_id<256 filter must reach the parquet scans as a pushed
    // filter, so the audit reads 256 rows per side at any corpus size
    assert(p.contains("LessThan(vec_id,256)"),
      s"neardup_recall's audit slice is not pushed to the scan:\n$p")
  }

  test("round-15 pin: simhash_wide_neardup joins on the 30-bit " +
       "(comb, ckey) combination key — never a cartesian; the probe " +
       "explode is map-side") {
    val cp = executedPlans("simhash_wide_neardup")
      .mkString("\n=== next executed plan ===\n")
    assert(!cp.contains("CartesianProduct") &&
        !cp.contains("BroadcastNestedLoopJoin"),
      s"simhash_wide_neardup grew an unkeyed pair join:\n$cp")
    assert(cp.linesIterator.exists(l => l.contains("keys") &&
        l.contains("comb") && l.contains("ckey")),
      s"simhash_wide_neardup's join lost the combination key:\n$cp")
  }

  test("round-16 pin: simhash_neardup is the BOUNDED audit-slice tier " +
       "— the doc_id<64 slice reaches the parquet scan, so the 64-key " +
       "band domain never pairs the full corpus (the corpus tier is " +
       "simhash_wide_neardup)") {
    val cp = executedPlans("simhash_neardup")
      .mkString("\n=== next executed plan ===\n")
    // the slice must prune at the SCAN (pushed filter), not after the
    // signature build — otherwise the fixed 64-value band domain makes
    // the pairing n²/64 at corpus scale (VERDICT r15 lead item)
    assert(cp.contains("LessThan(doc_id,64)"),
      s"simhash_neardup's audit slice is not pushed to the scan:\n$cp")
    assert(!cp.contains("CartesianProduct") &&
        !cp.contains("BroadcastNestedLoopJoin"),
      s"simhash_neardup grew an unkeyed pair join:\n$cp")
    assert(cp.linesIterator.exists(l => l.contains("keys") &&
        l.contains("blk") && l.contains("bval")),
      s"simhash_neardup's join lost the (blk, bval) block key:\n$cp")
  }

  test("round-16 pin: pdf_extract is a pure map — one documents scan, " +
       "no join/explode/aggregate; the codegen'd build+parse expressions " +
       "keep the scan inside whole-stage codegen") {
    val p = plan("pdf_extract")
    val scans = p.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1, s"pdf_extract must read documents exactly once:\n$p")
    assert(!p.contains("Join") && !p.contains("Generate") &&
        !p.contains("Aggregate"),
      s"pdf_extract grew a join/explode/aggregate — it must stay a " +
        s"per-row map:\n$p")
    // build+parse must stay the codegen'd pdf_build/pdf_pages/pdf_text
    // expressions — a ScalaUDF here would break whole-stage codegen
    // around the scan (the lazy AQE plan doesn't print codegen spans,
    // so the pin is on the expression names)
    assert(p.contains("pdf_build") && !p.contains("UDF"),
      s"pdf_extract lost its codegen'd expressions to a UDF:\n$p")
  }

  test("round-16 pin: quality_train's per-round shape — every weight-" +
       "vector join is a broadcast (the 257-row frame must never " +
       "shuffle the corpus-side feature stream), no cartesian beyond " +
       "1-row broadcasts") {
    // the artifact memo (round 17) must not hide the per-round build:
    // a warm memo would reduce the executed plans to the downstream
    // 1799-row scan and silently vacate this pin
    graft.etl.Memos.clearAll()
    val cp = executedPlans("quality_train")
      .mkString("\n=== next executed plan ===\n")
    assert(!cp.contains("CartesianProduct"),
      s"quality_train grew a cartesian:\n$cp")
    assert(cp.contains("BroadcastHashJoin"),
      s"quality_train lost the broadcast weight join:\n$cp")
    // the per-round score join keys on the bucket column; a sort-merge
    // join there means the bounded weight vector stopped broadcasting
    val smjOnB = cp.linesIterator.exists(l =>
      l.contains("SortMergeJoin") && l.matches(""".*\[b#\d+L\].*"""))
    assert(!smjOnB,
      s"quality_train's bucket-keyed weight join fell to a shuffle:\n$cp")
  }

  test("quality-train artifact build joins nothing: the weight vector " +
       "rides each round as a literal, every candidate is scored in one " +
       "pass, and the artifact is a local relation") {
    graft.etl.Memos.clearAll()
    val plans = executedQes(graft.etl.QualityTrain.trainArtifact(spark, dir))
      .map(_.explainString(FormattedMode))
    graft.etl.Memos.clearAll()
    assert(plans.nonEmpty)
    plans.foreach(p => assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"quality-train artifact build ran a join:\n$p"))
  }

  test("round-18 pin: dedup_components_incremental's merge stays keyed " +
       "— the quotient mapping and the relabel are equi-joins on " +
       "doc/label columns, never a cartesian or nested loop, in EVERY " +
       "executed stage (prior build, quotient closure, relabel)") {
    // eager operator: the interesting plans (prior closure rounds,
    // quotient closure rounds, the relabel join) run inside — read the
    // executed plans, not the returned checkpoint scan
    graft.etl.Memos.clearAll()
    val cp = executedPlans("dedup_components_incremental")
      .mkString("\n=== next executed plan ===\n")
    assert(!cp.contains("CartesianProduct"),
      s"incremental merge grew a cartesian:\n$cp")
    assert(!cp.contains("BroadcastNestedLoopJoin"),
      s"incremental merge grew an unkeyed join:\n$cp")
  }

  test("round-17 pin: decontaminate_eval pairs ONLY through the " +
       "8-gram shingle key — an asymmetric bench×train equi-join, " +
       "never all-pairs (the containment-keyed contract of VERDICT " +
       "r16 item 8)") {
    val p = plan("decontaminate_eval")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
      s"decontaminate_eval grew an unkeyed pair join:\n$p")
    assert(p.linesIterator.exists(l => l.contains("keys") &&
        l.contains("shingle")),
      s"decontaminate_eval's pair join lost the shingle key:\n$p")
  }

  test("round-14 pin: containment_pipeline rides the pair frame with " +
       "keyed joins only — no cartesian, no nested loop") {
    val p = plan("containment_pipeline")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
      s"containment_pipeline grew an unkeyed join:\n$p")
    // the shingle-set joins are doc-keyed equi-joins; the exact-verify
    // arithmetic is in-row (array_intersect), never a shingle explode
    assert(!p.contains("Generate"),
      s"containment_pipeline must not explode shingles:\n$p")
  }

  test("round-15 pin: embedding_neardup's pair join is keyed on the " +
       "composed (label, sign-bucket) key with adaptive width — never " +
       "a cartesian or unkeyed nested loop") {
    val p = plan("embedding_neardup")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
      s"embedding_neardup grew an unkeyed pair join:\n$p")
    // FormattedMode prints each join's key lists in its detail block;
    // the pair join must key on BOTH label and bucket (the adaptive
    // sign-cell) — label alone is the unbounded-block regression
    assert(p.linesIterator.exists(l => l.contains("keys") &&
        l.contains("label") && l.contains("bucket")),
      s"embedding_neardup's join lost the composed (label, bucket) key:\n$p")
  }

  test("round-15 pin: semdedup broadcasts only the bounded centroid " +
       "slice (one nested loop) and keys the member pair join on the " +
       "composed (cluster, sign-bucket) key — cluster alone is the " +
       "quadratic-at-100x regression") {
    val p = plan("semdedup")
    assert(!p.contains("CartesianProduct"),
      s"semdedup grew a cartesian:\n$p")
    // the assignment's non-equi centroid join is the only nested loop
    // allowed, and the lazy tree re-derives the members frame once per
    // consumer branch (map-side scans, the shuffle-free choice), so the
    // pin is count-equality: EVERY nested loop must build the bounded
    // vec_id<8 centroid slice — a nested loop without that filter is an
    // unbounded-broadcast regression
    // count node detail headers "(N) BroadcastNestedLoopJoin", not raw
    // substrings — FormattedMode prints every node twice (tree + detail)
    val bnlj = p.linesIterator.count(
      _.matches("""\(\d+\) BroadcastNestedLoopJoin.*"""))
    val centroidFilters = p.linesIterator.count(l =>
      l.contains("Condition") && l.contains("< 8"))
    assert(bnlj > 0 && bnlj == centroidFilters,
      s"semdedup: $bnlj nested loops vs $centroidFilters bounded " +
        s"centroid filters — some nested loop is not the 8-row " +
        s"centroid broadcast:\n$p")
    assert(p.linesIterator.exists(l => l.contains("keys") &&
        l.contains("_cl") && l.contains("_bk")),
      s"semdedup's pair join lost the composed (cluster, bucket) key:\n$p")
  }

  test("round-15 pin: paragraph_dedup segments map-side (Generate, no " +
       "window), the survivor set IS the digest-keyed min-struct agg " +
       "(no winner join back), and the only join is the doc-keyed " +
       "reassembly outer join") {
    val p = plan("paragraph_dedup")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
      s"paragraph_dedup grew an unkeyed join:\n$p")
    // segmentation is pure array expressions exploded by Generate; a
    // Window here means someone reintroduced the per-doc sort form
    assert(p.contains("Generate"),
      s"paragraph_dedup lost the map-side paragraph explode:\n$p")
    assert(!p.contains("Window"),
      s"paragraph_dedup grew a window — winner pick must stay a " +
        s"partial-aggregable min-struct agg:\n$p")
    // exactly ONE join in the whole plan: tot ⋈ survivors on doc_id.
    // a second join means the winner-join-back form returned (it costs
    // a third paragraph subtree — measured +45% at sf0.1)
    val joins = p.linesIterator.count(_.matches("""\(\d+\) \w*Join\w*.*"""))
    assert(joins == 1,
      s"paragraph_dedup must have only the doc-keyed reassembly join, " +
        s"found $joins:\n$p")
  }

  test("round-15 pin: curation_funnel computes the survivorship curve " +
       "in one plan — dedup stages are high-cardinality-keyed windows, " +
       "the only nested loop is the 6-row cumulative stage join, and " +
       "the closure rides the session memo") {
    val p = plan("curation_funnel")
    assert(!p.contains("CartesianProduct"),
      s"curation_funnel grew a cartesian:\n$p")
    // exactly one nested loop: range(0,6) × the ≤6-row level histogram
    val bnlj = p.linesIterator.count(
      _.matches("""\(\d+\) BroadcastNestedLoopJoin.*"""))
    assert(bnlj == 1,
      s"curation_funnel must have exactly the 6x6 stage join as a " +
        s"nested loop, found $bnlj:\n$p")
    // both dedup windows keep their high-cardinality partition keys:
    // (h, m3) for exact dedup, (coalesce(component, doc_id), m4) for
    // the canonical pick — a bare `component` key is the null-funnel
    // regression (every non-clustered doc in ONE window partition)
    assert(p.contains("windowspecdefinition(h"),
      s"curation_funnel's exact-dedup window lost its md5 key:\n$p")
    // the canonical window's partition key is the pre-projected
    // coalesce(component, doc_id) (prints as _w0 in the spec) — assert
    // the coalesce projection exists AND an m4-keyed window runs
    assert(p.contains("coalesce(component"),
      s"curation_funnel's canonical window lost the null-free " +
        s"singleton key:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("windowspecdefinition") && l.contains("m4")),
      s"curation_funnel lost the canonical-pick window:\n$p")
  }

  test("round-15 pin: paragraph_sweep is pure explode+agg per width — " +
       "no joins, no windows, one Generate per candidate k") {
    val p = plan("paragraph_sweep")
    assert(!p.contains("Join"),
      s"paragraph_sweep grew a join — the sweep is count/countDistinct " +
        s"aggregates only:\n$p")
    assert(!p.contains("Window"),
      s"paragraph_sweep grew a window:\n$p")
    val gens = p.linesIterator.count(_.matches("""\(\d+\) Generate.*"""))
    assert(gens == 3,
      s"paragraph_sweep must segment once per width (3), found $gens:\n$p")
  }

  test("round-15 pin: paragraph_attribution's loser→winner join is " +
       "digest-keyed with a unique build side — no cartesian, no " +
       "window, source lookups doc-keyed") {
    val p = plan("paragraph_attribution")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
      s"paragraph_attribution grew an unkeyed join:\n$p")
    assert(!p.contains("Window"),
      s"paragraph_attribution grew a window — winner pick must stay " +
        s"the partial min-struct agg:\n$p")
    assert(p.linesIterator.exists(l => l.contains("keys") &&
        (l.contains("dg") || l.contains("wg"))),
      s"paragraph_attribution lost the digest join key:\n$p")
  }

  test("round-13 pin: quantile_digest stages the (lang, source, len) " +
       "frame once — one documents scan; digests build through partial " +
       "native aggs; the exact-histogram window stays lang-partitioned") {
    val all = executedPlans("quantile_digest")
    val cp = all.mkString("\n=== next executed plan ===\n")
    val scans = cp.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1,
      s"quantile_digest must read documents exactly once:\n$cp")
    assert(countOf(cp, "partial_qdigest_sketch") >= 2,
      s"quantile_digest must build per-lang AND per-source digests " +
        s"through partial native aggs:\n$cp")
    assert(!cp.contains("CartesianProduct"), cp)
    assert(!cp.linesIterator.exists(l =>
        l.contains("Window") && l.contains("SinglePartition")),
      s"the exact-rank window must partition by lang:\n$cp")
  }

  test("round-13 pin: quantile_weighted stages the (lang, len, wt) " +
       "frame once — one documents scan; the weighted digest builds " +
       "through a partial native agg; the rank window stays " +
       "lang-partitioned") {
    val all = executedPlans("quantile_weighted")
    val cp = all.mkString("\n=== next executed plan ===\n")
    val scans = cp.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1,
      s"quantile_weighted must read documents exactly once:\n$cp")
    assert(countOf(cp, "partial_qdigest_sketch_w") >= 1,
      s"quantile_weighted must build the digest through a partial " +
        s"native agg:\n$cp")
    assert(!cp.contains("CartesianProduct"), cp)
    assert(!cp.linesIterator.exists(l =>
        l.contains("Window") && l.contains("SinglePartition")),
      s"the exact-rank window must partition by lang:\n$cp")
  }

  test("round-12 pin: wer_inrow has NO window and NO per-pair " +
       "aggregation — the DP runs in the pair row") {
    val p = plan("wer_inrow")
    assert(!p.contains("Window"),
      s"wer_inrow regressed to the vocab-window re-encode plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("word_edit_distance"),
      s"wer_inrow must compute through the compiled DP expression:\n$p")
  }

  test("round-12 pin: benford_deviation scans orders ONCE — the grand " +
       "total is a window over the 9-row aggregate, the reference " +
       "table broadcasts") {
    val p = plan("benford_deviation")
    val scans = p.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1,
      s"benford_deviation must read orders exactly once:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 9-row Benford reference table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("round-12 pin: moments_profile is ONE scan + ONE 5-group " +
       "partial aggregate — binomial expansion, no mean-then-rejoin " +
       "second pass, no window, no join") {
    val p = plan("moments_profile")
    val scans = p.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1,
      s"moments_profile must read documents exactly once:\n$p")
    assert(!p.contains("Window"),
      s"moments_profile must not window — shape math runs on the " +
        s"5-row aggregate:\n$p")
    assert(!p.contains("Join"), s"moments_profile must not join:\n$p")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"moments_profile must partial-aggregate the power sums:\n$p")
  }

  test("round-12 pin: llr_collocations tokenizes the corpus ONCE — " +
       "marginals and total aggregate the staged pair frame; 1-row " +
       "total broadcasts, no cartesian") {
    val all = executedPlans("llr_collocations")
    val cp = all.mkString("\n=== next executed plan ===\n")
    val scans = cp.linesIterator.count(
      _.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1,
      s"llr_collocations must read documents exactly once:\n$cp")
    assert(cp.contains("BroadcastNestedLoopJoin") ||
      cp.contains("BroadcastHashJoin"),
      s"the 1-row total must broadcast onto the scored pairs:\n$cp")
    assert(countOf(cp, "CartesianProduct") == 0, cp)
  }

  test("bucketed tables co-locate the join: no exchange under the join") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    spark.sql("DROP TABLE IF EXISTS graft_b1")
    spark.sql("DROP TABLE IF EXISTS graft_b2")
    df.write.bucketBy(4, "k").sortBy("k").saveAsTable("graft_b1")
    df.write.bucketBy(4, "k").sortBy("k").saveAsTable("graft_b2")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_b1").join(spark.table("graft_b2"), "k")
      val p = j.queryExecution.explainString(FormattedMode)
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
      assert(j.count() == 100)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
