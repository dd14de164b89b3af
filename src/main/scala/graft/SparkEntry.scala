package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is a pure (SparkSession, sfDir) => DataFrame
  * over the driver's parquet tables; `oracleSql` (graft.Oracles) holds
  * the DuckDB-equivalent SQL the driver hash-compares against.
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §7.2 slice 0): documents scored by topic
    * regex (X2), anti-joined against a deterministic visited slice (J1),
    * top-10 by relevance (T2). scan → filter → scalar → anti-join →
    * sort → limit, end to end.
    */
  def entry(spark: SparkSession): DataFrame =
    entry(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))

  def entry(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .withColumn("relevance", Scoring.scorePage(col("text"), Scoring.PageTopic))
    val visited = scored.filter(col("doc_id") % 2 === 0).select("doc_id")
    scored.join(visited, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("relevance"), col("n_chars"))
      .orderBy(col("relevance").desc, col("doc_id").asc)
      .limit(10)
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ north-star
    * extensions). Keys match Oracles.all (simhash & co. included there;
    * anything without an oracle gets the driver's rows-only check).
    *
    * Built from a Seq, NOT a Map literal: a Map literal silently keeps
    * the LAST entry on a duplicate key, which in round 9 let a new
    * query shadow an existing one (both sides stayed green because the
    * oracle shadowed identically — the surface just silently shrank by
    * one). The require turns that mistake into a loud failure in every
    * test and main.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val dups = queryList.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty, s"duplicate query keys: ${dups.mkString(", ")}")
    queryList.toMap
  }

  private def queryList: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // core relational
    "q1_agg"              -> (Relational.q1Agg _),
    "q3_topk"             -> (Relational.q3TopK _),
    "dim_join_agg"        -> (Relational.dimJoinAgg _),
    "window_rank"         -> (Relational.windowRank _),
    "running_sum"         -> (Relational.runningSum _),
    "semi_anti_customers" -> (Relational.semiAntiCustomers _),
    "q4_late_orders"      -> (Relational.q4LateOrders _),
    "q12_priority_shipping" -> (Relational.q12PriorityShipping _),
    "q14_promo_share"     -> (Relational.q14PromoShare _),
    // URL pipeline (crawler analogs)
    "url_normalize"    -> (Urls.urlNormalize _),
    "url_skip_filter"  -> (Urls.urlSkipFilter _),
    "same_domain"      -> (Urls.sameDomain _),
    "url_slug"         -> (Urls.urlSlugQuery _),
    "engine_route"     -> (Urls.engineRoute _),
    "visited_antijoin" -> (Urls.visitedAntijoin _),
    "bloom_prefilter"  -> (Urls.bloomPrefilter _),
    "frontier_union"   -> (Urls.frontierUnion _),
    "frontier_pop"     -> (Urls.frontierPop _),
    "score_link"       -> (Urls.scoreLinkQuery _),
    "priority_calc"    -> (Urls.priorityCalc _),
    "page_id_gen"      -> (Urls.pageIdGen _),
    "politeness_batches" -> ((s: SparkSession, d: String) => Urls.politenessBatches(s, d)),
    // document scoring / classification
    "score_page"      -> (Scoring.scorePageQuery _),
    "stars_bucket"    -> (Scoring.starsBucket _),
    "obstacle_detect" -> (Scoring.obstacleDetect _),
    "obstacle_route"  -> (Scoring.obstacleRoute _),
    "content_flags"   -> (Scoring.contentFlags _),
    "truncate_notice" -> (Scoring.truncateNotice _),
    // aggregations
    "crawl_stats"        -> (Aggregates.crawlStats _),
    "hierarchical_stats" -> (Aggregates.hierarchicalStats _),
    "topk_pages"         -> (Aggregates.topkPages _),
    "topk_per_lang"      -> (Aggregates.topkPerLang _),
    "topk_native"        -> (Aggregates.topkPerLang _),
    "heading_extract"    -> (Aggregates.headingExtract _),
    "tree_closure"       -> (Aggregates.treeClosure _),
    "batch_pack"         -> ((s: SparkSession, d: String) => Aggregates.batchPack(s, d)),
    "batch_pack_sharded" -> ((s: SparkSession, d: String) => Aggregates.batchPackSharded(s, d)),
    "rag_chunk"          -> (Chunker.ragChunk _),
    "code_chunk"         -> (Chunker.codeChunk _),
    // events
    "json_extract"    -> (Events.jsonExtract _),
    "lag_lead"        -> (Events.lagLead _),
    "sessionize"      -> (Events.sessionize _),
    "tumbling_window" -> (Events.tumblingWindow _),
    "sliding_window"  -> (Events.slidingWindow _),
    "hourly_profile"  -> (Events.hourlyProfile _),
    "funnel_stages"   -> (Events.funnelStages _),
    "funnel_windowed" -> (Events.funnelWindowed _),
    "cohort_retention" -> (Events.cohortRetention _),
    // text analysis
    "token_count"     -> (TextAnalysis.tokenCountQuery _),
    "quality_score"   -> (TextAnalysis.qualityScore _),
    "weighted_sample" -> (TextAnalysis.weightedSample _),
    "lang_id"         -> (TextAnalysis.langId _),
    "doc_fingerprint" -> (TextAnalysis.fingerprint _),
    "ngram_novelty"   -> (TextAnalysis.ngramNovelty _),
    "collocations"    -> (TextAnalysis.collocations _),
    // dedup
    "dedup_exact"       -> (Dedup.dedupExact _),
    "minhash_signature" -> (Dedup.minhashSignatureQuery _),
    // the memoized pair/closure frames are stored UNSORTED (round 19 —
    // consumers aggregate, so the builds stopped paying a sampling pass
    // + range exchange per isolated rebuild); the declared surfaces add
    // their contract order here, over the checkpoint scan
    "minhash_lsh"       -> ((s: SparkSession, d: String) =>
      Dedup.minhashLsh(s, d).orderBy("doc_a", "doc_b")),
    "lsh_bucket_stats"  -> ((s: SparkSession, d: String) => Dedup.lshBucketStats(s, d)),
    "lsh_band_advisor"  -> ((s: SparkSession, d: String) => Dedup.lshBandAdvisor(s, d)),
    "containment_pipeline" -> (Dedup.containmentPipeline _),
    // production-speed tier (xxhash64): verified via the deterministic
    // error-band shape (Oracles error-band note) — exact pair Jaccard
    // + Hoeffding-safe est_ok flag; InvariantSpec cross-checks recall
    "minhash_fast"      -> (Dedup.minhashFastQuery _),
    "ngram_jaccard"     -> (Dedup.ngramJaccard _),
    "substring_dedup"   -> (Dedup.substringDedup _),
    "paragraph_dedup"   -> (Dedup.paragraphDedup _),
    "paragraph_sweep"   -> ((s: SparkSession, d: String) => Dedup.paragraphSweep(s, d)),
    "paragraph_attribution" -> (Dedup.paragraphAttribution _),
    "curation_funnel"   -> (CorpusPipeline.curationFunnel _),
    "simhash"           -> (Dedup.simhash _),
    "simhash_neardup"   -> (Dedup.simhashNearDup _),
    "simhash_wide_neardup" -> (Dedup.simhashWideNearDup _),
    "decontaminate"     -> (Dedup.decontaminate _),
    "dedup_incremental" -> ((s: SparkSession, d: String) => Dedup.dedupIncremental(s, d)),
    "dedup_components"  -> ((s: SparkSession, d: String) =>
      Dedup.componentsFrame(s, d).orderBy("doc_id")), // see minhash_lsh note
    // closure(N) + delta pairs -> closure(N+1); oracle = full recompute
    "dedup_components_incremental" ->
      ((s: SparkSession, d: String) => Dedup.dedupComponentsIncremental(s, d)),
    // similarity search
    "knn_brute"         -> (Similarity.knnBrute _),
    "knn_bucketed"      -> (Similarity.knnBucketed _),
    "knn_multiprobe"    -> (Similarity.knnMultiprobe _),
    "embedding_neardup" -> (Similarity.embeddingNearDup _),
    "neardup_multiprobe" -> (Similarity.embeddingNearDupMultiprobe _),
    "neardup_recall"   -> (Similarity.neardupRecall _),
    "label_stats"       -> (Similarity.labelStats _),
    "cluster_assign"    -> (Similarity.clusterAssign _),
    "kmeans_update"     -> (Similarity.kmeansUpdate _),
    "knn_ivf"           -> (Similarity.knnIvf _),
    "knn_pq"            -> (Similarity.knnPq _),
    "knn_pq_rerank"     -> (Similarity.knnPqRerank _),
    // fixpoint / windows / custom-agg / multimodal
    "crawl_bfs"           -> (Crawl.crawlBfs _),
    "pagerank_iter"       -> ((s: SparkSession, d: String) => Crawl.pagerankIter(s, d)),
    "ppr_seed"            -> ((s: SparkSession, d: String) => Crawl.pprSeed(s, d)),
    "triangle_count"      -> (Crawl.triangleCounts _),
    "range_window"        -> (Events.rangeWindow _),
    "session_window_agg"  -> (Events.sessionWindowAgg _),
    "bounded_summary"     -> (Summaries.boundedSummary _),
    // A3 extractive tier: keyword-scored passage selection, doc order
    "summary_extract"     -> (Summaries.extractiveSummary _),
    "multimodal_features" -> (Multimodal.multimodalFeatures _),
    "image_classify" -> (Multimodal.imageClassify _),
    // image pipeline
    "image_filter"  -> (Images.imageFilter _),
    "image_resolve" -> (Images.imageResolve _),
    // skew handling
    "skew_salted_agg" -> (Skew.saltedAgg _),
    // data profiling
    "table_profile"   -> (Observability.tableProfile _),
    // strategy router / distinct / priority crawl
    "transform_route" -> (Router.transformRoute _),
    "distinct_agg"    -> (Router.distinctAgg _),
    // HLL sketch tier: verified via the deterministic error-band shape
    // (exact distincts + approx_ok flag); InvariantSpec pins the rsd
    "distinct_sketch" -> (Router.distinctSketch _),
    "crawl_priority"  -> ((s: SparkSession, d: String) => Crawl.crawlPriority(s, d)),
    // SQL surface (registered functions via GraftExtensions)
    "sql_chunk" -> (Chunker.sqlChunk _),
    // as-of join (composed operator, oracle = DuckDB native ASOF JOIN)
    "asof_join" -> (AsOf.eventsAsofOrders _),
    // range join / dedup pipeline / splits
    "range_join_band"  -> (RangeJoin.eventsOrdersInBand _),
    "neardup_pipeline" -> (Splits.neardupPipeline _),
    "train_test_split" -> (Splits.trainTestSplit _),
    "group_split"      -> (Splits.groupSplit _),
    "split_leakage"    -> (Splits.splitLeakage _),
    "decontaminate_eval" -> (Splits.decontaminateEval _),
    "snapshot_diff"    -> (Splits.snapshotDiff _),
    // relational breadth: windows-as-correlation, deep join, rollup, pivot
    "above_avg_orders" -> (Relational2.aboveAvgOrders _),
    "q5_local_supplier" -> (Relational2.q5LocalSupplier _),
    "q7_nation_volume"  -> (Relational2.q7NationVolume _),
    "q10_returned_items" -> (Relational2.q10ReturnedItems _),
    "rollup_sales"     -> (Relational2.rollupSales _),
    "pivot_flags"      -> (Relational2.pivotFlags _),
    "median_price"     -> (Relational2.medianPrice _),
    "quartile_prices"  -> (Relational2.quartilePrices _),
    "json_struct_parse" -> (Events.jsonStructParse _),
    // corpus QA / preprocessing
    "text_normalize"    -> (TextAnalysis.textNormalize _),
    "pii_redact"        -> (TextAnalysis.piiRedact _),
    "repetition_profile" -> (TextAnalysis.repetitionProfile _),
    "gopher_rules" -> (TextAnalysis.gopherRules _),
    "rule_attribution" -> (TextAnalysis.ruleAttribution _),
    "dup_quality_profile" -> (Dedup.dupQualityProfile _),
    "length_histogram"  -> (TextAnalysis.lengthHistogram _),
    "feature_scale"     -> (TextAnalysis.featureScale _),
    "stratified_sample" -> (Splits.stratifiedSample _),
    "reservoir_sample"  -> (Splits.reservoirSample _),
    // IR / analytics extras
    "tfidf_topk"      -> (TfIdf.tfidfTopK _),
    "tfidf_search"    -> (TfIdf.tfidfSearch _),
    "bm25_topk"       -> (TfIdf.bm25TopK _),
    "edit_distance"   -> (TfIdf.editDistancePairs _),
    "edit_distance_banded" -> (TfIdf.editDistanceBanded _),
    "rank_functions"  -> (TfIdf.rankFunctions _),
    "set_ops"         -> (Relational2.setOps _),
    "cube_sales"      -> (Relational2.cubeSales _),
    "safe_parse"      -> (Events.safeParse _),
    // round-4 relational breadth: pushdown-only agg, market share,
    // profit, outer-join distribution, scalar-subquery thresholds,
    // correlated-avg join-back, group-having semi-join, disjunctive
    // bands, only-late double-agg, min-cost struct-min
    "q6_forecast"            -> (Relational3.q6Forecast _),
    "q8_market_share"        -> (Relational3.q8MarketShare _),
    "q9_product_profit"      -> (Relational3.q9ProductProfit _),
    "q13_order_distribution" -> (Relational3.q13OrderDistribution _),
    "q15_top_supplier"       -> (Relational3.q15TopSupplier _),
    "q17_small_qty_revenue"  -> (Relational3.q17SmallQtyRevenue _),
    "q18_large_orders"       -> (Relational3.q18LargeOrders _),
    "q19_disjunctive_bands"  -> (Relational3.q19DisjunctiveBands _),
    "q21_only_late_supplier" -> (Relational3.q21OnlyLateSupplier _),
    "q22_idle_rich"          -> (Relational3.q22IdleRich _),
    "q2_min_cost_supplier"   -> (Relational3.q2MinCostSupplier _),
    "q11_important_parts"    -> (Relational3.q11ImportantParts _),
    // round-4 CDC / corpus-statistics wave: MERGE-style upsert apply,
    // SCD2 interval build, cross-doc duplicate-ngram rate, Heaps-law
    // vocabulary growth
    "cdc_apply"      -> (Changelog.cdcApply _),
    "ivm_update"     -> (Changelog.ivmUpdate _),
    "scd2_build"     -> (Changelog.scd2Build _),
    "dup_ngram_rate" -> (CorpusStats.dupNgramRate _),
    "vocab_growth"   -> (CorpusStats.vocabGrowth _),
    "mix_weights"    -> (CorpusStats.mixWeights _),
    "repeat_customers"      -> (Relational3.repeatCustomers _),
    "monthly_revenue_delta" -> (Relational3.monthlyRevenueDelta _),
    "hard_negatives"        -> (Similarity.hardNegatives _),
    "dedup_canonical"       -> ((s: SparkSession, d: String) => Dedup.dedupCanonical(s, d)),
    "scd2_lookup"           -> (Changelog.scd2Lookup _),
    "knn_ivf_trained"       -> (Similarity.knnIvfTrained _),
    "knn_pq_trained"        -> (Similarity.knnPqTrained _),
    "latency_percentiles"   -> (Events.latencyPercentiles _),
    "outlier_mad"           -> (Events.outlierMad _),
    // GK-sketch tier: verified via the deterministic error-band shape
    // (exact percentiles + per-quantile rank-band flags); InvariantSpec
    // pins 2% value closeness vs the exact histogram-rank
    "latency_percentiles_approx" -> (Events.latencyPercentilesApprox _),
    // round-4 completion wave: the last classic shapes (distinct-count
    // buckets with an exclusion anti-join, nested excess-share
    // semi-join), calendar gap-fill, Markov transitions, entry-path
    // mining, and the inverted-index build
    "q16_supplier_counts" -> (Relational3.q16SupplierCounts _),
    "q20_excess_shippers" -> (Relational3.q20ExcessShippers _),
    "gap_fill"            -> (Relational3.gapFillDays _),
    "event_transitions"   -> (Events.eventTransitions _),
    "top_paths"           -> (Events.topPaths _),
    "inverted_index"      -> (TfIdf.invertedIndex _),
    "bpe_pairs"           -> (CorpusStats.bpePairs _),
    "bpe_train"           -> (CorpusStats.bpeTrain _),
    "bpe_encode"          -> (CorpusStats.bpeEncode _),
    // round-5 training-pipeline wave: concat-and-split sequence
    // packing, token-budget chunking, hashed linear quality scoring,
    // anchor-text aggregation, Z-order layout audit
    "pack_sequences"     -> (Packing.packSequences _),
    "token_chunk"        -> (Chunker.tokenChunk _),
    "quality_classifier" -> (TextAnalysis.qualityClassifier _),
    // round-16 training wave: the classifier's TRAIN step — quantized
    // multinomial-NB warm start + integer perceptron refinement with
    // pocket selection on the valid split; weight vector, measured
    // trajectory, held-out confusion row
    "quality_train"       -> (QualityTrain.qualityTrain _),
    "quality_train_curve" -> (QualityTrain.qualityTrainCurve _),
    "quality_train_eval"  -> (QualityTrain.qualityTrainEval _),
    "anchor_text"        -> (Urls.anchorText _),
    "zorder_layout"      -> (Layout.zorderLayout _),
    "padding_batches"    -> (Packing.paddingBatches _),
    "rrf_fusion"         -> (TfIdf.rrfFusion _),
    "expectations"       -> (Observability.expectations _),
    // round-6 data-selection wave: DSIR importance weighting (hashed
    // likelihood-ratio scoring vs a target slice) and SemDeDup
    // (cluster-blocked embedding dedup with survivor verdicts)
    "dsir_weights" -> ((s: SparkSession, d: String) => TextAnalysis.dsirWeights(s, d)),
    "semdedup"     -> (Similarity.semDedup _),
    // round-6 extraction wave: REAL trafilatura-class main-content
    // extraction (S5) value-checked via a self-inverting page build,
    // plus duplicated-span clipping (the removal step after detection)
    "html_extract" -> (HtmlExtract.htmlExtract _),
    "span_clip"    -> (Dedup.spanClip _),
    // round-16 extraction wave: REAL PDF parsing (S9) value-checked via
    // a self-inverting page build — the html_extract treatment for the
    // last narrowable contract (page tree + Flate streams + Tj grammar,
    // max_pages=15 cap on real rows)
    "pdf_extract"  -> (Multimodal.pdfExtract _),
    "pdf_extract_digest" -> (Multimodal.pdfExtractDigest _),
    // two-pass Misra-Gries sketch + exact recount: provably equals the
    // plain GROUP BY heavy-hitter answer (see MisraGries scaladoc)
    "heavy_hitters" -> (Skew.heavyHitters _),
    // curriculum ordering: easy→hard tiers, languages interleaved
    "curriculum_order" -> (Packing.curriculumOrder _),
    // k-anonymity release audit over quasi-identifier classes
    "k_anonymity" -> (Observability.kAnonymity _),
    // domain-mix drift: token-mass vs doc-mass KL/entropy monitor
    "mix_drift" -> (CorpusStats.mixDrift _),
    // α=0.5 temperature mix: shares ∝ isqrt(token mass), exact integer
    "temperature_mix" -> (CorpusStats.temperatureMix _),
    // ANN eval harness on the verified surface: recall@5 of the
    // sign-bucket tier vs brute, and k-means label purity
    "knn_recall"      -> (Similarity.knnRecall _),
    "cluster_purity"  -> (Similarity.clusterPurity _),
    // vocab-coverage audit: per-lang OOV rate vs a top-256 vocab
    "oov_rate" -> (CorpusStats.oovRate _),
    // MMR diversified retrieval: λ=0.5 greedy top-5, integer argmax
    "mmr_diversify" -> ((s: SparkSession, d: String) => Similarity.mmrDiversify(s, d)),
    // triplet mining: hardest positive + hardest negative per anchor
    "triplet_mine" -> (Similarity.tripletMine _),
    // per-domain cap: top-10 docs per source by quality on GroupTopK
    "domain_cap" -> (TextAnalysis.domainCap _),
    // near-dup detector P/R/F1: simhash tier vs exact-Jaccard truth
    "neardup_eval" -> (Dedup.neardupEval _),
    // per-lang exact decile cutpoints (grouped histogram ranks)
    "quality_deciles" -> (TextAnalysis.qualityDeciles _),
    // data-constrained epoch allocator: 4-epoch cap + spill report
    "epoch_mix" -> (CorpusStats.epochMix _),
    // IVF nprobe tuning curve: recall@5 + scan cost per probe count
    "ivf_sweep" -> ((s: SparkSession, d: String) => Similarity.ivfSweep(s, d)),
    // tokenizer fertility: symbols-per-word per language under BPE
    "bpe_fertility" -> (CorpusStats.bpeFertility _),
    // lang-ID confusion matrix vs ground truth (routing-leak audit)
    "langid_eval" -> (TextAnalysis.langidEval _),
    // cross-source syndication matrix over the LSH candidate pairs
    "source_overlap" -> ((s: SparkSession, d: String) => Dedup.sourceOverlap(s, d)),
    // link-graph reciprocity: share of edges with a reverse edge
    "reciprocity" -> (Crawl.reciprocity _),
    // dedup threshold sweep: merge yield per Jaccard cut
    "dedup_sweep" -> ((s: SparkSession, d: String) => Dedup.dedupSweep(s, d)),
    // explicit GROUPING SETS lattice with grouping flags
    "grouping_sets" -> (Relational2.groupingSetsSales _),
    // overlapping-interval coalescing into maximal busy periods
    "interval_merge" -> (Events.intervalMerge _),
    // ingest-rate spikes: hours > 2x their day's hourly mean
    "rate_spikes" -> (Events.rateSpikes _),
    "ts_motif" -> (Events.tsMotif _),
    "ts_anomaly" -> (Events.tsAnomaly _),
    "ts_fill" -> (Events.tsFill _),
    "session_baskets" -> (Events.sessionBaskets _),
    "session_transitions" -> (Events.sessionTransitions _),
    // bigram LM table: top-3 next words per head on GroupTopK
    "bigram_next" -> (CorpusStats.bigramNext _),
    "lm_score" -> (CorpusStats.lmScore _),
    // sparse-vs-dense retriever agreement (justifies hybrid fusion)
    "retriever_overlap" -> (TfIdf.retrieverOverlap _),
    // weekly active-user churn (rolling retention complement)
    "churn_rate" -> (Events.churnRate _),
    // PQ codebook distortion audit per subquantizer
    "pq_distortion" -> (Similarity.pqDistortion _),
    // Poisson bootstrap: 16 one-pass replicates of the token mean
    "bootstrap_mean" -> (Observability.bootstrapMean _),
    // kNN-vote label-noise mining over the audit slice
    "label_noise" -> (Similarity.labelNoise _),
    // l-diversity: attribute-disclosure audit (k-anonymity sibling)
    "l_diversity" -> (Observability.lDiversity _),
    // out-degree power-law audit (exact power-of-2 buckets)
    "degree_distribution" -> (Crawl.degreeDistribution _),
    // ANN sign-bucket occupancy / balance-factor audit
    "bucket_balance" -> (Similarity.bucketBalance _),
    // UNPIVOT (melt): wide → long via the first-class verb
    "unpivot_flags" -> (Relational2.unpivotFlags _),
    // exact phrase search: phrase == shingle, one keyed lookup
    "phrase_search" -> (TfIdf.phraseSearch _),
    // order-invariant exact dedup over the sorted word multiset
    "bag_dedup" -> (Dedup.bagDedup _),
    // media frame sampling: evenly-spaced payload slices + digests
    "frame_sample" -> (Multimodal.frameSampleQuery _),
    // entity resolution: block → levenshtein verify → best-match rank
    "record_linkage" -> (TfIdf.recordLinkage _),
    // empirical LSH s-curve: candidate rate per exact-Jaccard decile
    "lsh_quality" -> (Dedup.lshQuality _),
    // first/last-touch attribution over the running click frame
    "attribution" -> (Events.attribution _),
    // debounce dedup: drop same-(user,type) events within 10 min
    "event_dedup" -> (Events.eventDedup _),
    // character-entropy repetitiveness gate (sub-token degeneracy)
    "char_entropy" -> ((s: SparkSession, d: String) => TextAnalysis.charEntropy(s, d)),
    // lossless-tokenization proof: decode(encode(words)) == words
    "bpe_roundtrip" -> (CorpusStats.bpeRoundtrip _),
    // autocomplete: top-3 completions per 2-char prefix on GroupTopK
    "prefix_topk" -> (CorpusStats.prefixTopk _),
    // shuffle-key health: hot-key skew factor per real join key
    "join_skew_report" -> (Skew.joinSkewReport _),
    // Pareto front (min price, max size) via banded prefix-max, no O(n²)
    "skyline_parts" -> (Skyline.skylineParts _),
    // --- round-9 corpus-composition audit wave ---
    // Zipf head concentration: top-100 token share per lang (GroupTopK)
    "token_head_share" -> (CorpusStats.tokenHeadShare _),
    // ingest-order novelty: share of 8-gram positions first owned here
    "ingest_novelty" -> (CorpusStats.ingestNovelty _),
    // cross-language shingle contamination, bounded by the lang domain
    "crosslang_overlap" -> (CorpusStats.crosslangOverlap _),
    // --- round-9 mix-construction wave ---
    // proportional per-lang budget, md5-ordered deterministic pick
    "budget_sample" -> (CorpusStats.budgetSample _),
    // Herfindahl source-concentration per lang (diversity gate)
    "hhi_concentration" -> (CorpusStats.hhiConcentration _),
    // robust clamped aggregates at exact P1/P99 (integer cents)
    "winsorize_values" -> (Events.winsorizeValues _),
    // --- round-9 graph-curation wave ---
    // mutual-kNN graph over embeddings (sign-bucket blocked, top-5)
    "knn_graph" -> (GraphCuration.knnGraph _),
    // semi-supervised label propagation across the mutual-kNN graph
    // (adaptive count-derived blocking since round 15 — the oracle
    // replays the same bits derivation)
    "label_prop" -> ((s: SparkSession, d: String) =>
      GraphCuration.labelProp(s, d)),
    // 3-core peel of the crawl link graph (recrawl-priority core)
    "kcore" -> (GraphCuration.kcore _),
    // --- round-9 boilerplate wave ---
    // per-source template-gram profile (C4-style site boilerplate)
    "boilerplate_ngrams" -> (Boilerplate.boilerplateNgrams _),
    // per-doc boilerplate strip-mass audit
    "boilerplate_strip" -> (Boilerplate.boilerplateStrip _),
    // --- round-9 eval/drift wave ---
    // BM25 ranking quality: MRR + P@5 against tf>=3 proxy relevance
    "mrr_eval" -> (TfIdf.mrrEval _),
    // per-lang KS length-distribution drift vs corpus rest
    "ks_drift" -> (CorpusStats.ksDrift _),
    // asymmetric containment (quote/subset duplication) on the block
    "containment_dedup" -> (Dedup.containmentDedup _),
    // chi-square lang x length-bucket independence audit
    "chi2_independence" -> (CorpusStats.chi2Independence _),
    // pairwise Cohen's kappa between quality gates (redundancy audit)
    "filter_kappa" -> (TextAnalysis.filterKappa _),
    // quality-threshold retention curve (docs + token mass)
    "quality_sweep" -> (TextAnalysis.qualitySweep _),
    // CUSUM level-shift locator over hourly event-rate series
    "cusum_changepoint" -> (Events.cusumChangepoint _),
    // embedding-table health audit (zero/null/off-dim vectors, norms)
    "embedding_audit" -> (Similarity.embeddingAudit _),
    // Spearman length-vs-quality rank correlation per lang
    "spearman_corr" -> (TextAnalysis.spearmanCorr _),
    // held-out bigram-LM eval (train split model, test split scored)
    "lm_heldout" -> (CorpusStats.lmHeldout _),
    // Matryoshka truncation recall: 16-dim prefix vs full 64-dim truth
    "matryoshka_recall" -> (Similarity.matryoshkaRecall _),
    // per-source near-dup burden attribution over the closure
    "dup_attribution" -> (Dedup.dupAttribution _),
    // top-10 3-step session journeys with shares
    "session_paths" -> (Events.sessionPaths _),
    // --- round-9 close-out wave ---
    // Nelson-Aalen cumulative hazard over censored user lifetimes
    "survival_hazard" -> (Events.survivalHazard _),
    // lag-{1,2,3,24} ACF of per-type hourly rates (exact integer)
    "autocorr_lag" -> (Events.autocorrLag _),
    // maximal >=2x-median runs over the dense hourly grid
    "burst_detect" -> (Events.burstDetect _),
    // common-neighbor Jaccard link prediction (capped wedge join)
    "jaccard_linkpred" -> (GraphCuration.jaccardLinkpred _),
    // graded nDCG@5 with exact reciprocal-rank discounts
    "ndcg_eval" -> (TfIdf.ndcgEval _),
    // PRF query expansion from top-3 BM25 docs
    "query_expansion" -> (TfIdf.queryExpansion _),
    // min/max data-skipping audit: natural vs shipdate-clustered files
    "minmax_prune" -> (Layout.minmaxPrune _),
    // GDPR cascade-delete blast-radius dry run
    "forget_cascade" -> (Observability.forgetCascade _),
    // integer Flesch-Kincaid grade per document
    "readability" -> (TextAnalysis.readability _),
    // severity-weighted safety wordlist gate, per-source dashboard
    "blocklist_filter" -> (TextAnalysis.blocklistFilter _),
    // per-source quality deciles on the global percentile scale
    "quantile_norm" -> (CorpusStats.quantileNorm _),
    // half-life (power-of-2) freshness weighting per event type
    "recency_decay" -> (Events.recencyDecay _),
    // out-of-orderness audit: two-phase arrival-prefix running max
    "lateness_audit" -> (Events.latenessAudit _),
    // per-lang token-mass coverage at vocab cuts 64..512
    "vocab_coverage" -> (CorpusStats.vocabCoverage _),
    // Kneser-Ney smoothed held-out bigram LM (quarter-unit discount)
    "lm_kneser_ney" -> (CorpusStats.lmKneserNey _),
    // integer-quantized power iteration: top principal direction
    "pca_power" -> (Similarity.pcaPower _),
    // linear interpolation between hourly anchors (asof's slope twin)
    "interp_join" -> (Events.interpJoin _),
    // weekly exact p50/p90 value drift per type
    "quantile_drift" -> (Events.quantileDrift _),
    // WAU / trailing-4-week MAU stickiness ratio
    "stickiness" -> (Events.stickiness _),
    // HITS hubs/authorities, 2 mutual-reinforcement rounds
    "hits_scores" -> (Crawl.hitsScores _),
    // first-view -> first-purchase lag histogram (power-of-2 buckets)
    "conversion_lag" -> (Events.conversionLag _),
    // fixed-band RFM customer segmentation grid
    "rfm_segments" -> (Relational3.rfmSegments _),
    // percent_rank / cume_dist / ntile over nation-partitioned balances
    "analytic_ranks" -> (Relational2.analyticRanks _),
    // Newman degree assortativity of the link graph (1 row)
    "assortativity" -> (Crawl.assortativity _),
    // duplicate-cluster size power-law over the components closure
    "cluster_sizes" -> (Dedup.clusterSizes _),
    // reliability diagram: classifier score vs rule-gate pass rate
    "calibration_bins" -> (TextAnalysis.calibrationBins _),
    // sweep-line peak simultaneous 5-min holds per type
    "peak_concurrency" -> (Events.peakConcurrency _),
    // SRE multi-window SLO burn-rate alerting over hourly error share
    "slo_burn" -> (Events.sloBurn _),
    // two-phase deterministic global shuffle rank (md5 order)
    "corpus_shuffle" -> (Splits.corpusShuffle _),
    // top-20 most correlated embedding dimension pairs
    "dim_correlation" -> (Similarity.dimCorrelation _),
    // densest 10-word passage per query term in its top BM25 doc
    "best_snippet" -> (TfIdf.bestSnippet _),
    // foreign-key orphan audit per schema edge
    "fk_integrity" -> (Observability.fkIntegrity _),
    // drop-rate curve vs candidate watermark delays
    "watermark_sweep" -> (Events.watermarkSweep _),
    // multi-seed BFS reachability profile (4 levels)
    "bfs_layers" -> (Crawl.bfsLayers _),
    // --- round-10 eval additions ---
    // BLEU-2 clipped n-gram precision over keyed candidate/ref pairs
    "bleu_eval" -> (TextAnalysis.bleuEval _),
    // ROUGE-1/2 clipped n-gram recall + unigram F1 (same pair frame)
    "rouge_eval" -> (TextAnalysis.rougeEval _),
    // t-closeness: ordered-EMD distribution-disclosure audit
    "t_closeness" -> (Observability.tCloseness _),
    // --- round-11 eval addition ---
    // chrF2: character-n-gram F-score (tokenization-free eval leg)
    "chrf_eval" -> (TextAnalysis.chrfEval _),
    // WER: word-level edit distance via the single-byte re-encoding
    "wer_eval" -> (TextAnalysis.werEval _),
    // int8 symmetric scalar-quantization audit (sat + recon error)
    "int8_quant" -> (Similarity.int8Quant _),
    // rank-biased overlap between the sparse and dense tiers (x960)
    "rbo_overlap" -> (TfIdf.rboOverlap _),
    // RBO@5 recomputed in-row over staged top-5 arrays (the scale path)
    "rbo_inrow" -> (TfIdf.rboInRow _),
    // Count-Min sketch estimates audited against exact counts
    "cms_frequency" -> (CorpusStats.cmsFrequency _),
    // 1-Wasserstein length-distribution drift (mass-weighted KS twin)
    "wasserstein_drift" -> (CorpusStats.wassersteinDrift _),
    // per-lang Gini coefficient of source concentration
    "gini_concentration" -> (CorpusStats.giniConcentration _),
    // word2vec 3/4-power negative-sampling table (nested exact isqrt)
    "unigram_sampling" -> (CorpusStats.unigramSampling _),
    // MAP: AP@10 per query term on the mrr_eval ranking/truth
    "ap_eval" -> (TfIdf.apEval _),
    // CMS audit through the native cms_sketch aggregate
    "cms_native" -> (CorpusStats.cmsNative _),
    // join-size estimation from two CMS sketches (inner-product bound)
    "cms_join_size" -> (CorpusStats.cmsJoinSize _),
    // Newman modularity of the label_prop partition (1/(4m^2) units)
    "modularity" -> ((s, d) => GraphCuration.modularity(s, d)),
    // --- round-12 additions ---
    // paired-bootstrap "is system A better" vote (Koehn 2004)
    "eval_significance" -> (TextAnalysis.evalSignificance _),
    // deterministic structured image description (X11 template tier)
    "image_describe" -> (Multimodal.imageDescribe _),
    // cardinality audit through the graft-native HLL aggregate
    "hll_native" -> (Router.hllNative _),
    // frequency-octave Zipf spectrum of the vocabulary (bit-length bands)
    "zipf_bands" -> (CorpusStats.zipfBands _),
    // sketch reaggregation: per-lang HLL registers union == direct build
    "hll_union" -> (CorpusStats.hllUnion _),
    // cross-lang vocab overlap via native bottom-k (KMV) set sketches
    "kmv_overlap" -> (CorpusStats.kmvOverlap _),
    // cross-snapshot vocab novelty via KMV union/diff/merge set algebra
    "kmv_novelty" -> (CorpusStats.kmvNovelty _),
    // per-lang length quantiles via the native q-digest sketch tier
    "quantile_digest" -> (CorpusStats.quantileDigest _),
    // token-mass-weighted length quantiles (truncation-budget form)
    "quantile_weighted" -> (CorpusStats.quantileWeighted _),
    // WER recomputed in-row (compiled word DP — wer_eval's scale path)
    "wer_inrow" -> (TextAnalysis.werInRow _),
    // Benford leading-digit forensic audit (pinned reference table)
    "benford_deviation" -> (Observability.benfordDeviation _),
    // exact-rational skew/kurtosis of per-lang length distributions
    "moments_profile" -> (CorpusStats.momentsProfile _),
    // Dunning G² collocations — significance-tested PMI companion
    "llr_collocations" -> (TextAnalysis.llrCollocations _)
  )

  /** DuckDB-equivalent SQL per query (same tables, same column names). */
  def oracleSql: Map[String, String] = Oracles.all
}
