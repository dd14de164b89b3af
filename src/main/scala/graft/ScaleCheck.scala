package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10×-scale exercise for the heavy query families (VERDICT r5 item 7).
  *
  * The committed sf dirs top out at sf0.1; this tool manufactures an
  * R-times-larger corpus from sf0.1 and times the scale-bearing queries
  * at 1× vs R×, recording the wall-time ratio and whether the physical
  * plan shape survived the scale-up. The claim under test: the banded /
  * bucketed / fixpoint designs are ~linear in corpus size (≥10× data →
  * ≤~15× time, no plan flip to nested-loop / single-partition shapes).
  *
  * Replication is content-aware, not a blind copy, so the per-replica
  * workload matches the original's *shape*:
  *  - `documents.text` is letter-substituted per replica (a seeded
  *    permutation cipher since round 14 — see [[cipher]]; rounds ≤13
  *    used a Caesar rotation, whose period-26 breaks at the 100×
  *    tier). Every shingle/minhash/simhash token changes, so replicas
  *    share no near-dup pairs — duplicate DENSITY stays constant as
  *    the corpus grows (a blind copy would instead grow LSH candidate
  *    cliques quadratically in R, which is a different — and
  *    unrealistic — workload: real corpus growth adds new content,
  *    not R verbatim copies of everything).
  *  - ids (`doc_id`/`vec_id`/`c_custkey`) shift by r·10⁷ so keys stay
  *    unique and the knn queries' fixed query panel (vec_id < 16) keeps
  *    its size while the searched corpus grows R×: corpus-growth
  *    scaling, the production question.
  *  - all other tables are carried over as-is (the heavy families only
  *    read documents/embeddings/customer).
  *
  * Usage: runMain graft.ScaleCheck [outDir] [replicas]
  * Prints one line per query: name, 1× secs, R× secs, ratio, planStable
  * and a final JSON summary line.
  */
object ScaleCheck {
  private val Heavy = Seq(
    "minhash_lsh", "dedup_components", "dedup_canonical", "substring_dedup",
    "knn_ivf", "knn_pq_trained", "edit_distance_banded",
    // round-6 gram-heavy additions
    "span_clip", "phrase_search", "bag_dedup",
    // round-6 eval/audit wave: the new heaviest consumers — LSH-pair
    // rollup, threshold sweep over the verified pair frame, bounded
    // greedy MMR (corpus scan + k²-bounded rounds), bigram GroupTopK
    "source_overlap", "dedup_sweep", "mmr_diversify", "bigram_next",
    // round-8 word-explode additions: the Gopher gate's bigram GroupTopK
    // and the LM-score model × corpus join
    "gopher_rules", "lm_score",
    // round-9 composition wave: gram-keyed first-owner join, per-lang
    // vocabulary GroupTopK, lang-pair shingle contamination
    "ingest_novelty", "token_head_share", "crosslang_overlap",
    // round-9 graph-curation / boilerplate / eval waves: bucket-blocked
    // mutual-kNN + propagation (embeddings scale 10×), source-keyed
    // gram doc-frequency, GroupTopK-ranked BM25 eval, histogram CDFs
    "knn_graph", "label_prop", "boilerplate_ngrams", "boilerplate_strip",
    "mrr_eval", "ks_drift",
    // round-9 close-out wave: PRF mining + graded eval over the
    // replicated corpus; histogram-calibration + wordlist gates; the
    // two-phase lateness / survival / ACF family over replicated
    // events (10× users in the same observation window — organic
    // traffic growth, the production shape)
    "ndcg_eval", "query_expansion", "quantile_norm", "blocklist_filter",
    "lateness_audit", "survival_hazard", "autocorr_lag",
    // round-9 wave 3: KN model aggs over the replicated split, vocab
    // ranking over the (replica-rotated, so 10×) vocabulary, and the
    // power iteration's corpus-scan rounds over 10× vectors
    "lm_kneser_ney", "vocab_coverage", "pca_power",
    // round-9 wave 4: anchor interpolation / weekly quantile grids /
    // windowed-distinct decomposition over 10× events
    "interp_join", "quantile_drift", "stickiness",
    // round-9 waves 5-6: lag histogram over 10× events, fused analytic
    // window pass over 10× customers, components closure at 10× docs
    "conversion_lag", "analytic_ranks", "cluster_sizes",
    // round-9 wave 7: dual-scorer calibration join over 10× docs,
    // sweep-line + burn-rate grids over 10× events
    "calibration_bins", "peak_concurrency", "slo_burn",
    // round-9 wave 8: two-phase shuffle rank over 10× docs, d²-bounded
    // dim-pair moments over 10× vectors, snippet band join over 10× docs
    "corpus_shuffle", "dim_correlation", "best_snippet",
    // round-9 wave 9: the watermark sweep rides lateness_audit's
    // two-phase plan over 10× events
    "watermark_sweep",
    // round 10: orders now replicates (disjoint key bands per replica,
    // FK-consistent with the customer replicas), so the crawl link
    // graph genuinely grows R× — the graph fixpoint family is measured
    // on real graph growth (r9 verdict item 5); dup_attribution joins
    // cluster_sizes as the second components-closure consumer
    "kcore", "bfs_layers", "hits_scores", "dup_attribution",
    // round-10 eval addition: gram-keyed clip joins over 10× docs
    "bleu_eval",
    // round 11: rouge shares bleu's pairClipStats chain (recall
    // denominators differ — one run covers both claims); t_closeness's
    // staged QI×band grid over 10× customers
    "rouge_eval", "t_closeness",
    // round 11: char-gram clip joins over 10× docs (chrf), per-pair
    // word-vocab windows + levenshtein over 10× pairs (wer), one-pass
    // in-array quantization over 10× vectors (int8), posting-join +
    // brute tiers under the agreement join (rbo), constant-width
    // sketch vs 10× vocabulary (cms)
    "chrf_eval", "wer_eval", "int8_quant", "rbo_overlap", "cms_frequency",
    // round-11 wave 2: histogram-CDF windows over the 10× value grid
    // (w1), domain-sized Lorenz ranks (gini), corpus tokenize +
    // vocab agg under the ¾-power table (unigram)
    "wasserstein_drift", "gini_concentration", "unigram_sampling",
    // round-11 wave 4: MAP over the corpus tokenize + term ranking,
    // and the native-aggregate sketch build (constant shuffle payload)
    "ap_eval", "cms_native",
    // round-11 wave 5: community-quality aggs over the 10x kNN graph
    "modularity",
    // round 12: in-row pair clips + bounded replicate explode over 10×
    // pairs (significance), corpus tokenize + vocab-octave agg (zipf),
    // map-only template projection (describe — the linear control).
    // hll_native is OMITTED by design: it reads lineitem, which the
    // replicator carries over as-is, so a "10×" run would time the
    // same data; its constant-payload scale claim is the plan pin.
    "eval_significance", "zipf_bands", "image_describe",
    // round-12 wave 2: two native sketch builds over the staged
    // tokenized frame + the exact-distinct truth column (hll_union's
    // cost IS the countDistinct audit side, not the sketches)
    "hll_union",
    // round-12 wave 3: bottom-k set sketches + the word-keyed exact
    // pair join (the truth column) over the 10× vocabulary
    "kmv_overlap",
    // round-12 wave 4: wer_eval's in-row twin — the compiled word DP
    // replacing the per-pair vocab window (the family's one
    // super-linear 30× ratio); measure both to price the delta
    "wer_inrow",
    // round-12 wave 6: one-scan binomial power sums over 10× docs
    // (moments — the single-agg linear control), one-scan 9-group
    // digit tally + 9-row total window over 10× orders (benford).
    // cms_join_size is OMITTED like hll_native: its lineitem side is
    // carried over unreplicated, so a "10×" run would time a mixed
    // corpus; its constant-sketch-payload claim is the plan pin.
    "moments_profile", "benford_deviation",
    // round-12 wave 7: corpus tokenize into the staged pair-count
    // frame + domain-sized marginal aggs over 10× docs
    "llr_collocations",
    // round 13: rbo_overlap's in-row twin — staged top-5 arrays +
    // bounded prefix intersects replacing the agreement join; measure
    // both to price the delta (the wer_inrow discipline)
    "rbo_inrow",
    // round 13: two snapshot KMV sketch builds + union/diff scalars
    // over the staged distinct (snap, word) frame at 10× vocabulary
    "kmv_novelty",
    // round 13: per-lang + per-source q-digest builds (constant ≤24 KB
    // payloads) + the value-domain-bounded exact-rank audit over 10×
    // docs — the truth columns are the cost, the sketches are not
    "quantile_digest",
    // round 13: A3 extractive tier — staged tokenize into doc-keyed
    // passage/keyword aggs + two GroupTopK cuts over 10× docs
    "summary_extract",
    // round 13: mass-weighted digest build + weighted-histogram audit
    "quantile_weighted",
    // round 14: the LSH join-cost profile — one banding pass + a
    // (band,bkey)-keyed agg; prices the candidate join without
    // building it (pair mass must stay ~linear under the cipher
    // replication: constant duplicate density)
    "lsh_bucket_stats",
    // round 15: the formerly fixed-blocking pair, now adaptive
    // (cluster × count-derived sign-bucket) — tracked so a blocking
    // regression shows up as a ratio blowup, not a stopped run; plus
    // the band advisor (multi-r occupancy from one signature pass)
    "semdedup", "embedding_neardup", "lsh_band_advisor",
    // round 15: the simhash scale tier (Manku combination keys) and
    // the recall-buyback probe variant of the adaptive blocking
    "simhash_wide_neardup", "neardup_multiprobe")

  /** A graftpages crawl store as a (doc_id, text) corpus: doc_id is the
    * stable slug hash (xxhash64 — deterministic, collision-irrelevant
    * for profiling), text the page body. The hook that lets
    * [[gramProfile]] run over REAL crawled pages instead of synthetic
    * replicas (the r9 stop-list NO-GO was conditioned on exactly this
    * re-run).
    */
  def pagesDocs(spark: SparkSession, root: String): DataFrame =
    spark.read.format("graftpages").load(root)
      .select(xxhash64(col("slug")).as("doc_id"),
        coalesce(col("body"), lit("")).as("text"))

  /** Cross-doc 8-gram head profile over any (doc_id, text) corpus:
    * (n_cross_grams, total cross-doc occurrences, top-1000 gram
    * occurrences, top-1000 share in basis points). The probe-build
    * frame is exactly Dedup.substringDedupFrom's (nd >= 2 grams).
    */
  def gramProfile(docs: DataFrame): (Long, Long, Long, Long) = {
    val grams = graft.etl.Shingles.wordShingles(
        docs.select(col("doc_id"), col("text")), 8)
      .select(col("doc_id"), col("shingle"))
    val byGram = grams.groupBy(col("shingle"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .persist()
    try {
      val (nCross, totOcc) = byGram
        .agg(count(lit(1)), sum(col("n_occ"))).collect().head match {
          case r => (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        }
      val headOcc =
        if (nCross == 0) 0L
        else byGram.orderBy(col("n_occ").desc, col("shingle"))
          .limit(1000).agg(sum(col("n_occ"))).collect().head.getLong(0)
      val shareBp = if (totOcc == 0) 0L else 10000L * headOcc / totOcc
      (nCross, totOcc, headOcc, shareBp)
    } finally { byGram.unpersist(blocking = false); () }
  }

  /** Per-replica letter bijection. Round 14: a seeded PERMUTATION
    * cipher replaced the Caesar rotation — Caesar has period 26, so at
    * ≥26 replicas (the new 100× tier) replicas r and r+26 carried
    * IDENTICAL text under different ids: exact cross-replica
    * duplicates that grow LSH cliques quadratically in R, the
    * unrealistic workload the content-aware replication exists to
    * avoid. A permutation keyed by a fixed seed + r keeps every
    * replica's within-replica near-dup structure exactly (letter
    * bijection) while 26! ≫ R makes cross-replica shingle collisions
    * vanish. Replica 0 stays the identity (the base corpus verbatim).
    * Deterministic: same r → same permutation, every run — and since
    * round 15 across LIBRARY VERSIONS too: the permutation is a
    * self-contained Fisher-Yates over a splitmix64 stream keyed on r
    * (ADVICE r14 item 3 — `scala.util.Random.shuffle`'s algorithm is
    * library-defined, so a Scala upgrade would have silently re-texted
    * every replica, the same regeneration trap as the pre-r14 Caesar
    * corpora). CAVEAT: tiers recorded through round 14
    * (/tmp/graft_scale{10,30,100}) were generated with the old
    * Random.shuffle cipher; they remain valid (replication is skipped
    * when the dir exists), but REGENERATING one with r15+ code
    * produces different replica text — a new comparability epoch
    * (noted in BASELINE.md).
    */
  private def cipher(r: Int): (String, String) = {
    val a = "abcdefghijklmnopqrstuvwxyz"
    val perm =
      if (r == 0) a
      else {
        var s = 0xC0FFEEL ^ (r.toLong * 0x9E3779B97F4A7C15L)
        def next(): Long = {
          s += 0x9E3779B97F4A7C15L
          var z = s
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          z ^ (z >>> 31)
        }
        val arr = a.toCharArray
        var i = arr.length - 1
        while (i > 0) {
          val j = java.lang.Long.remainderUnsigned(next(), (i + 1).toLong).toInt
          val t = arr(i); arr(i) = arr(j); arr(j) = t
          i -= 1
        }
        new String(arr)
      }
    (a + a.toUpperCase, perm + perm.toUpperCase)
  }

  private def replicate(spark: SparkSession, base: String, out: String, reps: Int): Unit = {
    val shift = 10000000L
    // replica key bands are only disjoint while every shifted key fits
    // under the shift — pointing base at a big-SF corpus (sf10 orders
    // reach ~6·10⁷) would silently alias replicas into each other and
    // void both the FK-consistency and residue-band claims (ADVICE
    // r10). Fail loudly instead.
    val maxKey = Seq(
      "documents" -> "doc_id", "embeddings" -> "vec_id",
      "customer" -> "c_custkey", "events" -> "event_id",
      "events" -> "user_id", "orders" -> "o_orderkey",
      "orders" -> "o_custkey")
      .map { case (t, k) =>
        val m = Tables(spark, base, t).agg(max(col(k)).cast("long")).collect().head
        (s"$t.$k", if (m.isNullAt(0)) 0L else m.getLong(0))
      }.maxBy(_._2)
    require(maxKey._2 < shift,
      s"replicate: ${maxKey._1} max ${maxKey._2} >= shift $shift — " +
        "replica key bands would overlap; raise the shift")
    def union(name: String, f: (DataFrame, Int) => DataFrame): Unit = {
      val src = Tables(spark, base, name)
      val all = (0 until reps).map(r => f(src, r)).reduce(_.unionAll(_))
      all.write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    union("documents", (df, r) => {
      val (from, to) = cipher(r)
      df.select(
        (col("doc_id") + lit(r * shift)).as("doc_id"),
        translate(col("text"), from, to).as("text"),
        col("lang"), col("source"), col("n_chars"))
    })
    union("embeddings", (df, r) =>
      df.select((col("vec_id") + lit(r * shift)).as("vec_id"),
        col("embedding"), col("label")))
    union("customer", (df, r) => {
      val (from, to) = cipher(r)
      df.select((col("c_custkey") + lit(r * shift)).as("c_custkey"),
        translate(col("c_name"), from, to).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    })
    // events: replica r adds a disjoint user population with shifted
    // event ids in the SAME observation window — organic traffic
    // growth (10× users, constant span), which scales the per-user /
    // per-chunk shuffles while the bounded day/hour grids stay bounded
    // (exactly the posture claim under test). `ts` is carried verbatim
    // (whatever encoding is on disk, Tables.withNanosTs re-adapts).
    union("events", (df, r) =>
      df.select((col("event_id") + lit(r * shift)).as("event_id"),
        col("ts"), (col("user_id") + lit(r * shift)).as("user_id"),
        col("event_type"), col("value"), col("props")))
    // orders: replica r shifts BOTH keys by the same offset as its
    // customer replica, so per-replica FK integrity holds and
    // Crawl.edges' (o_custkey mod C, o_orderkey mod C) derivation sees
    // an R×-node, R×-edge link graph (each replica's keys land in a
    // distinct residue band of the R×-larger modulus) — real graph
    // growth for the kcore/bfs/hits fixpoints, not a remapped
    // constant-size graph (round 10; before this, orders was carried
    // verbatim and the graph family couldn't be scale-checked).
    union("orders", (df, r) =>
      df.select((col("o_orderkey") + lit(r * shift)).as("o_orderkey"),
        (col("o_custkey") + lit(r * shift)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")))
    // Remaining tables: carried over untouched (heavy families don't read
    // them, but the loaders expect the full layout to exist).
    Tables.names.filterNot(
        Set("documents", "embeddings", "customer", "events", "orders")).foreach { t =>
      Tables(spark, base, t).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }

  /** Physical plan signature: the ordered multiset of operator names from
    * simple-mode explain, with stats-dependent numbers stripped. Stable
    * across a data-size change iff Catalyst picked the same strategy
    * (e.g. broadcast didn't silently flip to sort-merge, or a hash join
    * to nested loop).
    */
  private def planSig(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
      .linesIterator
      // operator name only: arguments carry input paths / stats / expr
      // ids that legitimately differ between the 1× and R× dirs
      .map(_.replaceAll("^[\\s:+*-]+", "").takeWhile(c => c.isLetterOrDigit))
      .filter(_.nonEmpty)
      .mkString("\n")

  /** Timed reps per (query, dir) after the warmup. Bulk sweeps keep
    * min-of-2; SPARK_GRAFT_SCALE_REPS=1 when a corpus is so large a
    * second rep buys noise reduction the run can't afford. Round-16
    * measurement policy (VERDICT r15 item 5): any NEW row cited as
    * round evidence in BASELINE.md runs SPARK_GRAFT_SCALE_REPS=3 and
    * reports the MEDIAN — min-under-few-reps produced r15's wave-8
    * 30×>100× inversion and two weather-contaminated first attempts.
    */
  private val TimedReps = {
    val r = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    require(r >= 1, s"SPARK_GRAFT_SCALE_REPS must be >= 1, got $r " +
      "(0 would run the expensive warmup and then crash on an empty min)")
    r
  }

  /** Median at >= 3 samples (the evidence-row policy), min below it.
    * TRUE median for even counts (ADVICE r16): the two middle samples
    * average — sorted(n/2) alone is the upper-middle element.
    */
  private def central(samples: Seq[Double]): Double =
    if (samples.length >= 3) {
      val s = samples.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    } else samples.min

  /** [[TimedReps]] samples of `run` after one untimed warmup
    * (codegen/JIT), for the modes that time one operator over a fixed
    * corpus. Memos stay warm: the incremental mode times merges over a
    * memoized pair checkpoint.
    */
  private def warmSamples(spark: SparkSession)(run: => Unit): Seq[Double] = {
    run
    Harness.timedReps(spark, TimedReps, keepMemo = true)(run)
  }

  private def time(spark: SparkSession, name: String, dir: String)
      : (Double, String, Map[String, Int]) = {
    def once(): Unit = Harness.materialize(SparkEntry.queries(name)(spark, dir))
    Harness.scrub(spark, keepMemo = false); once() // warmup rep: codegen/JIT, parquet footers
    graft.etl.Fixpoint.lastRounds.clear()
    val secs = central(Harness.timedReps(spark, TimedReps, keepMemo = false)(once()))
    // dynamic-fixpoint round counts recorded by the timed runs — the
    // round-growth evidence for the O(log diameter) claim
    import scala.jdk.CollectionConverters._
    val rounds = graft.etl.Fixpoint.lastRounds.asScala.toMap
    Harness.scrub(spark, keepMemo = false)
    (secs, planSig(SparkEntry.queries(name)(spark, dir)), rounds)
  }

  def main(args: Array[String]): Unit = {
    val base = "/root/testdata/sf0.1"
    val out = if (args.length > 0) args(0) else "/tmp/graft_scale10"
    val reps = if (args.length > 1) args(1).toInt else 10
    val spark = GraftSession.local()

    // gramprofile accepts EXTERNAL corpora (r9 verdict item 7): `pages`
    // treats args(0) as a graftpages store root instead of a
    // documents.parquet dir — never replicate into either.
    val mode = if (args.length > 2) args(2) else ""
    val pagesMode = mode == "gramprofile" && args.length > 3 && args(3) == "pages"
    if (!pagesMode &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/documents.parquet"))) {
      println(s"[scale] generating ${reps}x corpus at $out ...")
      replicate(spark, base, out, reps)
    }

    def fmt(v: Double): String = f"$v%.2f"

    // Head-gram frequency profile (VERDICT r8 item 6): the number the
    // deferred substring_dedup stop-list decision waits on. Over the
    // given corpus, take the cross-doc gram frame (distinct-doc
    // count >= 2 — exactly the probe build side of
    // Dedup.substringDedupFrom) and measure what share of the probe's
    // MATCH traffic (total occurrences of cross-doc grams) the top-1000
    // grams own. A boilerplate-dominated corpus concentrates here and
    // would justify a stop-list; a flat profile says the saturating
    // curve is genuine.
    //
    // CLI paths (so the r9 NO-GO can be revisited with one command when
    // real data shows up):
    //   ScaleCheck <dir> <reps> gramprofile        — <dir>/documents.parquet
    //     (a ScaleCheck replica dir OR any external parquet with
    //     doc_id/text; replication is skipped when the file exists)
    //   ScaleCheck <root> 1 gramprofile pages      — a graftpages store
    //     (the crawl pipeline's own output: slug/body -> doc_id/text)
    if (mode == "gramprofile") {
      val docs =
        if (pagesMode) pagesDocs(spark, out)
        else Tables(spark, out, "documents").select(col("doc_id"), col("text"))
      val (nCross, totOcc, headOcc, shareBp) = gramProfile(docs)
      println(s"""{"metric":"gram_profile","replicas":$reps,"source":"${if (pagesMode) "graftpages" else "documents"}","n_cross_grams":$nCross,"cross_occurrences":$totOcc,"head1000_occurrences":$headOcc,"head1000_share_bp":$shareBp}""")
      spark.stop()
      return
    }

    // Bucket-bits scaling demonstration for the mutual-kNN graph: the
    // verified query pins bits=3 (8 cells, oracle-matched); at 10× the
    // fixed cell count makes within-cell pairs grow ~quadratically
    // (ratio ≈ 4.5). Growing bits with the corpus (the documented
    // production knob, Similarity.signBucket) must restore ~linear
    // wall — this measures both settings on the same 10× corpus.
    if (args.length > 2 && args(2) == "knnbits") {
      import graft.etl.GraphCuration
      // optional 4th arg "auto": time ONLY the adaptive setting — the
      // 100× tier's form, where the fixed bits=3 control is known-
      // quadratic (≈10⁴× the 1× within-cell pairs) and deliberately
      // not run; its quadratic-growth evidence is the 10× table
      def t(dir: String, bits: Int): Double = warmSamples(spark)(
        Harness.materialize(GraphCuration.knnGraphEdges(spark, dir, bits))).min
      val autoOnly = args.length > 3 && args(3) == "auto"
      // since round 10 the knob derives itself: AutoBits reads the
      // corpus count and picks ceil(log2(n/1000)) — record what it
      // chose at each scale alongside the manual settings it replaces
      val auto1 = GraphCuration.adaptiveBits(Tables.embeddings(spark, base).count())
      val autoR = GraphCuration.adaptiveBits(Tables.embeddings(spark, out).count())
      val settings =
        if (autoOnly) Seq("auto" -> GraphCuration.AutoBits)
        else Seq("bits3" -> 3, "bits6" -> 6, "auto" -> GraphCuration.AutoBits)
      val r = (settings.map { case (tag, b) =>
        val (t1, tR) = (t(base, b), t(out, b))
        val lbl = if (b == GraphCuration.AutoBits) s"auto($auto1->$autoR)" else s"bits=$b"
        println(f"[scale] knn_graph $lbl%-14s 1x=${fmt(t1)}%6ss ${reps}x=${fmt(tR)}%6ss ratio=${fmt(tR / t1)}")
        s""""$tag":{"t1":${fmt(t1)},"tR":${fmt(tR)},"ratio":${fmt(tR / t1)}}"""
      } :+ {
        // label_prop inherits the pair stage — time its adaptive path too
        def lp(dir: String): Double = warmSamples(spark)(Harness.materialize(
          GraphCuration.labelProp(spark, dir, GraphCuration.AutoBits))).min
        val (l1, lR) = (lp(base), lp(out))
        println(f"[scale] label_prop auto($auto1->$autoR) 1x=${fmt(l1)}%6ss ${reps}x=${fmt(lR)}%6ss ratio=${fmt(lR / l1)}")
        s""""label_prop_auto":{"t1":${fmt(l1)},"tR":${fmt(lR)},"ratio":${fmt(lR / l1)}},"auto_bits":{"b1":$auto1,"bR":$autoR}"""
      }).mkString("{", ",", "}")
      println(s"""{"metric":"knn_graph_bits","replicas":$reps,"results":$r}""")
      spark.stop()
      return
    }

    // Skew-salting evidence for the banded LSH join (round 15, VERDICT
    // r14 stretch 7): measure the slow-tier (band, bkey) occupancy
    // profile on the given corpus — max bucket, buckets over the
    // threshold, their pair-mass share — then time minhashLshFrom with
    // salting OFF vs ON at that threshold. If no bucket clears the
    // threshold the run documents salting as measured-unnecessary for
    // this corpus; the InvariantSpec pair-set proof holds either way.
    //   ScaleCheck <dir> <reps> saltcheck [threshold]
    if (args.length > 2 && args(2) == "saltcheck") {
      import graft.etl.Dedup
      val thr = if (args.length > 3) args(3).toInt else 32
      val docs = Tables(spark, out, "documents").select(col("doc_id"), col("text"))
      val occ = Dedup.minhashSignature(docs, 8)
        .select(explode(array(Dedup.bandStructs(8, 2, Dedup.md5BandKey): _*)).as("bs"))
        .groupBy(col("bs.band"), col("bs.bkey"))
        .agg(count(lit(1)).as("c"))
      val prof = occ.agg(max(col("c")).as("max_c"),
        sum(expr("(c * (c - 1)) div 2")).as("pair_mass"),
        sum(when(col("c") > thr, lit(1)).otherwise(lit(0))).as("hot_buckets"),
        sum(when(col("c") > thr, expr("(c * (c - 1)) div 2"))
          .otherwise(lit(0L))).as("hot_pair_mass")).collect().head
      def t(thrOpt: Int): Double = warmSamples(spark)(
        Harness.materialize(Dedup.minhashLshFrom(docs, saltThreshold = thrOpt))).min
      val (tOff, tOn) = (t(Int.MaxValue), t(thr))
      println(f"[scale] saltcheck max_c=${prof.getLong(0)} hot=${prof.getLong(2)} off=${fmt(tOff)}s on=${fmt(tOn)}s")
      println(s"""{"metric":"salt_check","dir":"$out","threshold":$thr,"max_bucket":${prof.getLong(0)},"total_pair_mass":${prof.getLong(1)},"hot_buckets":${prof.getLong(2)},"hot_pair_mass":${prof.getLong(3)},"t_off":${fmt(tOff)},"t_on":${fmt(tOn)}}""")
      spark.stop()
      return
    }

    // BPE rank scaling (round 18, VERDICT r17 item 4): run the merge
    // loop at a production-ish rank over the given corpus and publish
    // PER-ROUND wall — the per-round plan is rank-invariant (one
    // vocab-sized pair aggregate + a 1-row broadcast rewrite), so the
    // claim under test is a flat per-round profile (total linear in R).
    // The oracle-verified R=3 queries are untouched; this measures the
    // generalized knob. Learned merges print decoded (sentinels
    // expanded through earlier rounds) — the merges.txt a tokenizer
    // would ship.
    //   ScaleCheck <dir> <reps> bpe [rank]
    if (args.length > 2 && args(2) == "bpe") {
      import graft.etl.CorpusStats
      val rank = if (args.length > 3) args(3).toInt else 16
      val t0 = System.nanoTime()
      val picks = CorpusStats.bpeLearnedPicksR(spark, out, rank)
      val rows = picks.map(_.collect().head) // bounded: rank × 1-row frames
      val total = (System.nanoTime() - t0) / 1e9
      val secs = CorpusStats.lastBpeRoundSecs
      val sent = CorpusStats.sentinelAlphabet(rank)
      val decoded = new Array[String](rank)
      rows.zipWithIndex.foreach { case (r, i) =>
        var p = r.getString(1)
        ((i - 1) to 0 by -1).foreach { j => p = p.replace(sent(j), decoded(j)) }
        decoded(i) = p
      }
      val perRound = rows.zipWithIndex.map { case (r, i) =>
        println(f"[scale] bpe round ${i + 1}%2d pair=${JsonOut.quote(decoded(i))} n=${r.getLong(2)} wall=${fmt(secs(i))}s")
        s"""{"round":${i + 1},"pair":${JsonOut.quote(decoded(i))},"n":${r.getLong(2)},"secs":${fmt(secs(i))}}"""
      }.mkString("[", ",", "]")
      println(s"""{"metric":"bpe_rank","dir":"$out","rank":$rank,"total_secs":${fmt(total)},"rounds":$perRound}""")
      spark.stop()
      return
    }

    // Synthetic hot-key skew proof for the gram stage (round 19,
    // VERDICT r18 item 2; guide §2.5): plant ONE 8-gram in EVERY
    // document (append a fixed 8-word phrase to each doc of the
    // replica corpus, null text read as empty so no doc is skipped —
    // the phrase gram is corpus-hot, the boundary
    // grams stay doc-specific) and time substring_dedup + span_clip on
    // the uniform vs hot corpora. substring_dedup's distinct-doc count
    // rides a count window partitioned by gram — a window partition
    // cannot be AQE-split, so this measures whether the hot gram's
    // (g, doc) rows serialize one task; span_clip's cross-doc agg is a
    // partial-aggregating countDistinct, the control shape. The digit
    // words cannot collide with cipher output (letters only), and
    // n_chars is deliberately left stale — neither query reads it.
    //   ScaleCheck <dir> <reps> hotgram
    if (args.length > 2 && args(2) == "hotgram") {
      val hotDir = out + "_hot"
      val phrase = " zq0 zq1 zq2 zq3 zq4 zq5 zq6 zq7"
      if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$hotDir/documents.parquet"))) {
        println(s"[scale] generating hot-gram corpus at $hotDir ...")
        Tables(spark, out, "documents")
          .withColumn("text", concat(coalesce(col("text"), lit("")), lit(phrase)))
          .write.mode("overwrite").parquet(s"$hotDir/documents.parquet")
        Tables.names.filterNot(_ == "documents").foreach { t =>
          Tables(spark, out, t).write.mode("overwrite")
            .parquet(s"$hotDir/$t.parquet")
        }
      }
      val r = Seq("substring_dedup", "span_clip").map { q =>
        val (tU, _, _) = time(spark, q, out)
        val (tH, _, _) = time(spark, q, hotDir)
        println(f"[scale] hotgram $q%-18s uniform=${fmt(tU)}%6ss hot=${fmt(tH)}%6ss ratio=${fmt(tH / tU)}")
        s""""$q":{"t_uniform":${fmt(tU)},"t_hot":${fmt(tH)},"ratio":${fmt(tH / tU)}}"""
      }.mkString(",")
      println(s"""{"metric":"hotgram_skew","replicas":$reps,"results":{$r}}""")
      spark.stop()
      return
    }

    // Incremental-closure evidence (round 18, VERDICT r17 item 1):
    // does the delta merge cost scale with the DELTA, not the corpus?
    // Two axes, one run: (a) at each tier, merge-given-a-prebuilt-prior
    // vs the full recompute (the per-snapshot production price); (b) at
    // the SAME corpus, a 10× smaller delta (mod 100 vs mod 10 residue)
    // — merge cost must follow the delta pair count while the corpus is
    // unchanged. The banding pass is warmed OUT of every timing (both
    // paths read the same memoized pair checkpoint; production reads a
    // signature store).
    //   ScaleCheck <dir> <reps> incremental
    if (args.length > 2 && args(2) == "incremental") {
      import graft.etl.{Dedup, Fixpoint, Memos}
      def med(f: => Unit): Double = central(warmSamples(spark)(f))
      val results = Seq("base" -> base, "scaled" -> out).map { case (tag, dir) =>
        Memos.clearAll()
        val pairs = Dedup.minhashLsh(spark, dir) // memoized checkpoint scan
        val nPairs = pairs.count()
        val tFull = med(Harness.materialize(Dedup.dedupComponentsFrom(pairs)))
        val mods = Seq(10, 100).map { m =>
          val priorPairs = pairs
            .filter(col("doc_a") % m =!= 0 && col("doc_b") % m =!= 0)
          val deltaPairs = pairs
            .filter(col("doc_a") % m === 0 || col("doc_b") % m === 0)
          val nDelta = deltaPairs.count()
          // the stored snapshot artifact: built once, NOT in the timing
          val prior = Dedup.dedupComponentsFrom(priorPairs)
          val tMerge = med(Harness.materialize(Dedup.mergeDeltaIntoClosure(prior, deltaPairs)))
          val rounds = Fixpoint.lastRounds.getOrDefault("components_closure", 0)
          println(f"[scale] incremental $tag mod=$m pairs=$nPairs delta=$nDelta full=${fmt(tFull)}s merge=${fmt(tMerge)}s rounds=$rounds")
          s""""mod$m":{"n_delta_pairs":$nDelta,"t_merge":${fmt(tMerge)},"merge_rounds":$rounds}"""
        }.mkString(",")
        s""""$tag":{"dir":"$dir","n_pairs":$nPairs,"t_full":${fmt(tFull)},$mods}"""
      }.mkString("{", ",", "}")
      println(s"""{"metric":"incremental_closure","replicas":$reps,"results":$results}""")
      spark.stop()
      return
    }

    // accept any SparkEntry query name, not only the Heavy list — the
    // 100× tier names its family members explicitly on the CLI
    val chosen = if (args.length > 2) args.drop(2).toSeq else Heavy
    Harness.requireKnown(chosen)
    val rows = chosen.map { q =>
      val (t1, p1, r1) = time(spark, q, base)
      val (tR, pR, rR) = time(spark, q, out)
      val stable = p1 == pR
      val rounds = (r1.keySet ++ rR.keySet).toSeq.sorted
        .map(k => (k, r1.getOrElse(k, 0), rR.getOrElse(k, 0)))
      val roundsNote = rounds.map { case (k, a, b) => s"  rounds[$k]=$a->$b" }.mkString
      println(f"[scale] $q%-22s 1x=${fmt(t1)}%6ss  ${reps}x=${fmt(tR)}%6ss  ratio=${fmt(tR / t1)}%5s  planStable=$stable$roundsNote")
      if (!stable) {
        val (l1, lR) = (p1.linesIterator.toSeq, pR.linesIterator.toSeq)
        val only1 = l1.diff(lR).distinct
        val onlyR = lR.diff(l1).distinct
        println(s"[scale]   plan diff: 1x-only=${only1.mkString(",")} ${reps}x-only=${onlyR.mkString(",")}")
      }
      (q, t1, tR, stable, rounds)
    }
    val js = rows.map { case (q, t1, tR, st, rounds) =>
      val rj = rounds.map { case (k, a, b) => s""","rounds_$k":[$a,$b]""" }.mkString
      s""""$q":{"t1":${fmt(t1)},"tR":${fmt(tR)},"ratio":${fmt(tR / t1)},"plan_stable":$st$rj}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_check","replicas":$reps,"queries":$js}""")
    spark.stop()
  }
}
