package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.GroupTopK

/** Corpus-level duplication and vocabulary reports — the curation
  * dashboards a training-data pipeline runs before a training mix is
  * frozen (the reference's crawl-statistics report,
  * commands/extract.md:92-155 / DESIGN.md:729-764, generalized from
  * per-crawl counts to corpus-wide text statistics).
  */
object CorpusStats {

  /** Duplicate 3-gram rate per document: the share (integer basis
    * points) of a doc's DISTINCT 3-shingles that occur in at least one
    * other document — the cross-document boilerplate signal used to
    * down-weight template-heavy pages.
    *
    * Plan: distinct (doc, shingle) pairs → per-shingle doc counts
    * (two-phase hash agg) → join back on shingle → per-doc fraction.
    * Keyed shuffles only, no window, no quadratic step. The pair
    * stream is derived twice (the two consumers aggregate on different
    * keys, so Spark cannot reuse one exchange); at 100 TB materialize
    * the distinct pair table once (checkpoint or staging table) and
    * run both aggregations from it — same shapes, one shingling pass.
    * The tempting single-shuffle groupBy(shingle).collect_set(doc)
    * variant is rejected deliberately: a boilerplate shingle shared by
    * millions of docs turns its set into a task-killing array, while
    * counts stay O(1) per key under map-side combine.
    */
  def dupNgramRate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = Shingles.wordShingles(docs, 3)
      .select(col("doc_id"), col("shingle")).distinct()
    val byShingle = pairs.groupBy(col("shingle"))
      .agg(count(lit(1)).as("n_docs"))
    val perDoc = pairs.join(byShingle, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_dup"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(expr("(10000 * n_dup) div n_shingles"), lit(0L)).as("dup_bp"))
      .orderBy("doc_id")
  }

  /** Training-mix planner: per-language sampling rates that flatten
    * the corpus toward a uniform per-language token budget — the
    * mix-rebalancing step run before a training set is frozen (cap
    * over-represented languages at their fair share, keep the rest at
    * 100%). Entirely integer basis-point math so both engines agree
    * bit-for-bit; the two corpus scalars (total tokens, language
    * count) are a 1-row broadcast. At 100 TB this is a map +
    * one |langs|-row agg — the rates then drive a shuffle-free
    * hash-sample filter (Splits.hashBucket).
    */
  def mixWeights(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("t"))
      .groupBy(col("lang")).agg(sum(col("t")).as("n_tokens"))
    val tot = toks.agg(sum(col("n_tokens")).as("total"),
      count(lit(1)).as("n_langs"))
    toks.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_tokens"),
        expr("(10000 * n_tokens) div total").as("share_bp"),
        least(lit(10000L),
          expr("(10000 * (total div n_langs)) div n_tokens")).as("rate_bp"))
      .withColumn("expected_tokens", expr("(n_tokens * rate_bp) div 10000"))
      .orderBy("lang")
  }

  /** Temperature-scaled training mix (α = 0.5): per-language sampling
    * shares ∝ sqrt(token mass) — the standard multilingual rebalance
    * (mBERT/XLM-R exponentiated smoothing; DoReMi's fixed-α baseline)
    * that up-weights tail languages without flattening to uniform the
    * way [[mixWeights]]'s cap does. sqrt is computed as an EXACT
    * integer square root (floor(sqrt(double)) plus a ±1 correction
    * step — n_tokens < 2^52 so the double seed is off by at most one),
    * keeping the whole query in integer basis-point math that both
    * engines agree on bit-for-bit.
    *
    * Scale posture: identical to [[mixWeights]] — one lang-keyed
    * partial agg, a 1-row broadcast of the two corpus totals, then a
    * map-side projection. uplift_bp > 0 marks languages the α=0.5
    * temperature boosts above their proportional share.
    */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("t"))
      .groupBy(col("lang")).agg(sum(col("t")).as("n_tokens"))
    val s0 = floor(sqrt(col("n_tokens").cast("double"))).cast("long")
    val s1 = when(s0 * s0 > col("n_tokens"), s0 - 1).otherwise(s0)
    val isqrt = when((s1 + 1) * (s1 + 1) <= col("n_tokens"), s1 + 1)
      .otherwise(s1)
    val weighted = toks.withColumn("w", isqrt)
    val tot = weighted.agg(sum(col("n_tokens")).as("total"),
      sum(col("w")).as("total_w"))
    weighted.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_tokens"), col("w"),
        expr("(10000 * n_tokens) div total").as("prop_bp"),
        expr("(10000 * w) div total_w").as("temp_bp"))
      .withColumn("uplift_bp", col("temp_bp") - col("prop_bp"))
      .orderBy("lang")
  }

  /** Domain-mix drift monitor — the observability half of the mixing
    * story ([[mixWeights]] prescribes rates; this MEASURES divergence):
    * per language, the token-mass share p vs the document-count share q
    * and the resulting KL(p‖q) / entropy contributions. KL(p‖q) > 0
    * flags domains whose documents run longer than the corpus average
    * (token mass concentrating beyond what doc counts suggest) — the
    * drift a mixture-weighted sampler must correct for (DoReMi, Xie et
    * al. 2023, reweights on exactly this token-vs-intended-mass gap).
    *
    * Determinism: shares are exact BIGINT basis points; the ln() terms
    * follow the repo's irrational-value rule (TfIdf precedent) —
    * IDENTICAL double formulas both engines, rounded to 4dp.
    *
    * Scale posture: one lang-keyed partial agg + a 1-row broadcast —
    * the same shape as mixWeights.
    */
  def mixDrift(spark: SparkSession, dir: String): DataFrame = {
    val byLang = Tables.documents(spark, dir)
      .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("t"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"))
    val tot = byLang.agg(sum(col("n_docs")).as("td"),
      sum(col("n_tokens")).as("tt"))
    byLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        expr("(10000 * n_tokens) div tt").as("p_bp"),
        expr("(10000 * n_docs) div td").as("q_bp"),
        expr("""round((CAST(n_tokens AS DOUBLE) / tt) *
                ln((CAST(n_tokens AS DOUBLE) * td) /
                   (CAST(n_docs AS DOUBLE) * tt)), 4)""").as("kl_term"),
        expr("""round(-(CAST(n_tokens AS DOUBLE) / tt) *
                ln(CAST(n_tokens AS DOUBLE) / tt), 4)""").as("entropy_term"))
      .orderBy("lang")
  }

  /** Vocabulary-coverage audit: per-language out-of-vocabulary token
    * rate against a candidate top-256 corpus vocabulary — the
    * tokenizer-sizing check run before freezing a vocab (reference's
    * extraction stats generalized; companions: [[bpeTrain]] builds the
    * subword merges, this measures what a word-level vocab of a given
    * budget would miss, per language — the signal that decides vocab
    * size and language-specific budget splits). All integer basis
    * points.
    *
    * Vocab selection orders by (count DESC, word ASC) — a total order,
    * so the cut at 256 is deterministic in both engines.
    *
    * Scale posture: one word-keyed hash agg (map-side combined) for
    * counts, a bounded global top-256 (TakeOrdered — never a full
    * sort), vocab broadcast back, then a lang-keyed agg: the coverage
    * join is map-side against a 256-entry build side.
    */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(Shingles.wordArray(col("text"))).as("word"))
    val vocab = broadcast(toks.groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc).limit(256)
      .select(col("word").as("vword")))
    toks.join(vocab, col("word") === col("vword"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("vword").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_bp", expr("(10000 * n_oov) div n_tokens"))
      .orderBy("lang")
  }

  /** Epoch allocator under the data-constrained scaling recipe
    * (Muennighoff et al. 2023: repeating data holds near-full value up
    * to ~4 epochs): a training budget of 4× the corpus, split
    * uniformly per source, each source capped at R_max = 4 epochs of
    * its own tokens. Emits the per-source allocation, the realized
    * repeat factor (basis points: 10000 = one epoch), and the SPILL —
    * budget a capped source returns to the pool, i.e. the input to
    * the next water-filling round a production allocator would run.
    * Entirely integer arithmetic.
    *
    * Scale posture: one source-keyed agg + a 1-row broadcast of the
    * two corpus scalars — [[mixWeights]]'s shape.
    */
  def epochMix(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), TextAnalysis.tokenCount(col("text")).as("t"))
      .groupBy(col("source")).agg(sum(col("t")).as("n_tokens"))
    val tot = toks.agg(sum(col("n_tokens")).as("total"),
      count(lit(1)).as("n_src"))
    toks.crossJoin(broadcast(tot))
      .withColumn("alloc_tokens", expr("(4 * total) div n_src"))
      .withColumn("used_tokens",
        least(col("alloc_tokens"), expr("4 * n_tokens")))
      .select(col("source"), col("n_tokens"), col("alloc_tokens"),
        expr("(10000 * used_tokens) div n_tokens").as("repeat_bp"),
        col("used_tokens"),
        (col("alloc_tokens") - col("used_tokens")).as("spill_tokens"))
      .orderBy("source")
  }

  /** Heaps-law vocabulary growth: the corpus split into 10 doc-id
    * deciles — tokens contributed and NEW distinct words first seen in
    * each decile, with running totals. "First seen" is min(doc_id) per
    * word (one hash shuffle on word, map-side combined). The running
    * totals run over the FIXED 10-bucket axis via a broadcast
    * triangular join, not a global window — the axis never grows with
    * the corpus, so there is no single-partition funnel anywhere. The
    * scalar max(doc_id) is a 1-row broadcast.
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val maxDoc = docs.agg(max(col("doc_id")).as("max_doc"))
    def bucketed(df: DataFrame, idCol: String): DataFrame =
      df.crossJoin(broadcast(maxDoc))
        .withColumn("bucket", expr(s"($idCol * 10) div (max_doc + 1)"))
    val words = Shingles.words(docs).select(col("doc_id"), col("word"))
    val tokens = bucketed(words, "doc_id")
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_tokens"))
    val firstSeen = words.groupBy(col("word")).agg(min(col("doc_id")).as("first_doc"))
    val newWords = bucketed(firstSeen, "first_doc")
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new_words"))
    val perBucket = tokens.join(newWords, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("n_new_words"), lit(0L)).as("n_new_words"))
    val cum = perBucket.select(col("bucket").as("b2"),
      col("n_tokens").as("t2"), col("n_new_words").as("w2"))
    perBucket.join(broadcast(cum), col("b2") <= col("bucket"))
      .groupBy(col("bucket"))
      .agg(min(col("n_tokens")).as("n_tokens"),
        sum(col("t2")).as("cum_tokens"),
        min(col("n_new_words")).as("n_new_words"),
        sum(col("w2")).as("cum_vocab"))
      .orderBy("bucket")
  }

  /** BPE tokenizer-training kernel (one merge iteration): the 20 most
    * frequent adjacent character pairs, weighted by word frequency —
    * exactly the statistic byte-pair encoding maximizes when it picks
    * its next merge. The corpus collapses to the word-frequency table
    * first (vocabulary-sized, tiny next to the corpus), so the
    * quadratic-ish pair explosion runs over distinct words only; pair
    * counts are one hash aggregate; top-20 is TakeOrdered. Repeating
    * this query with a merged vocab is the full BPE training loop.
    */
  /** The FULL BPE training loop [[bpePairs]] is one iteration of: 3
    * merge rounds, each picking the globally most frequent adjacent
    * pair and rewriting the vocabulary with it. The key encoding
    * trick: tokens stay packed as STRINGS with each learned merge
    * represented by a sentinel char (u0001..u0003), because merging
    * a token pair in BPE's greedy left-to-right order is EXACTLY
    * non-overlapping `replace` — which both engines implement
    * identically, so the whole training loop is oracle-exact. The
    * corpus collapses to the word-frequency table first (vocab-sized);
    * each round is one pair aggregate + a 1-row broadcast rewrite, and
    * the vocab is localCheckpoint'ed per round (fixpoint rule: persist
    * alone would nest the prior round's plan — CLAUDE.md). Output: the
    * learned merge table (round, decoded pair, weighted count) —
    * sentinels expanded back through the earlier merges, exactly what
    * a tokenizer ships as merges.txt. Production scales rounds to 30k
    * with the identical per-round plan.
    */
  private val Sentinels = Seq("\u0001", "\u0002", "\u0003")

  /** The 3 learned merges as 1-row (round, pair, n) frames — shared by
    * [[bpeTrain]] (the merge table) and [[bpeEncode]] (corpus
    * tokenization). Pairs may contain earlier rounds' sentinels. Round
    * r picks the globally most frequent adjacent pair of the current
    * vocabulary and rewrites it to sentinel r. Each round is one
    * vocab-sized pair aggregate + TakeOrdered(1) + a 1-row broadcast
    * rewrite, vocab localCheckpoint'ed per round (the fixpoint lineage
    * rule); the round count lands in Fixpoint.lastRounds("bpe_merges").
    */
  private def bpeLearnedPicks(spark: SparkSession, dir: String): Vector[DataFrame] = {
    def topPair(wf: DataFrame, round: Int): DataFrame = {
      val pairCol = transform(sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))
      wf.filter(length(col("word")) >= 2)
        .select(explode(pairCol).as("pair"), col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(1)
        .select(lit(round).as("round"), col("pair"), col("n"))
    }
    // wf rounds are scope locals; the returned picks go to reliable
    // checkpoints — callers read them lazily, and nothing may stay
    // pinned after this returns (round-10 lifecycle rule)
    Fixpoint.scoped { scope =>
      var wf = scope.local(Shingles.words(
          Tables.documents(spark, dir).select(col("doc_id"), col("text")))
        .groupBy(col("word")).agg(count(lit(1)).as("freq")))
      var picks = Vector.empty[DataFrame]
      for (r <- 1 to Sentinels.size) {
        val top = Fixpoint.reliably(topPair(wf, r))
        picks :+= top
        // sentinel-free words are injective under replace: no re-group
        wf = scope.local(
          wf.crossJoin(broadcast(top.select(col("pair").as("mp"))))
            .select(replace(col("word"), col("mp"),
              lit(Sentinels(r - 1))).as("word"), col("freq")))
      }
      Fixpoint.lastRounds.put("bpe_merges", Sentinels.size)
      picks
    }
  }

  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val sentinels = Sentinels
    val picks = bpeLearnedPicks(spark, dir)
    val all = picks.reduce(_ unionByName _)
    val p1 = broadcast(picks(0).select(col("pair").as("p1")))
    val p2 = broadcast(picks(1).select(col("pair").as("p2")))
    all.crossJoin(p1).crossJoin(p2)
      .select(col("round"),
        when(col("round") === 1, col("pair"))
          .when(col("round") === 2,
            replace(col("pair"), lit(sentinels(0)), col("p1")))
          .otherwise(
            replace(replace(col("pair"), lit(sentinels(1)), col("p2")),
              lit(sentinels(0)), col("p1"))).as("merge_pair"),
        col("n"))
      .orderBy("round")
  }

  /** Corpus TOKENIZATION under the learned merges — the other half of
    * the tokenizer story [[bpeTrain]] trains for: apply the 3 merges
    * IN TRAINING ORDER to every word of every document (the same
    * sentinel-replace encoding, so per-word token count = encoded
    * string length) and report per-document token counts and the
    * compression the merges bought. Two in-array folds per doc (char
    * count, encoded count) — a pure map over the corpus joined to the
    * 1-row learned pairs; no shuffle beyond the output sort. At 30k
    * merges production compiles the merge table into a trie/regex pass
    * per word; the per-word replace chain here IS that semantics at
    * rank 3.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val picks = bpeLearnedPicks(spark, dir)
    val p1 = broadcast(picks(0).select(col("pair").as("p1")))
    val p2 = broadcast(picks(1).select(col("pair").as("p2")))
    val p3 = broadcast(picks(2).select(col("pair").as("p3")))
    def encoded(w: Column): Column =
      replace(replace(replace(w, col("p1"), lit(Sentinels(0))),
        col("p2"), lit(Sentinels(1))), col("p3"), lit(Sentinels(2)))
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .crossJoin(p1).crossJoin(p2).crossJoin(p3)
      .select(col("doc_id"),
        aggregate(Shingles.wordArray(col("text")), lit(0L),
          (a, w) => a + length(w)).as("n_chars"),
        aggregate(Shingles.wordArray(col("text")), lit(0L),
          (a, w) => a + length(encoded(w))).as("n_tokens"))
      .withColumn("ratio_bp",
        when(col("n_chars") > 0,
          expr("(10000 * n_tokens) div n_chars")).otherwise(lit(null)))
      .orderBy("doc_id")
  }

  /** Tokenizer fertility per language: symbols-per-word under the
    * learned merge table — the multilingual-fairness metric (a
    * tokenizer trained on a skewed mix spends more symbols per word on
    * under-represented languages, inflating their effective sequence
    * length and training cost). chars_per_word is the no-merge
    * baseline; saved_bp is how much the learned merges compress each
    * language — the parity gap a vocab-budget split must correct.
    * Same learned picks as [[bpeEncode]] (3-round merge table,
    * 1-row broadcasts); one lang-keyed agg over the word stream.
    */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val picks = bpeLearnedPicks(spark, dir)
    val p1 = broadcast(picks(0).select(col("pair").as("p1")))
    val p2 = broadcast(picks(1).select(col("pair").as("p2")))
    val p3 = broadcast(picks(2).select(col("pair").as("p3")))
    def encoded(w: Column): Column =
      replace(replace(replace(w, col("p1"), lit(Sentinels(0))),
        col("p2"), lit(Sentinels(1))), col("p3"), lit(Sentinels(2)))
    Tables.documents(spark, dir)
      .select(col("lang"), explode(Shingles.wordArray(col("text"))).as("word"))
      .crossJoin(p1).crossJoin(p2).crossJoin(p3)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("bigint")).as("n_chars"),
        sum(length(encoded(col("word"))).cast("bigint")).as("n_symbols"))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_symbols"),
        expr("(10000 * n_chars) div n_words").as("chars_per_word_bp"),
        expr("(10000 * n_symbols) div n_words").as("symbols_per_word_bp"))
      .withColumn("saved_bp",
        col("chars_per_word_bp") - col("symbols_per_word_bp"))
      .orderBy("lang")
  }

  /** Tokenization ROUND-TRIP proof: encode the word stream under the
    * learned merge table, decode it back (sentinel→pair in reverse
    * rank order), and emit the decoded text — which the oracle
    * reconstructs as simply the filtered words re-joined. Losslessness
    * holds structurally (sentinels are non-corpus characters, so each
    * backward replace exactly inverts its forward replace); a training
    * pipeline runs this check because a tokenizer that drops or
    * reorders bytes silently corrupts every downstream sample. Pure
    * map over the corpus joined to the 1-row merge table.
    */
  def bpeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val picks = bpeLearnedPicks(spark, dir)
    val p1 = broadcast(picks(0).select(col("pair").as("p1")))
    val p2 = broadcast(picks(1).select(col("pair").as("p2")))
    val p3 = broadcast(picks(2).select(col("pair").as("p3")))
    val jw = array_join(Shingles.wordArray(col("text")), " ")
    def s(i: Int) = lit(Sentinels(i))
    val enc = replace(replace(replace(jw, col("p1"), s(0)),
      col("p2"), s(1)), col("p3"), s(2))
    val dec = replace(replace(replace(enc, s(2), col("p3")),
      s(1), col("p2")), s(0), col("p1"))
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .crossJoin(p1).crossJoin(p2).crossJoin(p3)
      .select(col("doc_id"), dec.as("decoded_text"),
        (dec === jw).as("ok"))
      .orderBy("doc_id")
  }

  /** Conditional next-word table: top-3 successors per head word by
    * bigram frequency — the n-gram-LM building block ([[prefixTopk]]
    * completes prefixes, [[TextAnalysis.collocations]] scores PMI;
    * this is the raw conditional-frequency table a bigram LM, a
    * type-ahead ranker, or a template detector reads). Bigrams come
    * from the 2-shingle ARRAY (pure map, no per-word window); the
    * rank<=3 cap rides RewriteRankFilterToGroupTopK so per-head state
    * is O(3), never a sort of a stopword's successor list.
    */
  def bigramNext(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(spark, dir)
      .select(explode(Shingles.shingleArray(col("text"), 2)).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"))
    val counts = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
    GroupTopK.topK(counts, 3, "rank", Seq("w1"), col("n").desc, col("w2").asc)
      .select(col("w1"), col("rank"), col("w2"), col("n"))
      .orderBy("w1", "rank")
  }

  /** Count-Min sketch frequency audit (Cormode & Muthukrishnan 2005):
    * build the d=4 × w=256 sketch over the corpus word stream, then
    * measure what the sketch would ANSWER against the exact counts —
    * per heavy word, the CMS estimate min_j cell(j, h_j(word)) and its
    * overestimate (CMS errors are one-sided: est ≥ exact always; the
    * paper bounds the excess by εN = (e/w)·N with probability
    * 1 − e^−d). This is the audit a streaming counting tier runs
    * before trusting sketch answers: if the top words' overestimates
    * are small relative to their counts, the 4·256-cell state can
    * replace the vocab-sized exact table.
    *
    * Determinism: the row hashes are the engine-portable md5 analog
    * ([[TextAnalysis.dsirWeights]]'s discipline — first 8 md5 hex
    * chars of j||word as an integer, mod 256), so both engines build
    * bit-identical sketches; everything else is integer counting.
    *
    * Scale posture: one corpus scan → vocab-keyed exact counts
    * (map-side combine does the heavy lifting), staged once locally
    * (the 4-bucket projection feeds BOTH the cell build and the
    * estimate join); the cell frame is 4×256 = 1024 rows → broadcast
    * back onto the vocab; the top-20 surface rides
    * TakeOrderedAndProject (per-partition heads, no global sort). The
    * sketch itself is the POINT at 100 TB: cell state is constant-
    * sized while the exact table grows with the vocabulary.
    */
  /** The d=4 (row, bucket) cells one word hashes into — the
    * engine-portable md5-analog row hashes shared by the batch build
    * ([[cmsFrequency]]) and the streaming twin
    * ([[graft.streaming.StreamingOps.streamingCmsCells]]), extracted
    * so the two sketches cannot silently diverge (the
    * watermark-sweep shared-core discipline).
    */
  def cmsBuckets: Column = expr(
    """transform(sequence(1, 4), j -> named_struct(
      |  'rw', j,
      |  'bucket', CAST(conv(substring(md5(concat(CAST(j AS STRING), word)), 1, 8), 16, 10) AS BIGINT) % 256))"""
      .stripMargin)

  /** Frequency-spectrum (Zipf's-law) audit of the corpus vocabulary —
    * the classic rank-frequency log-log plot folded into exact integer
    * frequency OCTAVES: band b holds the words whose count c sits in
    * [2^b, 2^(b+1)), i.e. b = floor(log2 c), computed WITHOUT
    * floating log as length(bin(c)) − 1 (bit-length, exact in both
    * engines). Under Zipf s = 1 the word count per octave halves
    * band-over-band while each octave's token mass stays roughly
    * constant — a corpus whose spectrum bulges (synthetic/boilerplate
    * floods a band) or truncates (aggressive dedup ate the tail) shows
    * it immediately. Complements [[vocabGrowth]] (Heaps' law, vocab vs
    * tokens) and [[tokenHeadShare]] (head concentration) with the full
    * spectrum shape; per band: distinct words, token mass, min/max
    * frequency, and the mass share in bp.
    *
    * Scale posture: one corpus-scan word count (the
    * [[cmsFrequency]] tier), then everything runs on the VOCAB-sized
    * count frame — band assignment is a map expression (no global
    * rank, no window, no sort: the octave trick replaces the
    * rank-based Zipf plot precisely because exact global rank would
    * need a vocab-wide total order); the band agg has ≤ ~40 groups
    * with map-side partials, the 1-row total broadcasts.
    */
  def zipfBands(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.scoped { scope =>
      val wc = Shingles.words(
          Tables.documents(spark, dir).select(col("doc_id"), col("text")))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
      // staged once: the ≤~40-row band frame feeds BOTH the total and
      // the share join — without the checkpoint each branch re-nests
      // the corpus scan (the survival_hazard lesson)
      val bands = scope.local(wc
        .withColumn("band", (length(bin(col("c"))) - 1).cast("int"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_words"), sum(col("c")).as("mass"),
          min(col("c")).as("f_min"), max(col("c")).as("f_max")))
      val total = bands.agg(sum(col("mass")).as("total_mass"))
      Fixpoint.reliably(bands.crossJoin(broadcast(total))
        .withColumn("mass_bp", expr("(10000 * mass) div total_mass"))
        .select(col("band"), col("n_words"), col("mass"), col("f_min"),
          col("f_max"), col("mass_bp"))
        .orderBy("band"))
    }

  /** Sketch REAGGREGATION audit — the property that makes a sketch
    * tier worth deploying at 100 TB: per-slice sketches union into the
    * global sketch WITHOUT rescanning data (daily register files →
    * monthly distincts; per-tenant → fleet). Build the vocabulary HLL
    * two ways — (a) directly over all words, (b) per-language register
    * files merged by elementwise max — and pin in-engine that the two
    * register files are IDENTICAL (merge associativity made visible as
    * a verified boolean, not just a unit test), plus the usual
    * error-band flag against the exact distinct count
    * ([[graft.etl.Router.hllNative]]'s 10% discipline).
    *
    * Scale posture: the tokenized (lang, word) frame is staged once
    * and feeds both builds; each native agg shuffles constant 4 KB
    * register files per partition; the merge folds ≤ |langs| arrays on
    * one combined row (interpreted HOF over a domain-bounded list —
    * NOT a hot path); the exact countDistinct beside them is the
    * audit's truth column, dropped in production. Output is one row.
    */
  def hllUnion(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HllSketchFunctions.{hllEstimate, hllSketch}
    Fixpoint.scoped { scope =>
      // lang is coalesced to 'und' on BOTH sides (here and the oracle's
      // coalesce(lang,'und')): Spark's groupBy includes a NULL-lang group
      // while SQL count(DISTINCT lang) skips NULLs — a latent off-by-one
      // in n_langs if the corpus ever carries a null lang (r12 ADVICE).
      val words = scope.local(Tables.documents(spark, dir)
        .select(coalesce(col("lang"), lit("und")).as("lang"),
          explode(Shingles.wordArray(col("text"))).as("word")))
      val byLang = words.groupBy(col("lang"))
        .agg(hllSketch(col("word")).as("regs"))
      val merged = byLang
        .agg(count(lit(1)).as("n_langs"),
          collect_list(col("regs")).as("all_regs"))
        .withColumn("union_regs",
          aggregate(col("all_regs"),
            array_repeat(lit(0).cast("byte"), lit(4096)),
            (acc, x) => zip_with(acc, x, (a, b) => greatest(a, b))))
      val direct = words.agg(hllSketch(col("word")).as("direct_regs"),
        countDistinct(col("word")).as("exact_words"))
      Fixpoint.reliably(merged.crossJoin(broadcast(direct))
        .withColumn("union_eq_direct",
          col("union_regs") === col("direct_regs"))
        .withColumn("__est", hllEstimate(col("union_regs")))
        .withColumn("approx_ok",
          expr("abs(__est - exact_words) * 10000 <= 1000 * exact_words"))
        .select(col("n_langs"), col("exact_words"), col("union_eq_direct"),
          col("approx_ok")))
    }
  }

  /** Cross-corpus distinct-overlap audit through the native KMV
    * sketch ([[graft.functions.KmvSketchAgg]]) — the set-algebra
    * question the sketch tier exists for: how much does each
    * language's vocabulary overlap each other's, WITHOUT a
    * distinct-join, from 8 KB bottom-k sketches per slice. Per
    * unordered language pair: the exact vocab sizes and exact common
    * count (the audit's truth columns, recomputed by the oracle) plus
    * two in-engine band flags — cardinality estimates within
    * 10% + 32, intersection estimate within (|A|+|B|)/10 + 64
    * (generous vs the 1/√k ≈ 3% sketch contract; a broken merge/hash
    * produces garbage far outside either). Estimates are EXACT
    * whenever a slice's vocab stays UNDER k = 1024 (the un-full
    * sketch holds the whole set; exactly k fills it and switches
    * estimators) — the oracle-side TRUE is then a certainty, not a
    * band ([[crosslangOverlap]] audits the same question exactly via
    * shingles; this is its sketch-tier answer).
    *
    * Scale posture: the distinct (lang, word) frame is staged once
    * and feeds the sketch agg (constant ≤ 8 KB per partition up the
    * tree), the per-lang exact counts, and the word-keyed exact-common
    * join; the pair frame is |langs|² rows of sketch arrays —
    * broadcast-sized by construction. At 100 TB the exact columns
    * drop and ONLY sketches move.
    */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.KmvSketchFunctions.{kmvCommon, kmvEstimate, kmvSketch}
    Fixpoint.scoped { scope =>
      val lw = scope.local(Tables.documents(spark, dir)
        .select(col("lang"),
          explode(Shingles.wordArray(col("text"))).as("word"))
        .distinct())
      val byLang = scope.local(lw.groupBy(col("lang"))
        .agg(kmvSketch(col("word")).as("sk"),
          count(lit(1)).as("exact_n")))
      val pairsExact = lw.as("a")
        .join(lw.as("b"),
          col("a.word") === col("b.word") && col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
        .agg(count(lit(1)).as("exact_common"))
      val pairs = byLang.as("x")
        .join(broadcast(byLang.as("y")), col("x.lang") < col("y.lang"))
        .select(col("x.lang").as("lang_a"), col("y.lang").as("lang_b"),
          col("x.sk").as("sk_a"), col("y.sk").as("sk_b"),
          col("x.exact_n").as("exact_a"), col("y.exact_n").as("exact_b"))
      Fixpoint.reliably(pairs
        .join(pairsExact, Seq("lang_a", "lang_b"), "left")
        .withColumn("exact_common", coalesce(col("exact_common"), lit(0L)))
        .withColumn("__ea", kmvEstimate(col("sk_a")))
        .withColumn("__eb", kmvEstimate(col("sk_b")))
        .withColumn("__ec", kmvCommon(col("sk_a"), col("sk_b")))
        .withColumn("card_ok",
          expr("abs(__ea - exact_a) * 10 <= exact_a + 320 AND " +
            "abs(__eb - exact_b) * 10 <= exact_b + 320"))
        .withColumn("common_ok",
          expr("abs(__ec - exact_common) * 10 <= exact_a + exact_b + 640"))
        .select(col("lang_a"), col("lang_b"), col("exact_a"),
          col("exact_b"), col("exact_common"), col("card_ok"),
          col("common_ok"))
        .orderBy("lang_a", "lang_b"))
    }
  }

  /** Cross-SNAPSHOT vocabulary novelty through the full KMV set
    * algebra — the north-star question the sketch tier exists for
    * (cross-snapshot dedup / mined-out detection): ingest the corpus
    * in two halves by arrival order (doc_id ≤ max÷2 = snapshot A, rest
    * = snapshot B, the [[ingestNovelty]] arrival convention) and ask
    * what B brought that A didn't have — WITHOUT a distinct-join,
    * from two 8 KB sketches. Completes [[kmvOverlap]]'s intersection
    * with the union and difference surfaces
    * ([[graft.functions.KmvSketch.unionEstimate]]/
    * [[graft.functions.KmvSketch.diffEstimate]]/
    * [[graft.functions.KmvSketch.mergeSketches]]): |A∪B| = estimate(merge),
    * |B∖A| = |B| − |A∩B| — inclusion–exclusion closed over sketches.
    *
    * Verified columns are the exact twins (the oracle recomputes
    * them) plus three in-engine booleans: `merge_eq_direct` pins the
    * LOSSLESS-rollup property cell-for-cell (merge of the two
    * snapshot sketches is array-identical to the sketch built over
    * the whole corpus — bottom-k of a union is the bottom-k of the
    * bottom-ks; the property that makes daily→monthly sketch rollups
    * free), `union_ok`/`new_ok` band the estimates against exact
    * (the [[hllUnion]] discipline; exact whenever a side's mass
    * stays UNDER k = 1024).
    *
    * Scale posture: ONE tokenize into a distinct (snap, word) frame,
    * staged locally for its three readers (per-snap sketches+counts,
    * direct union sketch+count); everything downstream is 1-row
    * frames crossJoin-broadcast together — at 100 TB only the
    * constant ≤ 8 KB sketches and per-partition partial counts move.
    *
    * Degenerate corpora (a single doc, one empty snapshot) still emit
    * the 1-row shape the oracle's scalar CTEs produce: the snapshot
    * pivot is a conditional aggregation whose missing side coalesces
    * to an empty sketch + 0 count (empty sketches are valid KMV values
    * — estimate 0, lossless merge identity).
    */
  def kmvNovelty(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.KmvSketchFunctions.{kmvDiff, kmvMerge, kmvSketch, kmvUnion}
    Fixpoint.scoped { scope =>
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val mid = docs.agg(expr("max(doc_id) div 2").as("mid"))
      val sw = scope.local(docs.crossJoin(broadcast(mid))
        .select(when(col("doc_id") <= col("mid"), lit("a")).otherwise(lit("b"))
          .as("snap"),
          explode(Shingles.wordArray(col("text"))).as("word"))
        .distinct())
      val bySnap = sw.groupBy(col("snap"))
        .agg(kmvSketch(col("word")).as("sk"), count(lit(1)).as("n"))
      // ONE conditional aggregation pivots the ≤2 snapshot rows onto a
      // single row — an empty snapshot degrades to an empty sketch and
      // a 0 count instead of vanishing the output row (the oracle's
      // scalar CTEs always emit exactly 1 row; r13 review finding)
      val ab = bySnap.agg(
        coalesce(first(when(col("snap") === "a", col("sk")),
          ignoreNulls = true), typedLit(Array.empty[Long])).as("sk_a"),
        coalesce(first(when(col("snap") === "a", col("n")),
          ignoreNulls = true), lit(0L)).as("exact_a"),
        coalesce(first(when(col("snap") === "b", col("sk")),
          ignoreNulls = true), typedLit(Array.empty[Long])).as("sk_b"),
        coalesce(first(when(col("snap") === "b", col("n")),
          ignoreNulls = true), lit(0L)).as("exact_b"))
      // the direct whole-corpus sketch: kmv dedups by hash, so the
      // snap-duplicated rows need no second distinct
      val direct = sw.agg(kmvSketch(col("word")).as("sk_u"),
        countDistinct(col("word")).as("exact_union"))
      Fixpoint.reliably(ab.crossJoin(broadcast(direct))
        .withColumn("exact_new", col("exact_union") - col("exact_a"))
        .withColumn("merge_eq_direct",
          kmvMerge(col("sk_a"), col("sk_b")) === col("sk_u"))
        .withColumn("__eu", kmvUnion(col("sk_a"), col("sk_b")))
        .withColumn("__en", kmvDiff(col("sk_b"), col("sk_a")))
        .withColumn("union_ok",
          expr("abs(__eu - exact_union) * 10 <= exact_union + 320"))
        .withColumn("new_ok",
          expr("abs(__en - exact_new) * 10 <= exact_a + exact_b + 640"))
        .select(col("exact_a"), col("exact_b"), col("exact_union"),
          col("exact_new"), col("merge_eq_direct"), col("union_ok"),
          col("new_ok")))
    }
  }

  /** Per-language document-length QUANTILES through the native q-digest
    * sketch ([[graft.functions.QdigestSketchAgg]]) — the fourth sketch
    * tier's verified query: p50/p90/p99 length from ≤24 KB digests per
    * slice instead of a per-slice sort, the "what does this corpus's
    * length distribution look like" primitive a curation tier asks per
    * snapshot (truncation budgets, packing bin sizing, outlier gates).
    *
    * Verified columns are the EXACT quantiles (histogram rank
    * selection — the median_price discipline, recomputed by the
    * oracle on the same clamped [0, 2^16) domain) plus four in-engine
    * booleans: ok50/ok90/ok99 assert the digest estimate is a valid
    * ε-approximate quantile — count(< est) < target + εn AND
    * count(≤ est) ≥ target − εn with the GUARANTEED worst-case slack
    * εn = 16n/1024 ([[graft.functions.QdigestSketch.rankSlack]]) —
    * deterministically TRUE under any merge order because the bound
    * is worst-case, not probabilistic (the two-sided form is the
    * correct band when a single heavy value straddles the target —
    * a one-sided |rank−target| check would false-alarm on it);
    * merge_ok asserts the same for p50 answered from per-SOURCE
    * digests folded with qdigest_merge — the Mergeable-Summaries
    * reaggregation that makes daily→monthly percentiles free at
    * 100 TB.
    *
    * Scale posture: ONE (lang, source, len) scan staged for its three
    * readers (digest agg, exact histogram, estimate-rank recount);
    * digests shuffle ≤24 KB per partition; the exact histogram and
    * its per-lang cumulative window are value-domain-bounded
    * (≤65 536 rows per lang) — audit truth columns, dropped in
    * production where ONLY digests move.
    */
  def quantileDigest(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.QdigestSketchFunctions.{qdigestMerge, qdigestQuantile, qdigestSketch}
    Fixpoint.scoped { scope =>
      val lens = scope.local(Tables.documents(spark, dir)
        .select(coalesce(col("lang"), lit("und")).as("lang"), col("source"),
          expr("least(greatest(n_chars, 0), 65535)").cast("bigint").as("len")))
      // sk is read by the exact-rank join AND the estimate projection;
      // est by the rank recount AND the final join — both are
      // lang-domain-bounded, so stage them (the bounded-frame rule:
      // each extra branch otherwise re-nests the digest aggregation)
      val sk = scope.local(lens.groupBy(col("lang"))
        .agg(qdigestSketch(col("len")).as("sk"), count(lit(1)).as("n")))
      // exact per-lang quantiles: value-histogram + cumulative ranks
      val hist = lens.groupBy(col("lang"), col("len")).agg(count(lit(1)).as("c"))
      val cum = hist.withColumn("cum",
        sum(col("c")).over(Window.partitionBy(col("lang")).orderBy(col("len"))))
      def tgt(q: Int) = expr(s"($q * n + 9999) div 10000")
      val ex = cum.join(broadcast(sk.select(col("lang"), col("n"))), Seq("lang"))
        .groupBy(col("lang"))
        .agg(min(when(col("cum") >= tgt(5000), col("len"))).as("p50"),
          min(when(col("cum") >= tgt(9000), col("len"))).as("p90"),
          min(when(col("cum") >= tgt(9900), col("len"))).as("p99"))
      // per-source digests folded through qdigest_merge (reagg surface)
      val merged = lens.groupBy(col("lang"), col("source"))
        .agg(qdigestSketch(col("len")).as("ssk"))
        .groupBy(col("lang")).agg(collect_list(col("ssk")).as("sks"))
        .select(col("lang"),
          aggregate(col("sks"), lit(Array.empty[Long]),
            (acc, x) => qdigestMerge(acc, x)).as("msk"))
      val est = scope.local(sk.join(broadcast(merged), Seq("lang"))
        .select(col("lang"), col("n"),
          qdigestQuantile(col("sk"), lit(5000)).as("e50"),
          qdigestQuantile(col("sk"), lit(9000)).as("e90"),
          qdigestQuantile(col("sk"), lit(9900)).as("e99"),
          qdigestQuantile(col("msk"), lit(5000)).as("m50")))
      // true ranks of the estimates (strict and inclusive counts)
      def lt(e: String) = sum(when(col("len") < col(e), 1L).otherwise(0L))
      def le(e: String) = sum(when(col("len") <= col(e), 1L).otherwise(0L))
      val ranks = lens.join(broadcast(est), Seq("lang"))
        .groupBy(col("lang"))
        .agg(lt("e50").as("lt50"), le("e50").as("le50"),
          lt("e90").as("lt90"), le("e90").as("le90"),
          lt("e99").as("lt99"), le("e99").as("le99"),
          lt("m50").as("ltm"), le("m50").as("lem"))
      def ok(q: Int, ltc: String, lec: String) =
        (col(ltc) < tgt(q) + expr("16 * n div 1024 + 1")) &&
          (col(lec) >= tgt(q) - expr("16 * n div 1024 + 1"))
      Fixpoint.reliably(est.join(broadcast(ex), Seq("lang"))
        .join(broadcast(ranks), Seq("lang"))
        .select(col("lang"), col("n"), col("p50"), col("p90"), col("p99"),
          ok(5000, "lt50", "le50").as("ok50"),
          ok(9000, "lt90", "le90").as("ok90"),
          ok(9900, "lt99", "le99").as("ok99"),
          ok(5000, "ltm", "lem").as("merge_ok"))
        .orderBy("lang"))
    }
  }

  /** TOKEN-MASS-weighted length quantiles through the weighted q-digest
    * ([[graft.functions.QdigestSketchWeightedAgg]]) — the truncation-
    * budget question [[quantileDigest]]'s doc-count form can't answer:
    * "below what document length sits half the corpus's TOKEN mass".
    * A long tail of huge documents moves these far from the doc-count
    * percentiles, and it is the mass form that prices a truncation or
    * packing policy (tokens lost, not docs touched). Weight = word
    * count; value = clamped n_chars; same exact-twin + guaranteed-band
    * discipline, with the band in MASS units (slack = 16·W/1024).
    *
    * Scale posture: one (lang, len, wt) scan staged for its three
    * readers; constant ≤24 KB digests; the weighted histogram/window
    * audit columns are value-domain-bounded and drop in production.
    */
  def quantileWeighted(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.QdigestSketchFunctions.{qdigestQuantile, qdigestSketchWeighted}
    Fixpoint.scoped { scope =>
      val d = scope.local(Tables.documents(spark, dir)
        .select(coalesce(col("lang"), lit("und")).as("lang"),
          expr("least(greatest(n_chars, 0), 65535)").cast("bigint").as("len"),
          size(Shingles.wordArray(col("text"))).cast("bigint").as("wt")))
      val sk = scope.local(d.groupBy(col("lang"))
        .agg(qdigestSketchWeighted(col("len"), col("wt")).as("sk"),
          sum(col("wt")).as("w_total")))
      val hist = d.groupBy(col("lang"), col("len")).agg(sum(col("wt")).as("c"))
      val cum = hist.withColumn("cum",
        sum(col("c")).over(Window.partitionBy(col("lang")).orderBy(col("len"))))
      def tgt(q: Int) = expr(s"($q * w_total + 9999) div 10000")
      val ex = cum.join(broadcast(sk.select(col("lang"), col("w_total"))),
          Seq("lang"))
        .groupBy(col("lang"))
        .agg(min(when(col("cum") >= tgt(5000), col("len"))).as("p50w"),
          min(when(col("cum") >= tgt(9000), col("len"))).as("p90w"))
      val est = scope.local(sk.select(col("lang"), col("w_total"),
        qdigestQuantile(col("sk"), lit(5000)).as("e50"),
        qdigestQuantile(col("sk"), lit(9000)).as("e90")))
      val ranks = d.join(broadcast(est), Seq("lang"))
        .groupBy(col("lang"))
        .agg(sum(when(col("len") < col("e50"), col("wt")).otherwise(0L)).as("lt50"),
          sum(when(col("len") <= col("e50"), col("wt")).otherwise(0L)).as("le50"),
          sum(when(col("len") < col("e90"), col("wt")).otherwise(0L)).as("lt90"),
          sum(when(col("len") <= col("e90"), col("wt")).otherwise(0L)).as("le90"))
      def ok(q: Int, ltc: String, lec: String) =
        (col(ltc) < tgt(q) + expr("16 * w_total div 1024 + 1")) &&
          (col(lec) >= tgt(q) - expr("16 * w_total div 1024 + 1"))
      Fixpoint.reliably(est.join(broadcast(ex), Seq("lang"))
        .join(broadcast(ranks), Seq("lang"))
        .select(col("lang"), col("w_total"), col("p50w"), col("p90w"),
          ok(5000, "lt50", "le50").as("ok50w"),
          ok(9000, "lt90", "le90").as("ok90w"))
        .orderBy("lang"))
    }
  }

  def cmsFrequency(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.scoped { scope =>
      val wc = Shingles.words(
          Tables.documents(spark, dir).select(col("doc_id"), col("text")))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
      val wb = scope.local(wc.select(col("word"), col("c"),
          explode(cmsBuckets).as("rb"))
        .select(col("word"), col("c"),
          col("rb.rw").as("rw"), col("rb.bucket").as("bucket")))
      val cells = wb.groupBy(col("rw"), col("bucket"))
        .agg(sum(col("c")).as("cell"))
      Fixpoint.reliably(wb.join(broadcast(cells), Seq("rw", "bucket"))
        .groupBy(col("word"))
        .agg(max(col("c")).as("exact"), min(col("cell")).as("est_cms"))
        .withColumn("over_count", col("est_cms") - col("exact"))
        .select(col("word"), col("exact"), col("est_cms"), col("over_count"))
        .orderBy(col("exact").desc, col("word").asc)
        .limit(20))
    }

  /** The Count-Min audit of [[cmsFrequency]] rebuilt through the NATIVE
    * sketch aggregate ([[graft.functions.CmsSketchAgg]], a
    * TypedImperativeAggregate): the whole corpus folds into ONE
    * 1024-long buffer — each task sketches its partition locally and
    * the partials merge elementwise up the aggregation tree, so the
    * shuffle moves exactly 1024 longs per partition regardless of
    * vocabulary size (the relational build shuffles a vocab-sized
    * count frame first; at 100 TB the aggregate form is the one a
    * streaming/counting service deploys). Cells are bit-identical to
    * [[cmsFrequency]]'s by construction (same portable md5 row
    * hashes), so the audit output — and the DuckDB oracle — are
    * exactly cms_frequency's.
    */
  def cmsNative(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CmsSketchFunctions.cmsSketch
    Fixpoint.scoped { scope =>
      val words = Shingles.words(
          Tables.documents(spark, dir).select(col("doc_id"), col("text")))
        .select(col("word"))
      val cells = words.agg(cmsSketch(col("word")).as("cells"))
        .select(posexplode(col("cells")))
        .select((expr("pos div 256") + 1).as("rw"),
          (col("pos") % 256).cast("bigint").as("bucket"),
          col("col").as("cell"))
      val wb = scope.local(words.groupBy(col("word"))
        .agg(count(lit(1)).as("c"))
        .select(col("word"), col("c"), explode(cmsBuckets).as("rb"))
        .select(col("word"), col("c"),
          col("rb.rw").as("rw"), col("rb.bucket").as("bucket")))
      Fixpoint.reliably(wb.join(broadcast(cells), Seq("rw", "bucket"))
        .groupBy(col("word"))
        .agg(max(col("c")).as("exact"), min(col("cell")).as("est_cms"))
        .withColumn("over_count", col("est_cms") - col("exact"))
        .select(col("word"), col("exact"), col("est_cms"), col("over_count"))
        .orderBy(col("exact").desc, col("word").asc)
        .limit(20))
    }
  }

  /** Equi-join CARDINALITY estimation from two Count-Min sketches —
    * the sketch inner product (Cormode & Muthukrishnan 2005 §4.2):
    * |A ⋈_k B| = Σ_k c_A(k)·c_B(k), and row j of the product
    * Σ_b cellA[j,b]·cellB[j,b] counts every true pair exactly plus
    * non-negative collision cross-terms, so the min over the d=4 rows
    * is a one-sided-HIGH estimate with E[overshoot] ≤ n_A·n_B/w per
    * row. The production use is sizing a join BEFORE running it
    * (broadcast-vs-shuffle admission, skew alarms, quota checks): the
    * two sides never exchange data — each folds into a constant
    * 1024-long sketch in one pass (map-side partial merge, 1024 longs
    * per partition, the [[graft.functions.CmsSketchAgg]] shape) and
    * the estimate is a 4×256 dot product on the driver-sized result,
    * while the exact answer requires the keyed join itself. The audit
    * emits both, the overshoot, and the Markov bound 2·n_A·n_B/w
    * (missed by one row with prob ≤ 1/2, by all four jointly ≤ 1/16 —
    * at the pinned w=256 the bound DWARFS small-SF joins, which the
    * within_bound flag makes visible rather than hiding; production
    * widths of 2^20+ shrink overshoot and bound proportionally, the
    * sketch stays constant-size either way). Keys hash through the
    * engine-portable [[cmsBuckets]] md5 analog on the key's decimal
    * string, so both engines build bit-identical cells and the oracle
    * match is exact.
    *
    * Scale posture: per side, one pruned single-column scan into the
    * native sketch aggregate (PARTIAL merge — constant shuffle
    * payload); the exact side is a keyed count-join (shuffle on the
    * join key, the plan the estimate exists to predict); the three
    * 1-row frames combine via broadcast. Reference kin: the batch
    * planner's size-before-execute discipline
    * (commands/extract.md:214-231).
    */
  def cmsJoinSize(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CmsSketchFunctions.cmsSketch
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").cast("string").as("k"))
    val os = Tables(spark, dir, "orders")
      .select(col("o_orderkey").cast("string").as("k"))
    val ska = li.agg(cmsSketch(col("k")).as("sa"), count(lit(1)).as("na"))
    val skb = os.agg(cmsSketch(col("k")).as("sb"), count(lit(1)).as("nb"))
    val exact = li.groupBy(col("k")).agg(count(lit(1)).as("ca"))
      .join(os.groupBy(col("k")).agg(count(lit(1)).as("cb")), Seq("k"))
      .agg(sum(col("ca") * col("cb")).as("exact_pairs"))
    // row j's inner product: lambdas touch only their own arguments
    // (zip_with receives the slices as inputs — no outer-array capture)
    val est = (1 to 4).map { j =>
      expr(s"aggregate(zip_with(slice(sa, ${(j - 1) * 256 + 1}, 256), " +
        s"slice(sb, ${(j - 1) * 256 + 1}, 256), (x, y) -> x * y), " +
        "0L, (acc, v) -> acc + v)")
    }.reduce(least(_, _))
    ska.crossJoin(broadcast(skb)).crossJoin(broadcast(exact))
      .withColumn("est_pairs", est)
      .withColumn("over_count", col("est_pairs") - col("exact_pairs"))
      .withColumn("err_bound", expr("(2 * na * nb) div 256"))
      .withColumn("within_bound", col("over_count") <= col("err_bound"))
      .select(col("na"), col("nb"), col("exact_pairs"), col("est_pairs"),
        col("over_count"), col("err_bound"), col("within_bound"))
  }

  /** word2vec/NCE negative-sampling table (Mikolov et al. 2013): the
    * unigram distribution raised to the 3/4 power — the smoothing that
    * up-weights tail words enough to make useful negatives without
    * letting stopwords dominate, and the table every skip-gram /
    * contrastive text trainer materializes before training. The ¾
    * power is held integer-exact through nested exact integer square
    * roots: n^(3/4) = sqrt(n·sqrt(n)), so w34 = isqrt(c·isqrt(c))
    * with [[temperatureMix]]'s floor(sqrt(double))±1-corrected isqrt
    * at both levels — a deterministic floor-composed surrogate both
    * engines compute identically (each isqrt is exact, so the
    * composition differs from the real-valued ¾ power only through
    * the two floors — monotone and within 1 unit at vocabulary-scale
    * counts). Sampling probabilities in exact ppm.
    *
    * Scale posture: one tokenize pass → vocab-keyed counts (map-side
    * combine), a 1-row total broadcast, TakeOrderedAndProject for the
    * audit head — [[TextAnalysis.dsirWeights]]'s exact shape. The
    * full table (the LIMIT removed) is the production artifact; the
    * verified surface audits its head.
    */
  def unigramSampling(spark: SparkSession, dir: String): DataFrame = {
    def isqrt(n: Column): Column = {
      val s0 = floor(sqrt(n.cast("double"))).cast("long")
      val s1 = when(s0 * s0 > n, s0 - 1).otherwise(s0)
      when((s1 + 1) * (s1 + 1) <= n, s1 + 1).otherwise(s1)
    }
    val wc = Shingles.words(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val weighted = wc.withColumn("w34", isqrt(col("c") * isqrt(col("c"))))
    val tot = weighted.agg(sum(col("w34")).as("total_w"))
    weighted.crossJoin(broadcast(tot))
      .select(col("word"), col("c"), col("w34"),
        expr("(1000000 * w34) div total_w").as("prob_ppm"))
      .orderBy(col("c").desc, col("word").asc)
      .limit(30)
  }

  /** CCNet-style LM quality score (Wenzek et al. 2020 filter corpora by
    * LM perplexity; the log-free integer analog): per document, the
    * MEAN and MIN corpus-bigram transition probability over its bigram
    * instances, in basis points. p(w2|w1) = cnt(w1,w2)/cnt(w1·) as
    * `(10000·n12) div n1` — integer-exact, so no cross-engine log/double
    * drift. Template/boilerplate text scores high (its transitions
    * dominate the model), unusual or garbled word salad scores low —
    * the same ranking signal perplexity gives, monotone-inverted.
    *
    * Plan: one bigram explode reused for model AND scoring, model joins
    * keyed by (w1,w2)/(w1) (broadcast under AQE when the vocab is
    * small, hash otherwise), final agg keyed by doc_id. At 100 TB the
    * model table is vocab²-bounded (≪ corpus) — the scoring join is
    * the classic small-model × big-corpus shape.
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val inst = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Shingles.shingleArray(col("text"), 2)).as("bg"))
      .select(col("doc_id"),
        split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"))
    val model = inst.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
    val prefix = model.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
    // round 14: fold the prefix denominators into the MODEL before the
    // corpus join — model ⋈ prefix is model-sized, so the instance
    // stream crosses ONE (w1,w2)-keyed shuffle instead of two (the
    // old inst⋈model⋈prefix chain re-shuffled the full corpus on w1).
    // Honest measurement at 100×: 17.8 → 16.0 s — the wall is
    // dominated by the model AGG + the remaining instance shuffle,
    // so the win is structural (one fewer corpus exchange, the shape
    // a cluster wants) more than local wall.
    val scored = model.join(prefix, Seq("w1"))
      .select(col("w1"), col("w2"), expr("(10000 * n12) div n1").as("p_bp"))
    inst.join(scored, Seq("w1", "w2"))
      .select(col("doc_id"), col("p_bp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("p_bp")).as("sum_p_bp"),
        min(col("p_bp")).as("min_p_bp"))
      .withColumn("lm_score_bp", expr("sum_p_bp div n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("lm_score_bp"),
        col("min_p_bp"))
      .orderBy("doc_id")
  }

  /** TRUE held-out LM quality eval: the bigram model of [[lmScore]]
    * trained only on the train split (hash bucket < 80, the
    * [[Splits.trainTestSplit]] assignment) and scored only on the test
    * split (bucket ≥ 90) — the memorization-free version of lm_score
    * (which trains on everything it scores and therefore can never see
    * an unseen bigram). Unseen test bigrams score 0 and are counted
    * separately (unseen_bp is the generalization-gap signal; a rising
    * unseen rate per ingest slice means the corpus drifted from the
    * model). Exact integer basis points throughout.
    *
    * Scale posture: same (w1,w2)-keyed model aggs as lm_score; the
    * scoring join is left-outer on the same high-cardinality key.
    */
  def lmHeldout(spark: SparkSession, dir: String): DataFrame = {
    val inst = Tables.documents(spark, dir)
      .withColumn("bucket", Splits.hashBucket(col("doc_id"), "split:"))
      .select(col("doc_id"), col("bucket"),
        explode(Shingles.shingleArray(col("text"), 2)).as("bg"))
      .select(col("doc_id"), col("bucket"),
        split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"))
    val model = inst.filter(col("bucket") < 80)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
    val prefix = model.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
    // same prefix-fold as [[lmScore]]: the test stream crosses one
    // (w1,w2) shuffle; a missing match means an unseen bigram
    val scored = model.join(prefix, Seq("w1"))
      .select(col("w1"), col("w2"),
        expr("(10000 * n12) div n1").as("mp_bp"))
    inst.filter(col("bucket") >= 90)
      .join(scored, Seq("w1", "w2"), "left")
      .withColumn("unseen", when(col("mp_bp").isNull, 1L).otherwise(0L))
      .withColumn("p_bp", coalesce(col("mp_bp"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("unseen")).as("n_unseen"),
        sum(col("p_bp")).as("sum_p_bp"))
      .withColumn("unseen_bp", expr("(10000 * n_unseen) div n_bigrams"))
      .withColumn("lm_score_bp", expr("sum_p_bp div n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("n_unseen"),
        col("unseen_bp"), col("lm_score_bp"))
      .orderBy("doc_id")
  }

  /** Autocomplete index: top-3 completions per 2-char prefix by corpus
    * frequency — word-keyed agg then a prefix-keyed rank that rides the
    * GroupTopK heap rewrite (per-prefix state O(3), never a full
    * per-prefix sort; the posting-cap discipline of the inverted
    * index applied to the completion table).
    */
  def prefixTopk(spark: SparkSession, dir: String): DataFrame = {
    val wf = Shingles.words(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .filter(length(col("word")) >= 2)
      .withColumn("prefix", substring(col("word"), 1, 2))
    GroupTopK.topK(wf, 3, "rank", Seq("prefix"), col("freq").desc, col("word"))
      .select(col("prefix"), col("rank"), col("word"), col("freq"))
      .orderBy("prefix", "rank")
  }

  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    val wf = Shingles.words(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    // word is an attribute here (post-agg), so the substr lambda
    // references a materialized value, not a re-evaluated expression
    val pairCol = transform(sequence(lit(1), length(col("word")) - 1),
      i => col("word").substr(i, lit(2)))
    wf.filter(length(col("word")) >= 2)
      .select(explode(pairCol).as("pair"), col("freq"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)
  }

  /** Zipf head concentration per language: how much of the token mass
    * the top-100 word types own (integer basis points). The number a
    * curation pass reads before trusting token-level statistics — a
    * boilerplate-heavy or templated slice concentrates mass in the
    * head; natural text doesn't (cf. the 30× gram profile in
    * BASELINE.md, which made exactly this measurement for the
    * substring_dedup stop-list call — here it is a first-class verified
    * query). Reference: the crawl-statistics report surface
    * (commands/extract.md:92-155), corpus-wide.
    *
    * Plan: (lang, word) counts via two-phase hash agg, the top-100 per
    * lang rides the native [[graft.plans.GroupTopK]] bounded heap (no
    * per-lang sort of the whole vocabulary), totals join back keyed by
    * lang. Output bounded by the lang domain.
    */
  def tokenHeadShare(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("lang"),
        explode(Shingles.wordArray(col("text"))).as("word"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("n"))
    val top = GroupTopK.topK(counts, 100, "rn", Seq("lang"),
      col("n").desc, col("word").asc)
    val head = top.groupBy(col("lang"))
      .agg(sum(col("n")).as("head_occ"), count(lit(1)).as("n_head"))
    val tot = counts.groupBy(col("lang"))
      .agg(sum(col("n")).as("total_occ"), count(lit(1)).as("n_types"))
    tot.join(head, Seq("lang"))
      .select(col("lang"), col("n_types"), col("total_occ"), col("n_head"),
        col("head_occ"),
        expr("(10000 * head_occ) div total_occ").as("head_share_bp"))
      .orderBy("lang")
  }

  /** Per-document novelty under ingest order (doc_id as arrival time):
    * the share of a doc's 8-gram positions whose gram appears in NO
    * earlier document — the marginal-new-content curve dataset curation
    * watches to decide when a source is mined out. Distinct from BOTH
    * neighbors: [[Dedup.substringDedup]] asks "is this span repeated
    * anywhere", [[TextAnalysis.ngramNovelty]] asks "is this shingle
    * unique to the doc" (order-free df==1); this asks "did THIS doc
    * bring it first" — the only one of the three that changes when the
    * corpus is reordered, which is what makes it the mined-out curve.
    * All-integer output.
    *
    * Plan: same sorted-ngram-table discipline as substring_dedup — one
    * gram-keyed agg for first owners (min doc_id), one gram+owner
    * equi-join back, one doc-keyed agg; no pair join, no window over
    * the gram stream. Docs with <8 words have no gram positions and
    * are excluded, exactly like substring_dedup.
    */
  def ingestNovelty(spark: SparkSession, dir: String): DataFrame = {
    // round 14: gram-keyed shuffles ride a 60-bit md5 digest of the
    // 8-word gram, not the string — Dedup.substringDedupFrom's recipe.
    // Honest measurement: local wall is ~flat (39.5 → 37.4 s at 100×;
    // the explode+agg CPU dominates on one box), kept because the
    // shuffle KEY bytes drop 8-10× — the cost a real cluster pays in
    // network/sort that local[32] mostly doesn't. DuckDB computes
    // identical digests, so the twin stays bit-exact.
    //
    // Round 17: the three consumers (first owners, per-doc totals,
    // novelty counts) previously each re-derived the raw POSITION
    // stream — 3× tokenize+shingle+explode per run. They now share
    // ONE staged (g, doc_id, multiplicity) frame: the explode and the
    // (g, doc_id) shuffle are paid once, the consumers aggregate the
    // far smaller distinct-pair frame, and the output values are
    // unchanged (position counts = Σ multiplicities). Measured
    // isolated at sf0.1: 5.3-5.5 s → see BASELINE.md round 17.
    Fixpoint.scoped { scope =>
      val grams = Shingles.wordShingles(
          Tables.documents(spark, dir).select(col("doc_id"), col("text")), 8)
        .select(col("doc_id"),
          conv(substring(md5(col("shingle")), 1, 15), 16, 10)
            .cast("bigint").as("g"))
      val gd = scope.local(
        grams.groupBy(col("g"), col("doc_id")).agg(count(lit(1)).as("c")))
      val firstOwner = gd.groupBy(col("g"))
        .agg(min(col("doc_id")).as("first_doc"))
        .withColumnRenamed("g", "fg")
      val tot = gd.groupBy(col("doc_id")).agg(sum(col("c")).as("n_grams"))
      val novel = gd
        .join(firstOwner, col("g") === col("fg") &&
          col("doc_id") === col("first_doc"))
        .groupBy(col("doc_id")).agg(sum(col("c")).as("nn"))
      Fixpoint.reliably(tot.join(novel, Seq("doc_id"), "left")
        .withColumn("n_novel", coalesce(col("nn"), lit(0L)))
        .withColumn("novel_bp", expr("(10000 * n_novel) div n_grams"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"), col("novel_bp"))
        .orderBy("doc_id"))
    }
  }

  /** Deterministic stratified sampling: a fixed 100-doc budget
    * allocated across languages proportionally to their corpus share
    * (integer div, every stratum floored at 1), with the within-stratum
    * pick ordered by md5(doc_id) — a reproducible pseudo-random order
    * both engines compute bit-identically, so the "random" sample is
    * exact-verifiable (same trick as the md5 MinHash tier). This is
    * the mix-construction primitive: downsample a 100 TB corpus to a
    * budget while preserving language composition, deterministically
    * enough to re-run byte-identically.
    *
    * Plan: per-lang counts (tiny) broadcast-join the allocation; the
    * per-stratum pick rides the native [[graft.plans.GroupTopK]]
    * bounded heap at k=100 (the budget bounds any stratum's heap),
    * then filters rank ≤ allocation. No global sort, no window over
    * the corpus.
    */
  def budgetSample(spark: SparkSession, dir: String): DataFrame = {
    val target = 100L
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("pick_key"))
    val strata = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val tot = strata.agg(sum(col("n_lang")).as("n_total"))
    val alloc = strata.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_lang"),
        greatest(lit(1L), expr(s"($target * n_lang) div n_total")).as("n_alloc"))
    GroupTopK.topK(docs, target.toInt, "rn", Seq("lang"),
        col("pick_key").asc, col("doc_id").asc)
      .join(broadcast(alloc), Seq("lang"))
      .filter(col("rn") <= col("n_alloc"))
      .select(col("lang"), col("rn"), col("doc_id"), col("n_alloc"))
      .orderBy("lang", "rn")
  }

  /** Source-concentration index (Herfindahl–Hirschman) per language:
    * the sum over sources of squared corpus-share basis points —
    * 10⁸ = a single-source monoculture, 10⁸/k = k equal sources. The
    * diversity gate a mix owner reads next to [[mixWeights]]: a lang
    * slice whose HHI spikes is one takedown away from losing its
    * coverage. Integer end to end (shares via div, squares of bigints).
    *
    * Plan: one (lang, source) count agg, per-lang totals as a window
    * over the tiny agg frame, one more keyed agg — output bounded by
    * the lang domain.
    */
  def hhiConcentration(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_cell"))
    val wLang = Window.partitionBy(col("lang"))
    cells.withColumn("n_docs", sum(col("n_cell")).over(wLang))
      .withColumn("share_bp", expr("(10000 * n_cell) div n_docs"))
      .groupBy(col("lang"))
      .agg(max(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        sum(expr("share_bp * share_bp")).as("hhi"))
      .orderBy("lang")
  }

  /** Cross-language contamination audit: for every language pair, the
    * number of distinct 3-shingles present in BOTH languages and the
    * overlap coefficient (shared / smaller side, basis points). High
    * overlap between languages flags mislabeled documents or
    * copy-translated boilerplate — the check a multilingual mix runs
    * before trusting per-language statistics (lang-id eval's corpus-
    * level complement).
    *
    * Plan: distinct (lang, shingle) pairs, then a shingle-keyed
    * self-join — per shingle the match set is bounded by the LANGUAGE
    * domain (not the corpus), so the join output is ≤ langs² rows per
    * shingle and the result is bounded by the lang-pair domain. Never
    * a doc-pair join.
    */
  def crosslangOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sl = Tables.documents(spark, dir)
      .select(col("lang"),
        explode(array_distinct(Shingles.shingleArray(col("text"), 3)))
          .as("shingle"))
      .distinct()
    val sizes = sl.groupBy(col("lang")).agg(count(lit(1)).as("n_sh"))
    val shared = sl.as("a").join(sl.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.lang") < col("b.lang"))
      .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("lang").as("lang_a"), col("n_sh").as("n_a"))),
        Seq("lang_a"))
      .join(broadcast(sizes.select(col("lang").as("lang_b"), col("n_sh").as("n_b"))),
        Seq("lang_b"))
      .select(col("lang_a"), col("lang_b"), col("n_shared"), col("n_a"), col("n_b"),
        expr("(10000 * n_shared) div least(n_a, n_b)").as("overlap_bp"))
      .orderBy("lang_a", "lang_b")
  }

  /** Per-language two-sample Kolmogorov–Smirnov drift: for each lang,
    * the KS statistic (max CDF gap, integer basis points) between its
    * document-length distribution and the REST of the corpus — the
    * distribution-shift alarm run per ingest slice (companion to
    * [[mixDrift]], which sees only means/masses; KS sees shape: a
    * bimodal length profile with the corpus mean flags here first).
    *
    * Determinism: CDFs are exact integer counts over the value domain;
    * the gap is |a div − b div| of nonnegative integers.
    *
    * Scale posture: the raw scan collapses to a (lang, n_chars)
    * HISTOGRAM first; the CDF windows run per-lang over the bounded
    * value grid (|values| × |langs| rows — domain-sized, not
    * corpus-sized), the same histogram-not-raw-rows discipline as
    * ts_anomaly. The lang list broadcasts onto the value spine.
    */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("lang"), col("n_chars").as("v"))
    val hist = d.groupBy(col("lang"), col("v")).agg(count(lit(1)).as("cnt"))
    val grid = d.select(col("v")).distinct()
      .crossJoin(broadcast(d.select(col("lang")).distinct()))
    val totV = hist.groupBy(col("v")).agg(sum(col("cnt")).as("tot_v"))
    val j = grid.join(hist, Seq("lang", "v"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .join(totV, Seq("v"))
      .withColumn("rest", col("tot_v") - col("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = j.withColumn("cum_in", sum(col("cnt")).over(w))
      .withColumn("cum_rest", sum(col("rest")).over(w))
    val byLang = d.groupBy(col("lang")).agg(count(lit(1)).as("n_in"))
    val tot = d.agg(count(lit(1)).as("n_all"))
    cum.join(broadcast(byLang), Seq("lang"))
      .crossJoin(broadcast(tot))
      .withColumn("gap_bp",
        abs(expr("(10000 * cum_in) div n_in") -
          expr("(10000 * cum_rest) div (n_all - n_in)")))
      .groupBy(col("lang"))
      .agg(max(col("n_in")).as("n_in"),
        max(col("n_all") - col("n_in")).as("n_rest"),
        max(col("gap_bp")).as("ks_bp"))
      .orderBy("lang")
  }

  /** Per-language 1-Wasserstein (earth-mover) length-distribution
    * drift — the mass-weighted companion to [[ksDrift]]: KS reports
    * the single worst CDF gap, W1 integrates |CDF_in − CDF_rest| over
    * the value axis, so it sees how MUCH distribution mass moved and
    * how far (a small-but-everywhere shift that KS underweights, and
    * the same ordered-transport quantity [[Observability.tCloseness]]
    * audits over attribute bands, here over document lengths).
    * W1 = Σ_grid |F_in(v) − F_rest(v)|·Δv, exact via cross-multiplied
    * integer CDFs: |cum_in·n_rest − cum_rest·n_in| avoids both
    * divisions, Δv is the gap to the next grid value (the last value
    * contributes 0 — both CDFs are 1 beyond it), and the one
    * normalizing division happens at the surface:
    * w1_x1000 = (1000·Σ) div (n_in·n_rest) — thousandths of a
    * character of expected transport. The Σ is staged through
    * decimal(38,0) (DuckDB HUGEINT) so ANSI overflow cannot fire at
    * production corpus sizes (int64 headroom runs out near
    * n·cum·Δv·|grid| ≈ 9·10¹⁸ — within 10² of a 10⁸-doc corpus).
    *
    * Scale posture: identical to [[ksDrift]] — histogram first, CDF
    * windows per-lang over the bounded (values × langs) grid, never
    * corpus-sized; the lead() for Δv rides the same per-lang window.
    */
  def wassersteinDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("lang"), col("n_chars").as("v"))
    val hist = d.groupBy(col("lang"), col("v")).agg(count(lit(1)).as("cnt"))
    val grid = d.select(col("v")).distinct()
      .crossJoin(broadcast(d.select(col("lang")).distinct()))
    val totV = hist.groupBy(col("v")).agg(sum(col("cnt")).as("tot_v"))
    val j = grid.join(hist, Seq("lang", "v"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .join(totV, Seq("v"))
      .withColumn("rest", col("tot_v") - col("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wl = Window.partitionBy(col("lang")).orderBy(col("v"))
    val cum = j.withColumn("cum_in", sum(col("cnt")).over(w))
      .withColumn("cum_rest", sum(col("rest")).over(w))
      .withColumn("dv", coalesce(lead(col("v"), 1).over(wl) - col("v"), lit(0L)))
    val byLang = d.groupBy(col("lang")).agg(count(lit(1)).as("n_in"))
    val tot = d.agg(count(lit(1)).as("n_all"))
    cum.join(broadcast(byLang), Seq("lang"))
      .crossJoin(broadcast(tot))
      .withColumn("term",
        expr("""CAST(abs(cum_in * (n_all - n_in) - cum_rest * n_in)
                AS DECIMAL(38,0)) * dv"""))
      .groupBy(col("lang"))
      .agg(max(col("n_in")).as("n_in"),
        max(col("n_all") - col("n_in")).as("n_rest"),
        sum(col("term")).as("s"))
      .withColumn("w1_x1000",
        // greatest(...,1): a single-language corpus makes n_rest = 0 —
        // the degenerate slice reports 0 transport instead of an ANSI
        // division error (t_closeness's k_bands guard, same rationale)
        expr("CAST((1000 * s) div greatest(n_in * n_rest, 1) AS BIGINT)"))
      .select(col("lang"), col("n_in"), col("n_rest"), col("w1_x1000"))
      .orderBy("lang")
  }

  /** Per-language Gini coefficient of source concentration — the
    * inequality-curve companion to [[hhiConcentration]]: HHI reacts
    * quadratically to the biggest source, Gini measures the whole
    * Lorenz-curve shape (0 = all sources contribute equally,
    * → 1 = one source owns the slice). Computed by the rank formula
    * G = Σ_i (2i − n − 1)·x_(i) / (n·Σx) over sources sorted by
    * ascending count — integer-exact end to end (the numerator is a
    * sum of count-weighted rank coefficients; ties are
    * order-invariant because equal x share the same contribution
    * regardless of which tie takes which rank), surfaced as
    * gini_bp = (10000·G_num) div (n·Σx).
    *
    * Scale posture: one (lang, source) count agg; the rank window and
    * the final agg run over the DOMAIN-sized cell frame (langs ×
    * sources), never corpus rows — [[hhiConcentration]]'s exact plan
    * with one extra per-lang window.
    */
  def giniConcentration(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_cell"))
    val wRank = Window.partitionBy(col("lang"))
      .orderBy(col("n_cell").asc, col("source").asc)
    cells.withColumn("i", row_number().over(wRank))
      .withColumn("n_src",
        count(lit(1)).over(Window.partitionBy(col("lang"))))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sources"),
        sum(col("n_cell")).as("n_docs"),
        sum((lit(2) * col("i") - col("n_src") - lit(1)) * col("n_cell"))
          .as("g_num"))
      .withColumn("gini_bp",
        expr("(10000 * g_num) div (n_sources * n_docs)"))
      .select(col("lang"), col("n_sources"), col("n_docs"), col("gini_bp"))
      .orderBy("lang")
  }

  /** Chi-square independence audit of language × document-length
    * bucket: per contingency cell, the observed count, the expected
    * count under independence, and the cell's χ² contribution — the
    * classic "is length confounded with language?" check run before
    * trusting per-language length statistics ([[ksDrift]] sees one
    * lang vs rest; this sees the full contingency structure). Cell
    * χ² = (N·obs − rt·ct)² / (N·rt·ct), held in exact centi-units:
    * chi2_c = (100·(N·obs − rt·ct)²) div (N·rt·ct). At 5k docs the
    * numerator peaks ≈ 6e16 — inside int64; corpora past ~1e8 docs
    * switch the expression to decimal(38,0), plan unchanged.
    *
    * Scale posture: three keyed aggs (cell / row / column margins) +
    * a 1-row corpus total, margins broadcast onto the cell frame —
    * the contingency table is domain-sized (|langs| × |buckets|),
    * never corpus-sized.
    */
  def chi2Independence(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("lang"),
        least(expr("n_chars div 100"), lit(5L)).cast("long").as("bucket"))
    val cells = d.groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("obs"))
    val rt = d.groupBy(col("lang")).agg(count(lit(1)).as("rt"))
    val ct = d.groupBy(col("bucket")).agg(count(lit(1)).as("ct"))
    val n = d.agg(count(lit(1)).as("n"))
    cells
      .join(broadcast(rt), Seq("lang"))
      .join(broadcast(ct), Seq("bucket"))
      .crossJoin(broadcast(n))
      .select(col("lang"), col("bucket"), col("obs"),
        expr("(100 * rt * ct) div n").as("exp_c"),
        expr("(100 * (n * obs - rt * ct) * (n * obs - rt * ct)) div (n * rt * ct)")
          .as("chi2_c"))
      .orderBy("lang", "bucket")
  }

  /** Cross-source quantile calibration: each source's quality-score
    * deciles mapped onto the GLOBAL quality distribution — the
    * rank-based normalization (quantile norm, the microarray-era
    * technique) that makes "quality ≥ X" mean the same thing across
    * sources whose raw score distributions differ (a strict-source
    * 0.6 may be a lenient-source 0.9). Emits per (source, decile) the
    * source-local decile value and its global percentile in basis
    * points; a flat column per source ⇒ that source's scores are
    * already calibrated.
    *
    * Exactness: decile d's value is the exact rank-ceil(d·n/10)
    * element via the per-source cumulative value histogram
    * ([[graft.etl.Events.tsAnomaly]]'s selection); the global
    * percentile counts strictly-smaller mass in the GLOBAL value
    * histogram — both integer.
    *
    * Scale posture: score annotation is map-side; both histograms are
    * keyed aggs; the per-source CDF window runs over the bounded
    * (source × value) histogram; the global histogram (bounded by the
    * value domain, ≤ 10001 rows) BROADCASTS onto the sources × 9
    * decile frame as a triangular join. Never a global window, never
    * a data-sized pair join.
    */
  def quantileNorm(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.qualityAnnotated(Tables.documents(spark, dir))
      .select(col("source"), col("quality_bp").as("v"))
    // per-source decile values from the cumulative value histogram
    val histS = q.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("source"))
    val cum = histS
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("nn", sum(col("cnt")).over(wAll))
    val grid = spark.range(1, 10).select(col("id").as("decile"))
    val deciles = cum.crossJoin(broadcast(grid))
      .groupBy(col("source"), col("decile"))
      .agg(min(when(col("cum") >= expr("(decile * nn + 9) div 10"),
        col("v"))).as("q_value"))
    // global percentile of each decile value: strictly-smaller mass
    val histG = q.groupBy(col("v")).agg(count(lit(1)).as("cnt_g"))
    val nG = q.agg(count(lit(1)).as("n_g"))
    deciles.crossJoin(broadcast(nG))
      .join(broadcast(histG), col("v") < col("q_value"), "left")
      .groupBy(col("source"), col("decile"), col("q_value"), col("n_g"))
      .agg(coalesce(sum(col("cnt_g")), lit(0L)).as("below"))
      .withColumn("global_pct_bp", expr("(10000 * below) div n_g"))
      .select(col("source"), col("decile"), col("q_value"),
        col("global_pct_bp"))
      .orderBy("source", "decile")
  }

  /** Vocabulary-size coverage curve: for each language and each vocab
    * cut in {64, 128, 256, 512}, the share of token MASS covered by
    * the top-cut most frequent words of that language — [[oovRate]]'s
    * single top-256 cut widened to the curve a tokenizer-budget
    * decision actually reads (where coverage flattens is where vocab
    * spend stops paying). Rank ties break on word; coverage in exact
    * integer basis points.
    *
    * Scale posture: one token scan → (lang, word) agg; the per-lang
    * frequency ranking is a window over the BOUNDED vocabulary frame
    * (not the token stream — [[vocabGrowth]]'s discipline); the 4-row
    * cut grid broadcasts; output bounded by langs × cuts.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val wf = Tables.documents(spark, dir)
      .select(col("lang"), explode(Shingles.wordArray(col("text"))).as("word"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("n"))
    val wRank = Window.partitionBy(col("lang"))
      .orderBy(col("n").desc, col("word").asc)
    val ranked = wf.withColumn("rk", row_number().over(wRank))
    val totals = wf.groupBy(col("lang")).agg(sum(col("n")).as("mass"),
      count(lit(1)).as("vocab_size"))
    val cuts = spark.range(6, 10)
      .select(expr("cast(shiftleft(1L, cast(id as int)) as long)").as("cut"))
    ranked.crossJoin(broadcast(cuts))
      .filter(col("rk") <= col("cut"))
      .groupBy(col("lang"), col("cut"))
      .agg(sum(col("n")).as("covered"))
      .join(broadcast(totals), Seq("lang"))
      .withColumn("coverage_bp", expr("(10000 * covered) div mass"))
      .select(col("lang"), col("cut"), col("covered"), col("mass"),
        col("vocab_size"), col("coverage_bp"))
      .orderBy("lang", "cut")
  }

  /** Kneser-Ney smoothed held-out bigram LM (Kneser & Ney 1995; Chen &
    * Goodman 1999's interpolated form): [[lmHeldout]] scores an unseen
    * test bigram 0 — KN is WHY production LMs don't. Absolute discount
    * D = 3/4 off every seen bigram count funds an interpolation weight
    * λ(w1) = D·N1+(w1·)/c(w1) paid out over the CONTINUATION
    * probability P_cont(w2) = N1+(·w2)/|bigram types| (how many
    * distinct contexts w2 completes — "Francisco" is frequent but
    * completes only "San", so its continuation mass is tiny). Seen
    * test bigrams score max(c−D,0)/c(w1) + λ·P_cont; unseen-w2-after-
    * seen-w1 gets the λ·P_cont backoff; unseen w1 backs off to P_cont
    * alone. Per test doc: the KN score, the backoff mass share, and
    * the unseen count — directly comparable against lm_heldout's
    * zero-for-unseen column.
    *
    * Exactness: D = 3/4 clears through quarter-units — term1_bp =
    * (10000·(4c12−3)) div (4c1), backoff_bp = (30000·N1w1·Ncont) div
    * (4·c1·T) — every term one truncated integer division, mirrored
    * verbatim in the oracle (64-bit safe: 3e4·N1·Ncont ≤ 3e4·v²
    * at vocabulary v ≈ 10³ → ~3e10).
    *
    * Scale posture: identical join graph to [[lmHeldout]] — (w1,w2)-
    * and w1-keyed model aggs, continuation counts are w2-keyed, the
    * type total is a 1-row broadcast; scoring is left joins on the
    * same high-cardinality keys.
    */
  def lmKneserNey(spark: SparkSession, dir: String): DataFrame = {
    val inst = Tables.documents(spark, dir)
      .withColumn("bucket", Splits.hashBucket(col("doc_id"), "split:"))
      .select(col("doc_id"), col("bucket"),
        explode(Shingles.shingleArray(col("text"), 2)).as("bg"))
      .select(col("doc_id"), col("bucket"),
        split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"))
    val train = inst.filter(col("bucket") < 80)
    val model = train.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n12"))
    val prefix = model.groupBy(col("w1"))
      .agg(sum(col("n12")).as("n1"), count(lit(1)).as("n1plus"))
    val cont = model.groupBy(col("w2"))
      .agg(count(lit(1)).as("ncont"))
    val types = model.agg(count(lit(1)).as("t"))
    inst.filter(col("bucket") >= 90)
      .join(model, Seq("w1", "w2"), "left")
      .join(prefix, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(types))
      .withColumn("ncont", coalesce(col("ncont"), lit(0L)))
      .withColumn("term1_bp",
        when(col("n12").isNotNull,
          expr("(10000 * (4 * n12 - 3)) div (4 * n1)")).otherwise(lit(0L)))
      .withColumn("backoff_bp",
        when(col("n1").isNotNull,
          expr("(30000 * n1plus * ncont) div (4 * n1 * t)"))
          .otherwise(expr("(10000 * ncont) div t")))
      .withColumn("unseen", when(col("n12").isNull, 1L).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("unseen")).as("n_unseen"),
        sum(col("term1_bp") + col("backoff_bp")).as("sum_p_bp"),
        sum(col("backoff_bp")).as("sum_backoff_bp"))
      .withColumn("kn_bp", expr("sum_p_bp div n_bigrams"))
      .withColumn("backoff_share_bp",
        expr("CASE WHEN sum_p_bp = 0 THEN 0"
          + " ELSE (10000 * sum_backoff_bp) div sum_p_bp END"))
      .select(col("doc_id"), col("n_bigrams"), col("n_unseen"),
        col("kn_bp"), col("backoff_share_bp"))
      .orderBy("doc_id")
  }

  /** Distribution-SHAPE profile of document lengths per language —
    * exact-integer skewness and kurtosis, the two moments the existing
    * audit tier (length_histogram buckets, outlier_mad tails, ks/
    * wasserstein drift) cannot express: a mix whose mean and variance
    * look healthy still fails training when one language's lengths are
    * heavy-tailed (kurtosis) or lopsided (skew) — truncation waste and
    * padding waste are shape effects (cf. pack_sequences/
    * padding_batches, which measure the SYMPTOM; this measures the
    * cause at ingest).
    *
    * Determinism: the classical estimators divide by powers of the
    * irrational sd, so the emitted figures are the exact-rational
    * Pearson forms about the FLOOR mean μ = S div n: central power
    * sums m_k = Σ(len−μ)^k come from raw power sums via the binomial
    * expansion (ONE scan, no mean-then-rejoin second pass), then
    *   kurt_bp     = (10000·n·m4) div m2²          (β₂, basis points)
    *   skew_b1_x100 = (100·n·((m3² div m2))) div m2² with sign(m3)
    * — b₁ = skew² is rational (no sqrt); the inner div stages the
    * division so the numerator never exceeds decimal(38). Both engines
    * run the identical integer staging, so equality is exact.
    *
    * Scale posture: one pruned (lang, length) scan → one 5-group
    * partial aggregate; all shape math happens on the 5-row result.
    * Overflow ceiling: raw s4 ≤ n·maxlen⁴ and staged t = m3² div m2
    * must clear 10³⁸/2⁶³ — satisfied to n ≈ 10¹⁰ docs/lang at the
    * observed ≤600-char lengths; longer-doc corpora pre-bin length
    * (len div 16: one-line change, bounds shrink 16^k).
    */
  def momentsProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), length(col("text")).cast("decimal(38,0)").as("l"))
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("l")).as("s1"),
        sum(col("l") * col("l")).as("s2"),
        sum(col("l") * col("l") * col("l")).as("s3"),
        sum(col("l") * col("l") * col("l") * col("l")).as("s4"))
      .withColumn("mu", expr("s1 div n"))
      .withColumn("m2", expr(
        "s2 - 2 * mu * s1 + n * mu * mu"))
      .withColumn("m3", expr(
        "s3 - 3 * mu * s2 + 3 * mu * mu * s1 - n * mu * mu * mu"))
      .withColumn("m4", expr(
        "s4 - 4 * mu * s3 + 6 * mu * mu * s2 - 4 * mu * mu * mu * s1" +
          " + n * mu * mu * mu * mu"))
      .withColumn("kurt_bp", expr(
        "(10000 * n * m4) div greatest(m2 * m2, 1)"))
      .withColumn("skew_sign", expr(
        "CAST(CASE WHEN m3 > 0 THEN 1 WHEN m3 < 0 THEN -1 ELSE 0 END AS INT)"))
      .withColumn("skew_b1_x100", expr(
        "(100 * n * ((m3 * m3) div greatest(m2, 1))) div greatest(m2 * m2, 1)"))
      .select(col("lang"), expr("CAST(n AS BIGINT)").as("n_docs"),
        col("mu").as("mean_floor"), expr("CAST(m2 AS BIGINT)").as("m2"),
        col("kurt_bp"), col("skew_sign"), col("skew_b1_x100"))
      .orderBy("lang")
  }
}
