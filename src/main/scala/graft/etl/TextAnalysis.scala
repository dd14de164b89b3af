package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.Tables
import graft.functions.QualityKernelFunctions.{charEntropySumF, charsetSizeF}
import graft.plans.GroupTopK

/** North-star text-analysis operators for a training-data pipeline
  * (builder brief): token counting, quality scoring, language-ID
  * heuristic, document fingerprinting. All declarative column
  * expressions — a 100 TB corpus maps through these with zero shuffles
  * except the final reporting aggregations.
  */
object TextAnalysis {

  private def txt(c: Column): Column = coalesce(c, lit(""))

  /** Whitespace tokens, empty-safe ('' → 0 tokens; both engines split
    * '' into ['']).
    */
  def tokenCount(text: Column): Column =
    when(length(txt(text)) === 0, 0)
      .otherwise(size(split(txt(text), " "))).cast("int")

  /** BPE-ish subword proxy: count of letter-run + digit-run + punct
    * tokens (regex token counting without an external vocab).
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(txt(text), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))
      .cast("int")

  def tokenCountQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        tokenCount(col("text")).as("ws_tokens"),
        regexTokenCount(col("text")).as("re_tokens"))
      .groupBy(col("lang"))
      .agg(sum(col("ws_tokens")).as("total_ws_tokens"),
        sum(col("re_tokens")).as("total_re_tokens"),
        // exact-int division: bit-identical across engines, no rounding
        (sum(col("ws_tokens")).cast("double") / count(lit(1))).as("avg_ws_tokens"))
      .orderBy("lang")

  /** Quality score in basis points [0,10000]: length factor (0.7 weight)
    * + stopword-density factor (0.9 weight) — the shape of the
    * reference-adjacent quality heuristics, computed entirely in INTEGER
    * arithmetic (`div`). Rational scores like these terminate on decimal
    * rounding boundaries, where Spark's and DuckDB's double round() tie-
    * break differently; basis points sidestep the whole class.
    */
  val Stopwords = "\\b(the|a|and|of|to)\\b"

  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityFrom(Tables.documents(spark, dir)).orderBy("doc_id")

  /** Adds tokens/stop_hits/len_bp/stop_bp/quality_bp WITHOUT dropping
    * the input columns — lets consumers ([[domainCap]]) score and keep
    * their own keys in one scan instead of joining back on doc_id.
    */
  def qualityAnnotated(docs: DataFrame): DataFrame =
    docs
      .withColumn("tokens", tokenCount(col("text")).cast("bigint"))
      .withColumn("stop_hits",
        size(regexp_extract_all(txt(col("text")), lit(Stopwords), lit(0))).cast("bigint"))
      .withColumn("len_bp",
        least(lit(10000L), lit(25L) * length(txt(col("text")))))
      .withColumn("stop_bp",
        when(col("tokens") === 0, 0L)
          .otherwise(expr("(10000 * stop_hits) div tokens")))
      .withColumn("quality_bp",
        least(lit(10000L), expr("(7 * len_bp + 9 * stop_bp) div 10")))

  def qualityFrom(docs: DataFrame): DataFrame =
    qualityAnnotated(docs)
      .select(col("doc_id"),
        col("len_bp").as("len_factor_bp"),
        col("stop_bp").as("stop_ratio_bp"),
        col("quality_bp"))

  /** Quality-WEIGHTED deterministic downsampling — keep each document
    * with probability quality_bp/10000, decided by a salted-hash
    * uniform draw, never rand(): u = first 8 md5 hex chars of the doc
    * id (uniform on [0, 2³²)), keep iff u·10⁴ < quality_bp·2³². The
    * training-corpus "sample good documents more" primitive, fully
    * reproducible across reruns, partitionings, and engines (same rule
    * as [[Splits.hashBucket]]). Pure map over the scored scan — no
    * shuffle but the output sort.
    */
  /** Per-domain document cap — the C4/RefinedWeb-style long-tail
    * control: keep at most the 10 best documents (by [[qualityFrom]]'s
    * quality_bp, doc_id tie-break) per source, so no single domain can
    * dominate the training mix no matter how many pages it contributes.
    *
    * Plan: the rank<=10 filter over a single-expression row_number
    * window rides the RewriteRankFilterToGroupTopK rule → the native
    * bounded-heap GroupTopK operator: per-source state is O(cap), the
    * corpus is never sorted per group. At 100 TB this is one
    * source-keyed shuffle with map-side pre-pruning.
    */
  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    val scored = qualityAnnotated(Tables.documents(spark, dir))
      .select(col("source"), col("doc_id"), col("quality_bp"))
    GroupTopK.topK(scored, 10, "rank", Seq("source"),
        col("quality_bp").desc, col("doc_id").asc)
      .select(col("source"), col("rank"), col("doc_id"), col("quality_bp"))
      .orderBy("source", "rank")
  }

  /** Per-language exact decile cutpoints of document length — the
    * length-calibration table a filtering pipeline freezes before
    * setting per-language min/max-length cuts (a global threshold
    * over-trims short-written languages). Same two-pass histogram
    * rank-selection pattern as Relational2.medianPrice, but PER GROUP:
    * the cumulative window runs over the (lang, n_chars) COUNT table
    * (bounded by distinct values per language), never the corpus, so
    * there is no global sort and no single-partition funnel. d_i is
    * the ceil(i·n/10)-th smallest length — exact integers end to end.
    */
  def qualityDeciles(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("lang"), col("n_chars"))
    val counts = docs.groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("cum", sum(col("c")).over(w))
    val tot = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val deciles = (1 to 9).map(i =>
      min(when(col("cum") >= expr(s"($i * n + 9) div 10"), col("n_chars")))
        .as(s"d$i"))
    cum.join(tot, Seq("lang"))
      .groupBy(col("lang"), col("n"))
      .agg(deciles.head, deciles.tail: _*)
      .orderBy("lang")
  }

  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_bp"))
      .withColumn("u",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("bigint"))
      .filter(col("u") * lit(10000L) < col("quality_bp") * lit(4294967296L))
      .orderBy("doc_id")

  /** Per-group feature scaling — the two standard training-feature
    * transforms over a numeric column (n_chars, per language):
    * min-max to integer basis points (exact: 10⁴·(x−min) div range)
    * and quantile-uniform via percent_rank (rational of integer ranks;
    * both engines evaluate (rk−1)/(n−1) on identical operands →
    * bit-equal IEEE). One stats aggregate broadcast back + one
    * rank window per group key — feature scaling of a 100 TB column
    * is exactly this shape, keyed by whatever stratifies the mix.
    * Degenerate groups (min == max) scale to 0.
    */
  def featureScale(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars").cast("bigint").as("x"))
    val stats = docs.groupBy(col("lang"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val w = Window.partitionBy(col("lang")).orderBy(col("x"), col("doc_id"))
    docs.join(broadcast(stats), Seq("lang"))
      .withColumn("minmax_bp",
        when(col("mx") === col("mn"), 0L)
          .otherwise(expr("(10000 * (x - mn)) div (mx - mn)")))
      .withColumn("qrank", percent_rank().over(w))
      .select(col("doc_id"), col("lang"), col("x").as("n_chars"),
        col("minmax_bp"), col("qrank"))
      .orderBy("doc_id")
  }

  /** Repetition profile — the Gopher-rule quality signals the
    * length/stopword score misses: duplicate-word fraction and top-word
    * dominance, the standard filters for machine-generated/spammy text.
    * One explode + a two-level aggregation (per-(doc,word) counts, then
    * per-doc rollup) derives all three stats with no join-back; basis
    * points via integer div keep it oracle-exact. NOTE the in-array
    * temptation (transform over the distinct array counting matches in
    * the full array) is the documented O(n²) HOF trap — the exploded
    * two-level agg is both safe and the shape token-level statistics
    * take at scale anyway. Docs with no words yield no row.
    */
  def repetitionProfile(spark: SparkSession, dir: String): DataFrame =
    Shingles.words(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_freq"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"), col("top_freq"),
        expr("(10000 * (n_words - n_distinct)) div n_words").as("dup_word_bp"),
        expr("(10000 * top_freq) div n_words").as("top_word_bp"))
      .orderBy("doc_id")

  /** Gopher document-quality GATE (Rae et al. 2021, MassiveText §A1.1):
    * the hard per-document rule set run BEFORE any model-based scoring
    * in a production corpus build — each rule a named boolean flag plus
    * the overall verdict, so downstream stages can both filter on the
    * gate and audit which rule rejected what. Rules instantiated:
    * word count in [50, 100000]; mean word length in [3, 10] (as
    * 3·n ≤ Σlen ≤ 10·n — integer, no division); ≥80% of words contain
    * an alphabetic character (10·alpha ≥ 8·n); ≥2 distinct stopwords
    * present (the stop LIST is a config knob; instantiated here with
    * Gopher's core function words plus 'a' so the rule bites on the
    * synthetic corpus's vocabulary); characters covered by the most frequent 2-gram ≤ 20% of
    * the text (count × bigram length ×5 ≤ text length; occurrence
    * overlap makes this an upper-bound estimate, ties broken count
    * desc → length desc → bigram asc for determinism). All comparisons
    * are integer products — oracle-exact at any SF.
    *
    * Scale: one explode + two doc-keyed aggregations + a per-doc rn=1
    * window on the bigram counts — every shuffle keyed by doc_id (high
    * cardinality), no joins beyond the doc-keyed assembly. Same plan
    * family as [[repetitionProfile]].
    */
  /** The gopher stop list — ONE home shared by the relational gate
    * ([[gopherRules]]) and the streaming per-row gate ([[gopherPass]]).
    */
  val GopherStops: Seq[String] =
    Seq("the", "a", "be", "to", "of", "and", "that", "with")

  /** Per-row scala form of the [[gopherRules]] verdict — the streaming
    * funnel's m1 gate, where the relational form's word explode +
    * doc-keyed aggregations would be a stateful shuffle per
    * micro-batch. It IS the compiled kernel
    * ([[graft.functions.QualityKernelOps.gopherPass]], code-point
    * lengths like Spark's `length`), so the streaming funnel, the
    * batch funnel and the trainer labels share one statement of the
    * five rules; null reads as "".
    */
  def gopherPass(text: String): Boolean =
    graft.functions.QualityKernelOps.gopherPass(UTF8String.fromString(text))

  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    // ONE compiled pass per document (round 18): the five rule
    // statistics come from [[graft.functions.QualityKernelOps.gopherStats]] — values
    // identical to the word explode + two doc-keyed aggregations + the
    // bigram rank window this replaces (same split, same code-point
    // lengths, same (cnt desc, len desc) top-bigram tie-break; docs
    // with no words read 0 everywhere exactly like the old left-join
    // coalesces). The whole gate is now a pure map: zero shuffles
    // before the output sort.
    Tables.documents(spark, dir)
      .select(col("doc_id"), length(txt(col("text"))).as("text_len"),
        graft.functions.QualityKernelFunctions
          .gopherStatsF(txt(col("text"))).as("__g"))
      .select(col("doc_id"), col("text_len"),
        col("__g.n_words").as("n_words"),
        col("__g.sum_len").as("sum_len"),
        col("__g.alpha_words").as("alpha_words"),
        col("__g.stop_hits").as("stop_hits"),
        col("__g.top2_chars").as("top2_chars"))
      .withColumn("r_wordcount", col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("r_meanlen",
        col("n_words") > 0 && col("sum_len") >= col("n_words") * 3 &&
          col("sum_len") <= col("n_words") * 10)
      .withColumn("r_alpha",
        col("n_words") > 0 && col("alpha_words") * 10 >= col("n_words") * 8)
      .withColumn("r_stop", col("stop_hits") >= 2)
      .withColumn("r_repeat", col("top2_chars") * 5 <= col("text_len"))
      .withColumn("gopher_pass",
        col("r_wordcount") && col("r_meanlen") && col("r_alpha") &&
          col("r_stop") && col("r_repeat"))
      .orderBy("doc_id")
  }

  /** Per-rule rejection attribution for the gopher gate — WHICH rule
    * does the filtering work: for each of the five rules, total
    * failures and UNIQUE failures (docs that fail ONLY that rule — the
    * docs that rule alone removes from the corpus; rules with zero
    * unique failures are redundant at this corpus and candidates for
    * loosening). The audit every filtering pipeline runs before
    * shipping a threshold change. One pass over [[gopherRules]]'
    * flags: per-doc fail count, a 5-way map-side rule explode, and a
    * 5-key agg (partial aggregation collapses the corpus before the
    * tiny exchange).
    */
  def ruleAttribution(spark: SparkSession, dir: String): DataFrame = {
    val rules = Seq("wordcount" -> "r_wordcount", "meanlen" -> "r_meanlen",
      "alpha" -> "r_alpha", "stop" -> "r_stop", "repeat" -> "r_repeat")
    val nFails = rules.map { case (_, c) =>
      when(!col(c), 1).otherwise(0) }.reduce(_ + _)
    val ex = gopherRules(spark, dir)
      .withColumn("nfails", nFails)
      .select(col("nfails"), explode(array(rules.map { case (n, c) =>
        struct(lit(n).as("rule"), col(c).as("pass")) }: _*)).as("rf"))
    ex.groupBy(col("rf.rule").as("rule"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("rf.pass"), 1L).otherwise(0L)).as("n_fail"),
        sum(when(!col("rf.pass") && col("nfails") === 1, 1L).otherwise(0L))
          .as("n_unique_fail"))
      .withColumn("fail_bp", expr("(10000 * n_fail) div n_docs"))
      .orderBy("rule")
  }

  /** Language-ID heuristic: per-language marker-hit counts → argmax with
    * a deterministic tie-break on marker order. The `lang` column is the
    * (synthetic) label; `predicted` is the heuristic output — agreement
    * is measured, not assumed.
    */
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|and)\\b",
    "de" -> "\\b(der|die|das|und)\\b",
    "es" -> "\\b(el|la|los|y)\\b",
    "fr" -> "\\b(le|la|les|et)\\b")

  /** Appends `predicted` to `df` from its `text` column — the langId
    * heuristic as a reusable single-scan enrichment (hit counts
    * materialize as intermediate columns so codegen evaluates each
    * marker regex once, then drop). Lets composites ([[langId]],
    * CorpusPipeline.curationFunnel) ride ONE documents scan instead of
    * joining the langId query back on doc_id.
    */
  def withLangPredicted(df: DataFrame): DataFrame = {
    val hits = LangMarkers.map { case (l, pat) =>
      size(regexp_extract_all(txt(col("text")), lit(pat), lit(0))).as(s"hits_$l")
    }
    val maxHits = greatest(LangMarkers.map(m => col(s"hits_${m._1}")): _*)
    // first-marker-wins tie-break: deterministic in both engines
    val best = LangMarkers.foldLeft(when(lit(false), lit("x"))) {
      case (acc, (l, _)) =>
        acc.when(col(s"hits_$l") > 0 && col(s"hits_$l") === maxHits, l)
    }.otherwise("unknown")
    df.select(col("*") +: hits: _*)
      .withColumn("predicted", best)
      .drop(LangMarkers.map(m => s"hits_${m._1}"): _*)
  }

  def langId(spark: SparkSession, dir: String): DataFrame =
    withLangPredicted(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("predicted"))
      .orderBy("doc_id")

  /** Language-ID evaluation: the confusion matrix of the [[langId]]
    * marker heuristic against the corpus's ground-truth lang label,
    * with each cell's share of its true-language row (exact bp) — the
    * classifier-eval companion to [[Similarity.clusterPurity]]: before
    * a pipeline trusts a cheap lang filter to route documents, it
    * measures where the filter's mass actually goes (the diagonal is
    * per-language recall; off-diagonal cells are routing leaks).
    * One (lang, predicted)-keyed agg plus a |langs|-row broadcast.
    */
  def langidEval(spark: SparkSession, dir: String): DataFrame = {
    val pred = langId(spark, dir).select(col("lang"), col("predicted"))
    val tot = pred.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    pred.groupBy(col("lang"), col("predicted")).agg(count(lit(1)).as("n"))
      .join(broadcast(tot), Seq("lang"))
      .withColumn("share_bp", expr("(10000 * n) div n_lang"))
      .orderBy("lang", "predicted")
  }

  /** Text normalization for training corpora: lowercase, collapse
    * whitespace runs, strip non-alphanumeric-space chars, trim — the
    * standard preprocessing pass, pure codegen'd expressions.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(txt(c)), "[^a-z0-9 ]", " "), " +", " "))

  def textNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        normalizeText(col("text")).as("norm_text"),
        length(normalizeText(col("text"))).as("norm_len"))
      .orderBy("doc_id")

  /** Corpus length histogram (100-char bins) per language — the
    * data-quality profile every ingestion run reports.
    */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bin", floor(col("n_chars") / lit(100.0)).cast("int"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("bin_chars"))
      .orderBy("lang", "bin")

  /** PII redaction — a first-class preprocessing pass in any real
    * training-data pipeline (strip emails/phones before the corpus
    * ships). Pure regexp_replace chain in the shared Java∩RE2 dialect:
    * a single codegen'd map over the corpus, zero shuffles. The corpus
    * has no organic PII, so a deterministic shell plants one email and
    * one phone per document (same construction in the oracle) — the
    * redaction expressions themselves are production-shaped.
    */
  val EmailPattern = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePattern = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(txt(c), EmailPattern, "[EMAIL]"),
      PhonePattern, "[PHONE]")

  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val planted = concat(
      lit("contact user"), col("doc_id").cast("string"),
      lit("@example.com or 555-"),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
      lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" "), txt(col("text")))
    Tables.documents(spark, dir)
      .withColumn("raw", planted)
      .select(col("doc_id"),
        substring(redactPii(col("raw")), 1, 120).as("redacted_head"),
        size(regexp_extract_all(col("raw"), lit(EmailPattern), lit(0)))
          .cast("int").as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(PhonePattern), lit(0)))
          .cast("int").as("n_phones"))
      .orderBy("doc_id")
  }

  /** PMI collocation extraction — the top word-pair associations of the
    * corpus: pmi(w1,w2) = ln(N·c12 / (c1·c2)) over adjacent-word bigram
    * and unigram counts (N = corpus word count), min support c12 ≥ 5,
    * top-20 by PMI. The vocabulary-keyed joins and counts are the same
    * two-shuffle shape as [[ngramNovelty]]; the final top-k is
    * TakeOrdered. ln of identical rationals is bit-identical
    * cross-engine (the tfidf/bm25 rule); round 4 dp at the surface.
    */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // corpus word count without a second explode: sum of array sizes
    val n = docs.select(sum(size(Shingles.wordArray(col("text"))))
      .as("n")).head.getLong(0)
    val uni = docs.select(explode(Shingles.wordArray(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val cbi = docs.select(explode(Shingles.shingleArray(col("text"), 2)).as("bg"))
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= 5)
    cbi
      .join(uni.select(col("word").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("word").as("w2"), col("c").as("c2")), Seq("w2"))
      .withColumn("pmi",
        round(log(lit(n.toDouble) * col("c12") / (col("c1") * col("c2"))), 4))
      .select(col("w1"), col("w2"), col("c12"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(20)
  }

  /** Log-likelihood-ratio collocations (Dunning 1993) — the
    * significance-tested companion to [[collocations]]' PMI: PMI
    * overweights rare pairs (a hapax bigram of two hapax words maxes
    * it), while the G² statistic scores the 2×2 bigram contingency
    * table (left word is/isn't w1 × right word is/isn't w2) by how
    * implausible independence is GIVEN the sample size — the measure
    * production phrase-mining ranks by. Cells: k11=c12, k12=c1−c12,
    * k21=c2−c12, k22=n−c1−c2+c12 over bigram tokens; G² =
    * 2·Σ k·ln(k·n / (rowTot·colTot)), zero cells contribute 0.
    *
    * Determinism: each ln argument is a fixed-shape double expression
    * over exact integers ((k·n)/(rowTot·colTot) with the same CAST
    * placement in both engines), the four terms sum in fixed
    * left-associative order, and the result rounds to 4 dp before the
    * sort — the bleu/pmi cross-engine double rule. The r12 ADVICE
    * flagged the LIMIT-20 cut on a libm-derived key; measured at
    * sf0.01 the rank-20/21 gap is 0.0988 — 988 rounding quanta, so a
    * 1-ulp ln divergence cannot reorder the cut (re-probe if the
    * fixture corpus changes).
    *
    * Scale posture: ONE corpus tokenize into the pair-count shuffle,
    * staged locally (the frame is vocabulary²-bounded, far smaller
    * than the corpus, and read by four branches: both marginals, the
    * total, and the scored output — re-deriving it would re-scan the
    * corpus per branch); marginals are domain-sized aggregates OF the
    * pair frame, the 1-row total broadcasts, final output is reliable.
    */
  def llrCollocations(spark: SparkSession, dir: String): DataFrame = {
    val bi = Tables.documents(spark, dir)
      .select(explode(Shingles.shingleArray(col("text"), 2)).as("bg"))
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
    Fixpoint.scoped { scope =>
      val pairs = scope.local(
        bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
      val m1 = pairs.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      val m2 = pairs.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
      val tot = pairs.agg(sum(col("c12")).as("n"))
      def term(k: String, rowTot: String, colTot: String): String =
        s"CASE WHEN $k = 0 THEN CAST(0 AS DOUBLE) ELSE ($k) * " +
          s"ln((CAST($k AS DOUBLE) * n) / (CAST($rowTot AS DOUBLE) * ($colTot))) END"
      Fixpoint.reliably(pairs.filter(col("c12") >= 5)
        .join(m1, Seq("w1")).join(m2, Seq("w2"))
        .crossJoin(broadcast(tot))
        .withColumn("llr", expr(
          s"""round(2 * (${term("c12", "c1", "c2")}
             | + ${term("c1 - c12", "c1", "n - c2")}
             | + ${term("c2 - c12", "n - c1", "c2")}
             | + ${term("n - c1 - c2 + c12", "n - c1", "n - c2")}), 4)"""
            .stripMargin))
        .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
          col("llr"))
        .orderBy(col("llr").desc, col("w1").asc, col("w2").asc)
        .limit(20))
    }
  }

  /** Corpus-level n-gram NOVELTY — the inverse of decontamination: for
    * each document, what fraction of its distinct 3-shingles appears in
    * NO other document (document frequency == 1). Low novelty = mostly
    * boilerplate / near-dup content; a standard keep-drop quality
    * signal next to [[qualityScore]] (cf. commands/extract.md quality
    * gates). Two hash-partitioned shuffles — distinct shingle rows by
    * shingle (df count, map-side combined), then back by doc_id — no
    * broadcast, no self-join; linear at 100 TB.
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(Shingles.shingleArray(col("text"), 3))).as("shingle"))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    sh.join(dfreq, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_bp", expr("(10000 * n_novel) div n_shingles"))
      .orderBy("doc_id")
  }

  /** Document fingerprint: min-of-hashes over word 3-shingles (rolling-
    * hash analog, md5-based so the DuckDB oracle can reproduce it
    * bit-for-bit). Computed entirely inside the shingle ARRAY
    * (array_min ∘ transform) — a pure map with zero shuffles; the
    * exploded groupBy formulation would exchange every shingle row.
    * Documents with <3 words have no shingles and are excluded.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Shingles.shingleArray(col("text"), 3).as("__sh"))
      .filter(size(col("__sh")) > 0) // barrier: materialize the array once
      .select(col("doc_id"),
        array_min(transform(col("__sh"), s => md5(s))).as("fingerprint"),
        size(col("__sh")).cast("bigint").as("n_shingles"))
      .orderBy("doc_id")

  /** (doc_id, n_tokens, score) per document with at least one token:
    * the hashed-token score [[qualityClassifier]] and
    * [[calibrationBins]] both read, each non-empty token weighing
    * md5(lower(token)) mapped to [-1000, 1000].
    */
  private def hashedTokenScores(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        filter(split(txt(col("text")), " "), w => length(w) > 0).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("int"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        aggregate(col("toks"), lit(0L), (acc, w) =>
          acc + (conv(substring(md5(lower(w)), 1, 8), 16, 10)
            .cast("long") % 2001L) - 1000L).as("score"))

  /** Hashed-feature linear quality classifier — the fasttext-style
    * model-scoring step of a corpus pipeline, with the model swapped
    * for a deterministic hash-derived weight table so the oracle can
    * reproduce it: weight(token) = md5-hash of the lowercased token
    * mapped to [-1000, 1000]; a document's score is the sum of its
    * token weights (a bag-of-words dot product against an implicit
    * 2^32-bucket weight vector — no vocab, no join). Computed INSIDE
    * the token array (aggregate ∘ filter ∘ split): a pure map with
    * zero shuffles. The TRAIN step that produces such a weight table
    * in-engine is [[QualityTrain.qualityTrain]] (round 16): quantized
    * multinomial-NB warm start + pocket-selected perceptron
    * refinement over the same hashed-bucket family, whose output
    * broadcast onto this scoring shape is exactly the production
    * deployment (or a compiled kernel like `bag_dot` for the hot
    * path — HOFs are interpreted); the plan shape —
    * map-side scoring, no explode — is identical.
    */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    hashedTokenScores(spark, dir)
      .withColumn("verdict",
        when(col("score") >= 0, lit("keep")).otherwise(lit("drop")))
      .orderBy("doc_id")

  /** DSIR-style importance weighting (Data Selection via Importance
    * Resampling, Xie et al. 2023, arXiv:2302.03169): score every raw
    * document by how much its hashed-token distribution resembles a
    * TARGET slice (here lang='en' — in production, a curated
    * high-quality corpus), then select the top-K for training. The
    * paper's feature is hashed n-grams with weight
    * log(p_target/p_raw); this implementation keeps the monotone
    * likelihood-ratio core but in EXACT integer arithmetic so the
    * DuckDB oracle reproduces it bit-for-bit (the determinism rule —
    * no log/double): per 1024-bucket hashed unigram,
    * `w_bp = (target_count+1)·10⁴ div (raw_count+1)` (Laplace-
    * smoothed ratio in basis points), and a document scores the MEAN
    * bucket weight over its tokens.
    *
    * Plan at 100 TB: one tokenize+explode pass; bucket counts
    * aggregate onto ≤1024 keys (map-side combine does nearly all the
    * work — the shuffle moves ≤1024·partitions rows); the weight
    * table is tiny by construction → BROADCAST back onto the token
    * stream; per-doc mean is the one real shuffle (keyed by doc_id,
    * partial-agg); selection is orderBy+limit → TakeOrderedAndProject
    * (per-partition top-K, no global sort). Both distribution
    * estimate and scoring stay single-scan-shaped — the reason DSIR
    * scales where perplexity-filtering (a model forward pass per doc)
    * does not.
    */
  def dsirWeights(spark: SparkSession, dir: String,
      buckets: Int = 1024, topK: Int = 200): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(filter(split(txt(col("text")), " "),
          w => length(w) > 0)).as("w"))
      .withColumn("b",
        conv(substring(md5(lower(col("w"))), 1, 8), 16, 10)
          .cast("long") % buckets)
    val weights = tok.groupBy(col("b"))
      .agg(count(lit(1)).as("raw_n"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tgt_n"))
      .select(col("b"),
        expr("((tgt_n + 1) * 10000) div (raw_n + 1)").as("w_bp"))
    tok.join(broadcast(weights), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("w_bp")).as("w_sum"))
      .select(col("doc_id"), col("n_toks"),
        expr("w_sum div n_toks").as("dsir_bp"))
      .orderBy(col("dsir_bp").desc, col("doc_id"))
      .limit(topK)
  }

  /** The corpus alphabet for [[charEntropy]] — contains no SQL-quote
    * characters, so the generated fragments below need no escaping.
    */
  val EntropyCharSet: Seq[Char] = ('a' to 'z') ++ ('0' to '9') :+ ' '

  /** The DuckDB oracle's text of the entropy arithmetic: per-character
    * counts via the length-delta trick, then the entropy sum in a fixed
    * left-fold order and the charset size. Spark does not execute these:
    * it runs [[graft.functions.QualityKernelOps.charEntropySum]] and
    * [[graft.functions.QualityKernelOps.charsetSize]], one byte scan per
    * row; CharEntropyKernelSpec checks that Spark's evaluation of these
    * fragments and the kernels agree bit for bit on edge texts.
    */
  def entropyCountSql(i: Int): String = {
    val c = EntropyCharSet(i)
    s"length(t) - length(replace(t, '$c', ''))"
  }

  def entropySumSql: String =
    EntropyCharSet.indices.map { i =>
      s"(CASE WHEN c_$i > 0 THEN -(CAST(c_$i AS DOUBLE) / CAST(len AS DOUBLE))" +
        s" * ln(CAST(c_$i AS DOUBLE) / CAST(len AS DOUBLE)) ELSE 0.0 END)"
    }.mkString(" + ")

  def charsetSizeSql: String =
    EntropyCharSet.indices.map(i => s"(CASE WHEN c_$i > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ")

  /** `df` plus `entropy` — [[charEntropy]]'s value of its `text`
    * column, null where `text` is empty or null. Gates stage this column
    * and filter on it instead of joining [[charEntropyFrom]] back.
    */
  def withCharEntropy(df: DataFrame): DataFrame = {
    val t = txt(col("text"))
    df.withColumn("entropy", when(length(t) > 0, round(charEntropySumF(t), 4)))
  }

  /** Character-entropy quality signal: Shannon entropy of the per-doc
    * character distribution in nats (4dp; irrational-value rule). A
    * spam page of one repeated character scores ~0; natural text sits
    * near the alphabet's ceiling — the standard cheap repetitiveness
    * gate next to the token-level Gopher rules ([[repetitionProfile]]),
    * catching sub-token degeneracy ("aaaa…") that word statistics miss.
    * Map-only: one compiled scan per row for each of the entropy and
    * the charset size, no explode.
    */
  def charEntropy(spark: SparkSession, dir: String): DataFrame =
    charEntropyFrom(Tables.documents(spark, dir))

  def charEntropyFrom(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), txt(col("text")).as("t"))
      .withColumn("len", length(col("t")))
      .filter(col("len") > 0)
      .select(col("doc_id"), col("len").cast("int").as("len"),
        charsetSizeF(col("t")).as("n_charset"),
        round(charEntropySumF(col("t")), 4).as("entropy"))
      .orderBy("doc_id")

  /** Per-document verdicts of three independent quality gates — the
    * inputs to [[filterKappa]]: a word-count floor, the Gopher
    * mean-word-length band (both integer-product rules from
    * [[gopherRules]]), and the composite [[qualityScore]] threshold.
    */
  private def gatesFrame(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = Shingles.words(docs.select(col("doc_id"), col("text")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(length(col("word"))).as("sum_len"))
    qualityAnnotated(docs).select(col("doc_id"), col("quality_bp"))
      .join(base, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("n_words"), lit(0L)) >= 50).as("g_words"),
        (coalesce(col("n_words"), lit(0L)) > 0 &&
          coalesce(col("sum_len"), lit(0L)) >= coalesce(col("n_words"), lit(0L)) * 3 &&
          coalesce(col("sum_len"), lit(0L)) <= coalesce(col("n_words"), lit(0L)) * 10)
          .as("g_meanlen"),
        (col("quality_bp") >= 5000).as("g_quality"))
  }

  /** Pairwise Cohen's kappa between the three quality gates — the
    * filter-redundancy audit a pipeline runs before stacking gates
    * (two gates with κ ≈ 1 are one gate paying twice; κ ≈ 0 gates
    * genuinely compose). κ = (N·agree − S) / (N² − S) with
    * S = n_a1·n_b1 + n_a0·n_b0, all exact integers. Negative κ is
    * representable: the div runs on the OFFSET numerator
    * (num + denom ≥ 0, since κ ≥ −1), then shifts back by 10000 —
    * Spark's truncating `div` and DuckDB's flooring `//` agree on
    * nonnegative operands, so the offset keeps the class of
    * negative-division mismatches out (same discipline as the
    * repo-wide basis-point rule).
    *
    * Scale posture: ONE global aggregation (map-side partial combine,
    * 1-row result) computes every pairwise counter in a single corpus
    * pass; the 3-row pair table is unstacked from that row. No join,
    * no window, no per-pair scan.
    */
  def filterKappa(spark: SparkSession, dir: String): DataFrame = {
    val g = gatesFrame(spark, dir)
    val a = g.agg(
      count(lit(1)).as("n"),
      sum(col("g_words").cast("long")).as("w1"),
      sum(col("g_meanlen").cast("long")).as("m1"),
      sum(col("g_quality").cast("long")).as("q1"),
      sum(when(col("g_meanlen") === col("g_quality"), 1L).otherwise(0L)).as("agree_mq"),
      sum(when(col("g_meanlen") === col("g_words"), 1L).otherwise(0L)).as("agree_mw"),
      sum(when(col("g_quality") === col("g_words"), 1L).otherwise(0L)).as("agree_qw"))
    a.selectExpr(
        """stack(3,
          |  'g_meanlen', 'g_quality', agree_mq, m1, q1,
          |  'g_meanlen', 'g_words',   agree_mw, m1, w1,
          |  'g_quality', 'g_words',   agree_qw, q1, w1)
          |AS (gate_a, gate_b, n_agree, n_a1, n_b1)""".stripMargin,
        "n")
      .withColumn("s",
        col("n_a1") * col("n_b1") + (col("n") - col("n_a1")) * (col("n") - col("n_b1")))
      .withColumn("po_bp", expr("(10000 * n_agree) div n"))
      // denom 0 iff both gates are constant (S = N²): the convention is
      // κ = 1 — two constant gates agree perfectly and trivially
      .withColumn("kappa_bp",
        expr("""CASE WHEN n * n - s = 0 THEN 10000
               |ELSE (10000 * (n * n_agree - s + (n * n - s))) div (n * n - s) - 10000
               |END""".stripMargin))
      .select(col("gate_a"), col("gate_b"), col("n"), col("n_agree"),
        col("n_a1"), col("n_b1"), col("po_bp"), col("kappa_bp"))
      .orderBy("gate_a", "gate_b")
  }

  /** Spearman rank correlation between document length and the
    * composite quality score, per language — "is the quality gate just
    * a length gate in disguise?" ([[filterKappa]] asks it of binary
    * verdicts; this asks it of the underlying scores). ρ = 1 −
    * 6·Σd²/(n(n²−1)) over row_number ranks with a deterministic
    * doc_id tie-break (documented: not the tie-averaged textbook
    * variant — identical in both engines, which is what the oracle
    * needs). Exact integers end to end; negative ρ survives the
    * truncate-vs-floor division split via the same offset-div trick
    * as filter_kappa. n³ overflows int64 past ~2M docs per group —
    * decimal(38,0) escape hatch, plan unchanged.
    *
    * Scale posture: two rank windows partitioned by lang + one
    * lang-keyed agg; no joins.
    */
  def spearmanCorr(spark: SparkSession, dir: String): DataFrame = {
    val q = qualityAnnotated(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("quality_bp"))
    val wLen = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    val wQ = Window.partitionBy(col("lang"))
      .orderBy(col("quality_bp").asc, col("doc_id").asc)
    val ranked = q
      .withColumn("r_len", row_number().over(wLen).cast("long"))
      .withColumn("r_q", row_number().over(wQ).cast("long"))
      .withColumn("d2",
        (col("r_len") - col("r_q")) * (col("r_len") - col("r_q")))
    ranked.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("d2")).as("sum_d2"))
      .withColumn("den", col("n") * (col("n") * col("n") - 1L))
      .withColumn("rho_bp",
        expr("""CASE WHEN den = 0 THEN 0
               |ELSE (10000 * (2 * den - 6 * sum_d2)) div den - 10000
               |END""".stripMargin))
      .select(col("lang"), col("n"), col("sum_d2"), col("rho_bp"))
      .orderBy("lang")
  }

  /** Quality-threshold retention sweep: for each cutoff on
    * [[qualityScore]]'s quality_bp, the surviving document count and
    * token mass — the curve a corpus owner reads before fixing the
    * filter threshold (dedup_sweep's twin on the quality axis). All
    * shares exact integer basis points.
    *
    * Scale posture: the 10-row threshold grid broadcasts onto one
    * annotated corpus scan; one threshold-keyed agg + a 1-row totals
    * broadcast. Output bounded by the grid, not the corpus.
    */
  def qualitySweep(spark: SparkSession, dir: String): DataFrame = {
    val q = qualityAnnotated(Tables.documents(spark, dir))
      .select(col("doc_id"), col("tokens"), col("quality_bp"))
    val grid = spark.range(0, 10).select((col("id") * 1000).as("threshold"))
    val tot = q.agg(count(lit(1)).as("n_all"), sum(col("tokens")).as("tok_all"))
    q.crossJoin(broadcast(grid))
      .filter(col("quality_bp") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_keep"), sum(col("tokens")).as("tok_keep"))
      .crossJoin(broadcast(tot))
      .select(col("threshold"), col("n_keep"),
        expr("(10000 * n_keep) div n_all").as("keep_bp"),
        col("tok_keep"),
        expr("(10000 * tok_keep) div tok_all").as("tok_keep_bp"))
      .orderBy("threshold")
  }

  /** Flesch-Kincaid-style readability grade, integer-exact: grade×100
    * = 39·(words/sentence) + 1180·(syllables/word) − 1559, with each
    * rational term truncated by integer `div` (the real FK
    * coefficients ×100; Kincaid et al. 1975). Sentences count
    * terminator runs ([.!?]+, min 1); syllables are vowel-group runs
    * ([aeiouy]+ on the lowercased text) — the standard heuristic. The
    * reading-level gate a curriculum/quality pipeline runs beside
    * [[gopherRules]]; per-doc rows so downstream splits can threshold.
    *
    * Scale posture: pure map-side regex counting over one scan — zero
    * shuffles but the output sort.
    */
  def readability(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        tokenCount(col("text")).cast("bigint").as("words"),
        greatest(lit(1L),
          size(regexp_extract_all(txt(col("text")), lit("[.!?]+"), lit(0)))
            .cast("bigint")).as("sentences"),
        size(regexp_extract_all(lower(txt(col("text"))), lit("[aeiouy]+"),
          lit(0))).cast("bigint").as("syllables"))
      .withColumn("fk_x100",
        expr("""(39 * words) div sentences
               | + (1180 * syllables) div greatest(words, 1) - 1559""".stripMargin))
      .orderBy("doc_id")

  /** Severity-weighted blocklist terms for [[blocklistFilter]] —
    * production swaps in the real safety wordlist; severities make the
    * verdict logic non-trivial (one sev-4 term blocks outright).
    */
  val Blocklist: Seq[(String, Int)] =
    Seq("dup" -> 4, "slow" -> 3, "big" -> 1, "fast" -> 1)

  /** Safety blocklist gate: count per-document hits against a
    * severity-weighted wordlist, score the severity mass, and issue a
    * three-way verdict — block (any severity-4 term, or mass ≥ 20),
    * review (mass ≥ 8), pass. Reports the moderation dashboard: per
    * (source, verdict) document counts and share within the source —
    * the wordlist-tier safety filter every corpus runs before the
    * model-based one ([[piiRedact]]'s sibling on the policy axis).
    *
    * Scale posture: the wordlist is a broadcast map-side join on the
    * token stream; doc scoring is a doc-keyed agg; the dashboard is a
    * (source, verdict) agg with a per-source totals broadcast. Output
    * bounded by sources × 3.
    */
  def blocklistFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val words = Shingles.words(docs.select(col("doc_id"), col("text")))
    val blDf = spark.createDataFrame(Blocklist).toDF("word", "sev")
    val hits = words.join(broadcast(blDf), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        sum(col("sev").cast("long")).as("sev_mass"),
        max(col("sev")).as("max_sev"))
    val scored = docs.join(hits, Seq("doc_id"), "left")
      .withColumn("sev_mass", coalesce(col("sev_mass"), lit(0L)))
      .withColumn("verdict",
        when(coalesce(col("max_sev"), lit(0)) >= 4 ||
          col("sev_mass") >= 20, "block")
          .when(col("sev_mass") >= 8, "review")
          .otherwise("pass"))
    val bySrc = scored.groupBy(col("source"), col("verdict"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("sev_mass")).as("sev_mass"))
    val totals = scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_source"))
    bySrc.join(broadcast(totals), Seq("source"))
      .withColumn("share_bp", expr("(10000 * n_docs) div n_source"))
      .select(col("source"), col("verdict"), col("n_docs"),
        col("share_bp"), col("sev_mass"))
      .orderBy("source", "verdict")
  }

  /** Classifier calibration audit (reliability diagram + per-bin ECE
    * contributions, Guo et al. 2017): bin [[qualityClassifier]]'s
    * hashed-feature score (normalized to a 0–10000 bp pseudo-
    * probability) into deciles and compare each bin's MEAN PREDICTION
    * against the EMPIRICAL pass rate under the independent rule-based
    * gate ([[qualityAnnotated]] quality_bp ≥ 5000) — a well-calibrated
    * scorer has gap ≈ 0 everywhere; a confident-but-wrong one shows
    * the classic over-confidence staircase. The audit every learned
    * quality filter needs before its threshold means anything.
    *
    * All integer: per-token score s ∈ [−1000, 1000] maps to
    * p_bp = clamp((s+1000)·5); bins are p_bp div 1000; means and rates
    * are truncated divisions; gap_bp = |mean − rate|.
    *
    * Scale posture: two map-side scoring passes joined doc-keyed, one
    * 10-row bin agg. Output ≤ 10 rows.
    */
  def calibrationBins(spark: SparkSession, dir: String): DataFrame = {
    val pred = hashedTokenScores(spark, dir)
      .withColumn("p_bp",
        least(lit(10000L), greatest(lit(0L),
          (expr("score div n_tokens") + 1000L) * 5L)))
    val truth = qualityAnnotated(Tables.documents(spark, dir))
      .select(col("doc_id"),
        (col("quality_bp") >= 5000L).cast("long").as("pass"))
    pred.join(truth, Seq("doc_id"))
      .withColumn("bin", least(expr("p_bp div 1000"), lit(9L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("p_bp")).as("sum_p"), sum(col("pass")).as("n_pass"))
      .withColumn("mean_pred_bp", expr("sum_p div n_docs"))
      .withColumn("pass_bp", expr("(10000 * n_pass) div n_docs"))
      .withColumn("gap_bp", abs(col("mean_pred_bp") - col("pass_bp")))
      .select(col("bin"), col("n_docs"), col("mean_pred_bp"),
        col("pass_bp"), col("gap_bp"))
      .orderBy("bin")
  }

  /** BLEU-2-style clipped n-gram precision (Papineni et al. 2002) over
    * deterministic candidate/reference document pairs — the
    * generation-eval primitive a training pipeline runs to score model
    * outputs against references at corpus scale. Pairs are keyed, not
    * windowed: candidate = every even doc_id, reference = doc_id + 1
    * (an id-keyed equi-join — no low-cardinality window over the
    * corpus; production joins on the real (prompt_id) pair key). Per
    * pair and per n ∈ {1, 2}: clipped matches
    * Σ_g min(count_cand(g), count_ref(g)) over the gram vocabulary,
    * precision in integer basis points, and the BLEU-2 geometric mean
    * as floor(sqrt(p1_bp·p2_bp)) — sqrt of a non-square integer is
    * irrational, so a correctly-rounded IEEE sqrt can never sit within
    * one ulp below an integer and the floor is cross-engine exact
    * (perfect squares are exact outright). Pairs where either side has
    * <2 words are excluded (keeps both denominators positive — no
    * div-by-zero under ANSI).
    *
    * Papineni's BREVITY PENALTY is intentionally NOT folded into
    * bleu2_bp: BP = exp(1 − r/c) is irrational and would break the
    * exact-oracle rule (Oracles.scala scaladoc). Instead the integer
    * length ratio it derives from is emitted as `len_ratio_bp` =
    * (10000·c) div r — a consumer applies exp(1 − 10000/len_ratio_bp)
    * reader-side when len_ratio_bp < 10000, and can see outright that
    * a short candidate's unpenalized score is inflated.
    *
    * Scale posture: gram counting is doc-keyed; the clip join is
    * (ref_id, gram)-keyed — high cardinality; per-pair totals are
    * candidate-keyed aggs. No window, no broadcast of anything
    * data-sized, no pair explosion beyond the gram-overlap join.
    */
  def bleuEval(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.scoped { scope =>
      Fixpoint.reliably(pairClipStats(spark, dir, scope)
        .select(col("doc_id"), col("ref_id"), col("n1_total"), col("n1_match"),
          col("n2_total"), col("n2_match"), col("r1_total"))
        .withColumn("p1_bp", expr("(10000 * n1_match) div n1_total"))
        .withColumn("p2_bp", expr("(10000 * n2_match) div n2_total"))
        .withColumn("bleu2_bp",
          floor(sqrt((col("p1_bp") * col("p2_bp")).cast("double"))).cast("long"))
        .withColumn("len_ratio_bp", expr("(10000 * n1_total) div r1_total"))
        .drop("r1_total")
        .orderBy("doc_id"))
    }

  /** ROUGE-1/2 clipped n-gram RECALL (Lin 2004) with the F1 option over
    * the same candidate/reference pairs as [[bleuEval]] — the
    * summarization-eval complement to BLEU's precision: how much of the
    * reference did the candidate cover, vs how much of the candidate is
    * in the reference. The clipped match count Σ_g min(count_cand(g),
    * count_ref(g)) is symmetric, so only the denominators differ:
    * recall divides by reference gram totals, and f1_bp is the exact
    * integer harmonic mean 2·p1·r1 div (p1+r1) of the unigram
    * precision/recall basis points (0 when both are 0 — the guard is on
    * p1_bp + r1_bp, not on the match count, because a >10000-word
    * candidate can floor a nonzero match to 0 bp).
    *
    * Scale posture: identical to [[bleuEval]] — the shared
    * [[pairClipStats]] frame is the whole cost; the recall/F1 surface
    * is one map pass over the bounded pair output.
    */
  def rougeEval(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.scoped { scope =>
      Fixpoint.reliably(pairClipStats(spark, dir, scope)
        .select(col("doc_id"), col("ref_id"), col("n1_match"), col("n2_match"),
          col("r1_total"), col("r2_total"), col("n1_total"))
        .withColumn("r1_bp", expr("(10000 * n1_match) div r1_total"))
        .withColumn("r2_bp", expr("(10000 * n2_match) div r2_total"))
        .withColumn("p1_bp", expr("(10000 * n1_match) div n1_total"))
        .withColumn("f1_bp",
          when(col("p1_bp") + col("r1_bp") === 0, lit(0L))
            .otherwise(expr("(2 * p1_bp * r1_bp) div (p1_bp + r1_bp)")))
        .select(col("doc_id"), col("ref_id"), col("n1_match"), col("n2_match"),
          col("r1_total"), col("r2_total"), col("r1_bp"), col("r2_bp"),
          col("f1_bp"))
        .orderBy("doc_id"))
    }

  /** chrF character-n-gram F-score (Popović 2015) over the same
    * candidate/reference pairs as [[bleuEval]]/[[rougeEval]] — the
    * tokenization-free third leg of the generation-eval trio: BLEU
    * rewards word-gram precision, ROUGE word-gram recall, chrF scores
    * CHARACTER n-gram overlap, which survives morphology/spelling
    * variation and needs no tokenizer at all (why WMT uses it as the
    * robust default). Reference: sacrebleu's chrF2 (β = 2, recall
    * weighted double).
    *
    * Semantics held integer-exact: whitespace is removed first (the
    * standard chrF preprocessing; translate-delete of space/tab/CR/LF —
    * identical semantics in both engines), the comparison slice is the
    * first 1000 non-space chars (bounded eval-slice discipline, same as
    * neardup_eval; documented truncation, not a hidden cap), n ∈
    * {1, 2, 3} (sacrebleu defaults to 1..6; three orders keep the gram
    * explosion at 3 rows/char while preserving the n-gram character of
    * the score). Per n: clipped matches Σ_g min(count_c(g),
    * count_r(g)); totals are DIRECT expressions of the slice length
    * (len − n + 1 — no second agg). Precision/recall in integer bp per
    * n, arithmetic-mean-averaged with one truncating div 3 (chrF's
    * uniform n-average), and chrf2_bp = (5·p·r) div (4·p + r) — the
    * exact integer β=2 F-measure, 0 when 4p+r = 0. Both sides need
    * ≥ 3 chars so every denominator is positive under ANSI.
    *
    * Scale posture: a paired eval is 1:1, so the clip runs INSIDE the
    * pair row — [[graft.functions.GramClip]]'s compiled per-pair hash
    * counting (the never-an-interpreted-HOF kernel discipline)
    * replaces the gram-explode + (ref_id, n, gram) clip join the
    * round-11 ship measured at 6.7 s / sf0.1 (~150 M shuffled gram
    * rows at 10× — a corpus-sized shuffle whose every row joins back
    * to its own pair; the join shape only earns its shuffle when one
    * reference serves MANY candidates, which [[pairClipStats]]'s
    * word-gram consumers keep for exactly that reason). What remains:
    * the sliced projection staged once (ONE parquet scan), a
    * doc_id-keyed pair join, then a pure map pass — O(slice) per pair,
    * no gram shuffle at all (re-measured 6.7 → 1.3 s, 10× ratio
    * 13.4 → map-linear). Final frame written reliably, staging
    * released (zero pins); no window, no pair explosion.
    */
  def chrfEval(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GramClipFunctions.clipF
    Fixpoint.scoped { scope =>
      val docs = scope.local(Tables.documents(spark, dir)
        .select(col("doc_id"),
          substring(translate(coalesce(col("text"), lit("")),
            " \t\r\n", ""), 1, 1000).as("t"))
        .withColumn("len", length(col("t")).cast("bigint")))
      val pairs = docs.filter(col("doc_id") % 2 === 0 && col("len") >= 3)
        .select(col("doc_id"), col("t").as("ct"), col("len").as("clen"))
        .join(docs.filter(col("len") >= 3)
          .select((col("doc_id") - 1).as("doc_id"),
            col("doc_id").as("ref_id"), col("t").as("rt"),
            col("len").as("rlen")),
          Seq("doc_id"))
      val scored = Seq(1, 2, 3).foldLeft(pairs) { (df, n) =>
          df.withColumn(s"m$n", clipF(col("ct"), col("rt"), lit(n)))
            .withColumn(s"p${n}_bp",
              expr(s"(10000 * m$n) div (clen - ${n - 1})"))
            .withColumn(s"r${n}_bp",
              expr(s"(10000 * m$n) div (rlen - ${n - 1})"))
        }
        .withColumn("p_bp", expr("(p1_bp + p2_bp + p3_bp) div 3"))
        .withColumn("r_bp", expr("(r1_bp + r2_bp + r3_bp) div 3"))
        .withColumn("chrf2_bp",
          when(expr("4 * p_bp + r_bp") === 0, lit(0L))
            .otherwise(expr("(5 * p_bp * r_bp) div (4 * p_bp + r_bp)")))
      Fixpoint.reliably(scored
        .select(col("doc_id"), col("ref_id"), col("clen"), col("rlen"),
          col("m1"), col("m2"), col("m3"), col("p_bp"), col("r_bp"),
          col("chrf2_bp"))
        .orderBy("doc_id"))
    }
  }

  /** Word error rate (the ASR/MT edit-distance metric; Levenshtein
    * 1966 at the WORD level, normalized by reference length) over the
    * same candidate/reference pairs as [[bleuEval]]/[[rougeEval]]/
    * [[chrfEval]] — the fourth leg of the generation-eval family:
    * BLEU scores precision, ROUGE recall, chrF character overlap, WER
    * the minimum word-edit alignment cost.
    *
    * Cross-engine trick: neither engine ships a word-level edit
    * distance, but both ship a native byte-level `levenshtein`. Each
    * pair therefore builds its JOINT word vocabulary (distinct words
    * across both sides, ≤ 80 for the 40-word eval slices), assigns
    * each word a dense alphabetical index, and re-encodes both sides
    * as single-byte ASCII strings (chr(32+idx) ∈ '!'..'p' — one byte
    * per word, so byte edits ARE word edits in both engines).
    * levenshtein(enc_cand, enc_ref) is then the exact word-level
    * distance, integer in both engines. wer_bp = (10000·dist) div
    * rlen can exceed 10000 (insertions beyond the reference length —
    * standard WER semantics). Comparison slice: first 40 words per
    * side (bounded eval-slice discipline, same as [[chrfEval]]'s
    * 1000 chars; also what keeps the joint vocab inside the 94
    * printable single-byte codes). Both sides need ≥ 1 word.
    *
    * Scale posture: the sliced-word projection is staged once (one
    * parquet scan feeds pair assembly and both token explodes), the
    * per-pair vocab rank is a window PARTITIONED BY pair id (≤ 80
    * rows per key, never table-wide), the encode join is
    * (pair, word)-keyed, and the final levenshtein is one row per
    * pair with ≤ 40-byte operands — O(40²) integer DP per pair, flat
    * per-pair cost at any corpus size. Final frame written reliably,
    * staging released (zero pins).
    */
  def werEval(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.scoped { scope =>
      val docs = scope.local(Tables.documents(spark, dir)
        .select(col("doc_id"),
          slice(Shingles.wordArray(col("text")), 1, 40).as("ws"))
        .withColumn("nw", size(col("ws")).cast("bigint")))
      val pairs = docs.filter(col("doc_id") % 2 === 0 && col("nw") >= 1)
        .select(col("doc_id"), col("nw").as("clen"))
        .join(docs.filter(col("nw") >= 1)
          .select((col("doc_id") - 1).as("doc_id"),
            col("doc_id").as("ref_id"), col("nw").as("rlen")),
          Seq("doc_id"))
      val cand = docs.join(pairs.select(col("doc_id")), Seq("doc_id"))
        .select(col("doc_id").as("pid"), lit(0).as("side"),
          posexplode(col("ws")))
      val ref = docs.join(pairs.select(col("ref_id").as("doc_id"),
          col("doc_id").as("pid")), Seq("doc_id"))
        .select(col("pid"), lit(1).as("side"), posexplode(col("ws")))
      val toks = scope.local(
        cand.unionByName(ref).withColumnRenamed("col", "word"))
      val vocab = toks.select(col("pid"), col("word")).distinct()
        .withColumn("idx", row_number().over(
          Window.partitionBy(col("pid")).orderBy(col("word"))))
      val enc = toks.join(vocab, Seq("pid", "word"))
        .groupBy(col("pid"), col("side"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"),
            expr("chr(idx + 32)").as("ch")))), x => x.getField("ch")), "")
          .as("s"))
      Fixpoint.reliably(pairs
        .join(enc.filter(col("side") === 0)
          .select(col("pid").as("doc_id"), col("s").as("cs")), Seq("doc_id"))
        .join(enc.filter(col("side") === 1)
          .select(col("pid").as("doc_id"), col("s").as("rs")), Seq("doc_id"))
        .withColumn("dist", levenshtein(col("cs"), col("rs")).cast("bigint"))
        .withColumn("wer_bp", expr("(10000 * dist) div rlen"))
        .select(col("doc_id"), col("ref_id"), col("clen"), col("rlen"),
          col("dist"), col("wer_bp"))
        .orderBy("doc_id"))
    }

  /** [[werEval]]'s output computed IN-ROW — the scale path for WER:
    * the relational plan re-encodes each pair through a joint-vocab
    * dense-rank window + two collect_list aggs (its BASELINE 30×
    * ratio: 5.13×, the round-11 family's one super-linear member,
    * priced as the cost of the byte-bijection verification vehicle),
    * while the computation itself is 1:1 per pair. Here the word-level
    * DP runs inside the pair row through the compiled
    * [[graft.functions.WordEdit.distance]] (the GramClip kernel
    * discipline) — ONE staged scan, one doc_id-keyed pair join, a pure
    * map pass; no vocab window, no union, no per-pair aggregation.
    * Distances are identical to [[werEval]]'s by construction (the
    * word↔byte bijection preserves equality, which is all Levenshtein
    * reads): the oracle is wer_eval's VERBATIM, and OpUnitSpec pins
    * the two operators row-for-row in-engine. Operands are the same
    * bounded 40-word eval slices, so the per-row DP is ≤ 1600 cells.
    */
  def werInRow(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GramClipFunctions.wordEditF
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        slice(Shingles.wordArray(col("text")), 1, 40).as("ws"))
      .select(col("doc_id"), array_join(col("ws"), " ").as("t"),
        size(col("ws")).cast("bigint").as("nw"))
    docs.filter(col("doc_id") % 2 === 0 && col("nw") >= 1)
      .select(col("doc_id"), col("t").as("ct"), col("nw").as("clen"))
      .join(docs.filter(col("nw") >= 1)
          .select((col("doc_id") - 1).as("doc_id"),
            col("doc_id").as("ref_id"), col("t").as("rt"),
            col("nw").as("rlen")),
        Seq("doc_id"))
      .withColumn("dist", wordEditF(col("ct"), col("rt")))
      .withColumn("wer_bp", expr("(10000 * dist) div rlen"))
      .select(col("doc_id"), col("ref_id"), col("clen"), col("rlen"),
        col("dist"), col("wer_bp"))
      .orderBy("doc_id")
  }

  /** Shared candidate/reference pair machinery for [[bleuEval]] and
    * [[rougeEval]] (extracted so the two eval surfaces cannot silently
    * diverge — the same hazard the round-9 advice flagged on the
    * lateness/watermark twins): per eligible pair (candidate = every
    * even doc_id, reference = doc_id + 1, both sides ≥ 2 words so every
    * denominator is positive under ANSI) the clipped gram matches
    * Σ_g min(count_cand(g), count_ref(g)) for n ∈ {1, 2}, plus BOTH
    * denominator families — candidate totals (n1/n2, precision) and
    * reference totals (r1/r2, recall).
    *
    * A paired eval is 1:1, so since round 11 the clips run INSIDE the
    * pair row through the compiled word-gram counter
    * ([[graft.functions.GramClip.clippedWords]] — the same argument
    * that moved chrf_eval in-row): the gram-explode + (ref_id, gram)
    * clip-join formulation this replaced shuffled every gram row back
    * to its own pair (9.2 s on the 10× ScaleCheck corpus even after
    * its frames were staged; re-measured in-row at map speed). The
    * totals need no aggregation at all: a doc with nw words has
    * exactly nw 1-grams and nw−1 2-grams, so both denominator
    * families are projections of the staged word counts. What
    * remains: ONE parquet scan (staged slice), one doc_id-keyed pair
    * join, a pure map pass. Bit-identical outputs — same
    * tokenization (single-space split, blanks dropped), same clip,
    * same ANSI-positive eligibility (nw ≥ 2 both sides ⇔ the old
    * n1_total ≥ 2 filter).
    */
  /** Paired-bootstrap significance test between two candidate systems
    * (Koehn 2004, "Statistical Significance Tests for Machine
    * Translation Evaluation") — the "is system A actually better?"
    * query every eval pipeline runs after scoring. Two deterministic
    * systems over the [[bleuEval]] pairs: A = the full candidate
    * document, B = the candidate truncated to its first ⌈w/2⌉ words (a
    * synthetic degradation, so the harness has a real signal to
    * detect). Per pair, both systems get the unigram clipped-precision
    * score in integer bp against the SAME reference, and the pair-level
    * delta sa − sb feeds a B = 16 Poisson bootstrap
    * ([[graft.etl.Observability.bootstrapMean]]'s exact salted-md5 draw:
    * each replicate re-weights every pair by a deterministic Poisson(1)
    * count, so all replicates ride ONE scan). A replicate votes
    * `a_better` when its weighted delta sum is positive; the consumer
    * reads the vote count as the bootstrap confidence that A beats B.
    *
    * Determinism discipline: the only divisions are the two per-pair
    * precision divs over POSITIVE totals (eligibility nw ≥ 2 on both
    * sides keeps hw = (nw+1) div 2 ≥ 1); the possibly-NEGATIVE delta is
    * never divided — Spark `div` truncates toward zero while DuckDB
    * `//` floors, so a negative mean would round differently across
    * engines. Replicates therefore surface the exact integer weighted
    * SUM (and its sign), not a mean.
    *
    * Scale posture: the clip runs IN-ROW on the 1:1 pair
    * ([[graft.functions.GramClip]] — no gram shuffle, the chrf_eval
    * lesson); one doc_id-keyed pair join; the 16× replicate explode is
    * over the bounded pair-delta frame; the final agg is 16 groups with
    * map-side partials. No window, no broadcast of anything data-sized.
    */
  def evalSignificance(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GramClipFunctions.wordClipF
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      .withColumn("ws", Shingles.wordArray(col("t")))
      .withColumn("nw", size(col("ws")).cast("bigint"))
    val pairs = docs.filter(col("doc_id") % 2 === 0 && col("nw") >= 2)
      .select(col("doc_id"), col("t").as("ct"), col("ws").as("cws"),
        col("nw"))
      .join(docs.filter(col("nw") >= 2)
          .select((col("doc_id") - 1).as("doc_id"), col("t").as("rt")),
        Seq("doc_id"))
      .withColumn("hw", expr("(nw + 1) div 2"))
      .withColumn("ht",
        array_join(slice(col("cws"), lit(1), col("hw").cast("int")), " "))
    val deltas = pairs
      .withColumn("sa",
        expr("10000") * wordClipF(col("ct"), col("rt"), lit(1)))
      .withColumn("sb",
        expr("10000") * wordClipF(col("ht"), col("rt"), lit(1)))
      .select(col("doc_id"),
        (expr("sa div nw") - expr("sb div hw")).as("delta"))
    deltas
      .select(col("doc_id"), col("delta"),
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
      .groupBy(col("b"))
      .agg(sum(col("cnt")).as("n_eff"),
        sum(col("cnt") * col("delta")).as("sum_wdelta"))
      .withColumn("a_better", col("sum_wdelta") > 0)
      .orderBy("b")
  }

  private def pairClipStats(spark: SparkSession, dir: String,
      scope: Fixpoint.Scope): DataFrame = {
    import graft.functions.GramClipFunctions.wordClipF
    val docs = scope.local(Tables.documents(spark, dir)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      .withColumn("nw", size(Shingles.wordArray(col("t"))).cast("bigint")))
    docs.filter(col("doc_id") % 2 === 0 && col("nw") >= 2)
      .select(col("doc_id"), col("t").as("ct"), col("nw").as("cw"))
      .join(docs.filter(col("nw") >= 2)
        .select((col("doc_id") - 1).as("doc_id"), col("doc_id").as("ref_id"),
          col("t").as("rt"), col("nw").as("rw")),
        Seq("doc_id"))
      .select(col("doc_id"), col("ref_id"),
        col("cw").as("n1_total"), (col("cw") - 1).as("n2_total"),
        col("rw").as("r1_total"), (col("rw") - 1).as("r2_total"),
        wordClipF(col("ct"), col("rt"), lit(1)).as("n1_match"),
        wordClipF(col("ct"), col("rt"), lit(2)).as("n2_match"))
  }
}
