package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.GroupTopK

/** Synthetic URL/link corpus + the reference's URL-pipeline operators.
  *
  * The reference's crawl loop operates on URLs (queue.json items —
  * /root/reference/scripts/crawler-queue.sh:45-51). The test tables have
  * no URL column, so `linkCorpus` derives a deterministic link table from
  * `orders ⋈ customer`; the DuckDB oracle re-derives it with the exact
  * same expressions (see [[graft.Oracles.LinksCte]]).
  *
  * Operators (SURVEY.md §2.2/§2.5/§2.6/§2.7):
  *  - F3 URL normalizer      (crawler-queue.sh:220-228)
  *  - F1 URL skip filter     (crawler-queue.sh:199-218, config/limits.yaml:187-202)
  *  - F2/X6 same-domain      (crawler-queue.sh:180-197)
  *  - X5 URL → slug          (scripts/extract-jina.sh:54)
  *  - S6 engine router       (commands/extract.md:92-155, config/security.yaml:10-141)
  *  - J1/F4 visited anti-join (crawler-coordinator.md:202)
  *  - U1 frontier union       (crawler-queue.sh:36-51)
  *  - T1/T5 priority pop      (crawler-queue.sh:57-77)
  *  - X1 score_link + X3 priority (relevance-scorer SKILL.md:93-119,195-208)
  *  - X13 page-id generator   (crawler-queue.sh:172-176)
  *
  * All operators are pure Column/DataFrame functions: predicates stay
  * inside Catalyst (codegen + pushdown), no UDFs.
  */
object Urls {

  /** Deterministic link table: one row per order. ~1.5k rows/SF-0.001,
    * scales linearly; the join is a broadcast (customer is the smaller
    * side at every SF we run, and Spark's AQE handles it beyond).
    */
  def linkCorpus(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .select(
        o("o_orderkey").as("link_id"),
        concat(
          lit("https://"), lower(col("c_mktsegment")), lit(".example.com/page/"),
          col("o_orderkey").cast("string"),
          when(col("o_orderkey") % 11 === 0, ".pdf")
            .when(col("o_orderkey") % 13 === 0, "/login")
            .when(col("o_orderkey") % 5 === 0, "#sec")
            .when(col("o_orderkey") % 7 === 0, "/")
            .otherwise("")).as("url"),
        lower(concat(col("o_orderstatus"), lit(" "), col("o_orderpriority")))
          .as("anchor_text"),
        lower(col("c_name")).as("context"),
        (col("o_orderkey") % 4).cast("int").as("depth"),
        (col("o_custkey") % 11).cast("int").as("parent_relevance"))
  }

  // ---- F3: URL normalizer: strip #anchor, strip trailing '/' ----
  def normalizeUrl(url: Column): Column =
    regexp_replace(regexp_replace(url, "#.*", ""), "/$", "")

  def urlNormalize(spark: SparkSession, dir: String): DataFrame =
    linkCorpus(spark, dir)
      .select(col("link_id"), col("url"), normalizeUrl(col("url")).as("norm_url"))
      .orderBy("link_id")

  // ---- F1: URL skip filter (extension + path patterns) ----
  // The FULL reference lists (crawler-queue.sh:204-216), with the
  // reference's own matching semantics: extensions are case-sensitive
  // and end-anchored (grep -qE), path patterns are case-insensitive
  // SUBSTRING matches (grep -qiE) — no boundary anchoring. Both stay in
  // the Java∩RE2 subset, and Oracles reuses these exact constants so
  // the DuckDB side can never drift.
  val SkipExtPattern =
    "\\.(pdf|zip|exe|mp4|mp3|wav|avi|mov|png|jpe?g|gif|svg|ico|css|js|woff2?|ttf|eot)$"
  val SkipPathPattern =
    "(?i)login|logout|signup|signin|register|cart|checkout|payment|download|/static/|/assets/|/images/|/fonts/"

  // The patterns above are the SPEC (and the oracle's implementation).
  // The Spark side evaluates them via the compiled skip_url kernel —
  // a literal suffix/substring scan, NOT a regex NFA, and crucially a
  // SINGLE expression node: a 33-predicate Column chain would get the
  // computed url inlined into every predicate once Catalyst hoists the
  // filter into a join condition (measured 10× regression). Oracle
  // hash-equality at three SFs proves the regex ↔ literal equivalence.
  def keepUrl(url: Column): Column =
    !graft.functions.UrlFunctions.skipUrl(url)

  def urlSkipFilter(spark: SparkSession, dir: String): DataFrame =
    linkCorpus(spark, dir)
      .withColumn("norm_url", normalizeUrl(col("url")))
      .filter(keepUrl(col("norm_url")))
      .select("link_id", "norm_url")
      .orderBy("link_id")

  // ---- F2/X6: domain extraction + same-domain filter ----
  def urlDomain(url: Column): Column =
    regexp_extract(url, "^https?://([^/]+)", 1)

  def sameDomain(spark: SparkSession, dir: String): DataFrame =
    linkCorpus(spark, dir)
      .withColumn("domain", urlDomain(col("url")))
      .filter(col("domain") === "building.example.com")
      .select("link_id", "url", "domain")
      .orderBy("link_id")

  // ---- X5: URL → filesystem-safe slug (≤50 chars) ----
  def urlSlug(url: Column): Column =
    substring(
      regexp_replace(regexp_replace(url, "^https?://", ""), "[^a-zA-Z0-9]", "_"),
      1, 50)

  def urlSlugQuery(spark: SparkSession, dir: String): DataFrame =
    linkCorpus(spark, dir)
      .select(col("link_id"), col("url"), urlSlug(col("url")).as("slug"))
      .orderBy("link_id")

  // ---- S6: engine router (security-driven source selection) ----
  // Reference semantics: internal/private targets are forced to the local
  // browser engine; a whitelist goes to the hosted reader; the rest to the
  // local extractor (config/security.yaml:10-141). Domains here are the
  // synthetic corpus ones, patterns keep the reference's shape.
  val InternalPattern  = "(machinery|household)\\.example\\.com"
  val SensitivePattern = "/(login|admin|logout|signin)(/|$)"

  def engineFor(url: Column): Column =
    when(urlDomain(url).rlike(InternalPattern), "playwright")
      .when(url.rlike(SensitivePattern), "playwright")
      .when(urlDomain(url) === "building.example.com", "jina")
      .otherwise("trafilatura")

  def engineRoute(spark: SparkSession, dir: String): DataFrame =
    linkCorpus(spark, dir)
      .select(col("link_id"), col("url"), engineFor(col("url")).as("engine"))
      .orderBy("link_id")

  // ---- J1/F4: frontier ∖ visited (left-anti join on normalized URL) ----
  // The scale-defining op of the crawl loop: at 100 TB this is a shuffled
  // anti-join on the URL key; no driver-side membership set ever exists.
  def frontierMinusVisited(frontier: DataFrame, visited: DataFrame): DataFrame =
    frontier.join(visited, Seq("norm_url"), "left_anti")

  def visitedAntijoin(spark: SparkSession, dir: String): DataFrame = {
    val links = linkCorpus(spark, dir)
      .withColumn("norm_url", normalizeUrl(col("url")))
    val visited = links.filter(col("link_id") % 3 === 0).select("norm_url")
    frontierMinusVisited(links, visited)
      .select("link_id", "norm_url")
      .orderBy("link_id")
  }

  // ---- J1 at 100 TB: Bloom-filter runtime pre-filter ----

  /** Bits per Bloom filter (2^20 = 128 KiB broadcast as a word map) and
    * hash count. At k=3, a 50k-key visited set in 2^20 bits gives
    * ~0.2% false positives; production sizes m from the visited-set
    * count (m ≈ 10·n keeps FP < 1% at k=3) — the plan is unchanged.
    */
  val BloomBits = 1 << 20
  val BloomHashes = 3

  /** links with a `maybe_visited` flag: the Bloom filter over `visited`
    * is built as ONE aggregation (explode k probe positions → bit_or
    * per 64-bit word), and probed via k BROADCAST HASH JOINS on the
    * word index — each probe is an O(1) hashtable lookup into the
    * ~16K-row word table. (The tempting 1-row map/array-column
    * broadcast is rejected: Spark MapType `element_at` is a LINEAR
    * scan of the entries, which turned the probe into
    * |links|·k·|words| work — measured 9.6s vs sub-second for the
    * joins.) Missing word ⇒ all-zero bits ⇒ definitely new. Bloom
    * guarantee: a truly visited row is NEVER flagged false; false
    * positives only route extra rows into the exact path. Reference
    * analog: crawler-coordinator.md:202's visited check, scaled to the
    * regime where the visited set dwarfs executor memory but its Bloom
    * image does not.
    */
  def bloomRoute(links: DataFrame, visited: DataFrame): DataFrame = {
    def posCol(c: Column, seed: Int): Column =
      pmod(xxhash64(lit(seed), c), lit(BloomBits.toLong))
    val positions = (1 to BloomHashes).map(s => posCol(col("norm_url"), s))
    val words = visited.select(explode(array(positions: _*)).as("p"))
      .select(expr("int(p div 64)").as("w"), expr("shiftleft(1L, int(p % 64))").as("b"))
      .groupBy("w").agg(expr("bit_or(b)").as("bits"))
    val probed = (1 to BloomHashes).foldLeft(links) { (df, s) =>
      df.withColumn(s"p$s", posCol(col("norm_url"), s))
        .join(broadcast(words.select(col("w").as(s"w$s"), col("bits").as(s"b$s"))),
          expr(s"int(p$s div 64) = w$s"), "left")
    }
    val maybe = (1 to BloomHashes)
      .map(s => expr(
        s"(coalesce(b$s, 0L) & shiftleft(1L, int(p$s % 64))) != 0"))
      .reduce(_ && _)
    // NULL norm_url must route into the exact anti-join (which keeps
    // null-keyed rows, same as visitedAntijoin), not vanish because a
    // NULL probe flag fails both branch filters downstream.
    probed.withColumn("maybe_visited", coalesce(maybe, lit(true)))
      .drop((1 to BloomHashes).flatMap(s => Seq(s"p$s", s"w$s", s"b$s")): _*)
  }

  /** frontier ∖ visited with Bloom pre-filtering — same result set as
    * [[visitedAntijoin]] (the oracle is the plain anti-join; Bloom
    * false positives are re-checked, never emitted), but only the
    * `maybe_visited` sliver shuffles into the exact anti-join; the
    * definitely-new majority bypasses the shuffle entirely map-side.
    * At 100 TB that turns the crawl loop's dominant shuffle into a
    * shuffle over ~|visited| + FP·|frontier| rows. UrlsSpec pins the
    * no-false-negative guarantee and the routing selectivity.
    *
    * Honest crossover note: at bench scale (150K frontier rows) the
    * filter build + probe joins cost MORE than the anti-join they
    * bypass (~2s vs 0.8s) — the prefilter wins only once the exact
    * anti-join's shuffle is the bottleneck (both sides large), which
    * is precisely the 100 TB regime this exists for.
    */
  def bloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    val links = linkCorpus(spark, dir)
      .withColumn("norm_url", normalizeUrl(col("url")))
    val visited = links.filter(col("link_id") % 3 === 0).select("norm_url")
    // both branches consume the routed stream: materialize it once
    // (localCheckpoint, the fixpoint rule) instead of re-running the
    // scan + probe joins per branch
    val routed = Fixpoint.reliably(bloomRoute(links, visited))
    val definiteNew = routed.filter(!col("maybe_visited"))
      .select("link_id", "norm_url")
    val checked = routed.filter(col("maybe_visited"))
      .select("link_id", "norm_url")
      .join(visited, Seq("norm_url"), "left_anti")
    definiteNew.unionByName(checked).orderBy("link_id")
  }

  /** Anchor-text aggregation — the link-graph enrichment a web-scale
    * training corpus attaches to every crawl target: what the web
    * CALLS a page (its inbound anchor texts) is a quality/topic
    * signal independent of the page body. Two-level aggregation:
    * (domain, anchor) counts, then the top-5 anchors per domain by
    * count (ties break lexicographically). The rank≤5 filter over a
    * single-expression row_number window is rewritten to the native
    * GroupTopK heap plan by RewriteRankFilterToGroupTopK — map-side
    * pre-prune, no full sort per domain. At 100 TB the first agg is
    * the only full-data shuffle (keyed by (domain, anchor) —
    * high cardinality, no hot key); the second operates on the
    * already-tiny count table. Reference analog: the link-context
    * scoring inputs (relevance-scorer SKILL.md:93-119).
    */
  def anchorText(spark: SparkSession, dir: String): DataFrame = {
    val counts = linkCorpus(spark, dir)
      .select(urlDomain(col("url")).as("domain"), col("anchor_text"))
      .groupBy(col("domain"), col("anchor_text"))
      .agg(count(lit(1)).as("n_links"))
    GroupTopK.topK(counts, 5, "rank", Seq("domain"),
        col("n_links").desc, col("anchor_text").asc)
      .select(col("domain"), col("rank").cast("int").as("rank"),
        col("anchor_text"), col("n_links"))
      .orderBy("domain", "rank")
  }

  // ---- U1: queue insert-if-absent (union + keyed dedup) ----
  // Deterministic dedup: keep max priority / min depth per URL (the
  // reference keeps the first insert; max/min is order-independent and
  // therefore reproducible under any partitioning).
  def frontierUnion(spark: SparkSession, dir: String): DataFrame = {
    val links = linkCorpus(spark, dir)
      .withColumn("norm_url", normalizeUrl(col("url")))
      .withColumn("priority", (col("parent_relevance") + col("depth")).cast("int"))
    val a = links.filter(col("link_id") % 2 === 0)
    val b = links.filter(col("link_id") % 3 === 0)
      .withColumn("priority", (col("priority") + 1).cast("int"))
    a.unionByName(b)
      .groupBy("norm_url")
      .agg(max("priority").as("priority"), min("depth").as("depth"),
        count(lit(1)).as("n_sources"))
      .orderBy("norm_url")
  }

  // ---- T1/T5: priority-queue pop (top-1 per domain, batch analog) ----
  def frontierPop(spark: SparkSession, dir: String): DataFrame = {
    val links = linkCorpus(spark, dir)
      .withColumn("norm_url", normalizeUrl(col("url")))
      .withColumn("domain", urlDomain(col("norm_url")))
      .withColumn("priority", (col("parent_relevance") + col("depth")).cast("int"))
    GroupTopK.topK(links, 3, "rn", Seq("domain"),
        col("priority").desc, col("norm_url").asc)
      .select("domain", "rn", "norm_url", "priority")
      .orderBy("domain", "rn")
  }

  // ---- T1 politeness: per-domain fetch scheduling ----
  // The reference fetches at most a few urls per host per round
  // (config/limits.yaml:105 crawl delay). The batch analog assigns each
  // url a fetch WAVE: rank within its domain (priority-ordered), k urls
  // per wave. Windowed per domain — the shuffle key is the domain, so
  // scheduling 100 TB of frontier is one exchange; each wave is then a
  // ready-to-run Sources.fetch input with per-partition rate caps.
  // Cardinality note: the synthetic corpus has only 5 domains (worst
  // case — 5 window tasks); a real frontier has millions of hosts, so
  // the domain key distributes. Per-domain ranking is irreducibly
  // per-domain; a single hot host is capped by maxWave, not by the plan.
  def politenessBatches(spark: SparkSession, dir: String,
      perWave: Int = 2, maxWave: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val links = linkCorpus(spark, dir)
      .withColumn("norm_url", normalizeUrl(col("url")))
      .filter(keepUrl(col("norm_url")))
      .withColumn("domain", urlDomain(col("norm_url")))
      .withColumn("priority", (col("parent_relevance") + col("depth")).cast("int"))
    val w = Window.partitionBy(col("domain"))
      .orderBy(col("priority").desc, col("norm_url").asc)
    links.withColumn("rn", row_number().over(w))
      .withColumn("wave", expr(s"(rn + ${perWave - 1}) div $perWave").cast("int"))
      .filter(col("wave") <= maxWave)
      .select(col("domain"), col("wave"), col("rn"), col("norm_url"), col("priority"))
      .orderBy("domain", "rn")
  }

  // ---- X1: score_link (topic-regex relevance 0-10) ----
  // +3 url match, +5 anchor match, +2 context match, cap at 10
  // (relevance-scorer SKILL.md:93-119). Pure when/otherwise chain —
  // whole-stage-codegen friendly, no UDF.
  def scoreLink(url: Column, anchor: Column, context: Column, topic: String): Column =
    least(lit(10),
      when(url.rlike(topic), 3).otherwise(0)
        + when(anchor.rlike(topic), 5).otherwise(0)
        + when(context.rlike(topic), 2).otherwise(0)).cast("int")

  val LinkTopic = "(?i)urgent|high|building"

  def scoreLinkQuery(spark: SparkSession, dir: String): DataFrame =
    linkCorpus(spark, dir)
      .select(col("link_id"), col("url"), col("anchor_text"),
        scoreLink(col("url"), col("anchor_text"), col("context"), LinkTopic)
          .as("link_score"))
      .orderBy("link_id")

  // ---- X3: queue priority = link score + parent-relevance bonus ----
  // Canonical formula (relevance-scorer SKILL.md:195-208); the other two
  // in-repo variants are doc drift (SURVEY.md §2.3 X3 note).
  def priority(linkScore: Column, parentRelevance: Column): Column =
    (linkScore
      + when(parentRelevance >= 8, 3)
        .when(parentRelevance >= 5, 1)
        .otherwise(0)).cast("int")

  def priorityCalc(spark: SparkSession, dir: String): DataFrame =
    linkCorpus(spark, dir)
      .withColumn("link_score",
        scoreLink(col("url"), col("anchor_text"), col("context"), LinkTopic))
      .select(col("link_id"), col("link_score"), col("parent_relevance"),
        priority(col("link_score"), col("parent_relevance")).as("priority"))
      .orderBy("link_id")

  // ---- X13: sequential zero-padded page-id assignment ----
  // Dense global sequence (crawler-queue.sh:172-176) WITHOUT a global
  // window (never monotonically_increasing_id — not dense, partition-
  // dependent; never Window.orderBy() unpartitioned — single-partition
  // exchange, every row through one task). Two-phase instead:
  //   1. shard = lexicographic prefix of the ordering key (a prefix is
  //      monotone under the sort, so shards are contiguous runs of the
  //      global order) → per-shard row_number, distributed window;
  //   2. exclusive prefix counts per shard, computed on the tiny
  //      per-shard aggregate (|shards| rows) via a broadcast inequality
  //      join — no single-partition Exchange anywhere in the plan;
  //   global id = shard offset + local row_number. Bit-identical to the
  //   serial form (same oracle SQL), but the full table only ever moves
  //   through hash-partitioned exchanges.
  def pageIdGen(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // two consumers (window branch + counts branch) — materialize once
    // so the normalize+skip regexes run once, not per branch; reliable
    // checkpoint, not persist (round-10 lifecycle: nothing stays
    // pinned). At scale this is the frontier checkpoint the crawl loop
    // keeps anyway.
    val links = Fixpoint.reliably(linkCorpus(spark, dir)
      .withColumn("norm_url", normalizeUrl(col("url")))
      .filter(keepUrl(col("norm_url")))
      // prefix length 37 reaches past the longest domain into the first
      // path digit — enough spread for this corpus; any prefix is correct.
      .withColumn("shard", substring(col("norm_url"), 1, 37))
      .select(col("norm_url"), col("shard")))
    val wLocal = Window.partitionBy(col("shard")).orderBy(col("norm_url"))
    val counts = links.groupBy(col("shard")).agg(count(lit(1)).as("n"))
    val offsets = counts.as("a")
      .join(broadcast(counts.as("b")), col("b.shard") < col("a.shard"), "left")
      .groupBy(col("a.shard").as("shard"))
      .agg(coalesce(sum(col("b.n")), lit(0L)).as("offset"))
    links
      .withColumn("rn", row_number().over(wLocal))
      .join(broadcast(offsets), Seq("shard"))
      .select(col("norm_url"),
        format_string("%03d", col("offset") + col("rn")).as("page_id"))
      .orderBy("norm_url")
  }
}
