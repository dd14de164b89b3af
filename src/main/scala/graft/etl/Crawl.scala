package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The crawl fixpoint (SURVEY.md §3.2 / §7.2 phase 7): frontier(t+1) =
  * prioritize(filter(expand(frontier(t)))) ∖ visited(t), iterated to a
  * bounded depth. The reference runs this one URL at a time
  * (crawler-coordinator.md loop); the Spark-native form expands a WHOLE
  * frontier level per iteration — each iteration is a distributed
  * join/filter/anti-join pass, the driver only sequences levels.
  *
  * The verified instance runs over a deterministic link graph derived
  * from `orders` (src = o_custkey mod C, dst = o_orderkey mod C, with C
  * = |customer|), relevance = dst mod 11, prune threshold 5 (F8), max
  * depth 3 (F5). The DuckDB oracle unrolls the ≤3 levels as chained
  * CTEs — no recursion required at the reference's own bound.
  *
  * Scale posture: frontier and visited stay distributed (anti-join, not
  * a driver-side set); per-level results are eagerly materialized to
  * FAST local checkpoints ([[Fixpoint.Scope.local]], round 19 — the old
  * per-level reliable checkpoint paid a disk write+read round trip per
  * level) with only the final result on reliable storage, and every
  * pinned block is released before the operator returns (composing two
  * graph queries needs no harness scrub); the frontier side of the
  * expand join is broadcast (bounded by the node universe). 100 TB
  * graphs keep the same plan with the frontier broadcast replaced by a
  * shuffle join when it outgrows the driver, per-level reliable
  * checkpoints restored for executor-loss tolerance, and the
  * checkpoint dir pointed at shared storage.
  */
object Crawl {

  val RelevanceThreshold = 5 // config/limits.yaml:119 skip_threshold
  val MaxDepth = 3           // config/limits.yaml:102 max_depth

  /** Deterministic edge list from orders (distinct src→dst pairs). */
  def edges(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).count()
    Tables.orders(spark, dir)
      .select((col("o_custkey") % c).as("src"), (col("o_orderkey") % c).as("dst"))
      .distinct()
  }

  /** BFS from node 0: returns (node, depth of first visit). */
  def crawlBfs(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.scoped { scope =>
      val e = scope.persist(edges(spark, dir))
      var visited = spark.range(1)
        .select(lit(0L).as("node"), lit(0).as("depth"))
      var frontier = visited.select(col("node"))
      for (d <- 1 to MaxDepth) {
        // materialize per level: bounded lineage. Round 19: levels are
        // FAST local checkpoints (the hits_scores lifecycle) — the old
        // per-level reliable checkpoint paid a disk write+read round
        // trip per level for state only the final result reads; only
        // the result itself goes to reliable storage below.
        val next = scope.local(e
          .join(broadcast(frontier.withColumnRenamed("node", "src")), Seq("src"))
          .select(col("dst").as("node"))
          .distinct()
          .filter(col("node") % 11 >= RelevanceThreshold) // F8 prune
          .join(visited, Seq("node"), "left_anti")        // J1 dedup
          .select(col("node"), lit(d).as("depth")))
        visited = visited.unionByName(next)
        frontier = next.select(col("node"))
      }
      // materialize the union while the level locals are alive — the
      // returned frame reads only the reliable checkpoint
      Fixpoint.reliably(visited.orderBy("node"))
    }

  /** Priority-frontier crawl (the reference's actual loop, T1+X3+J1+U1:
    * queue of discovered links, pop best-priority, expand, repeat under
    * a page cap). Scalable form: batch-pop the top-P per round instead
    * of one URL at a time — the queue is a DataFrame, the pop is a
    * total-ordered sort+limit, candidates accumulate from ALL visited
    * pages exactly like the reference's queue.json.
    *
    * priority = link_score(dst) + parent bonus (X3 canonical formula via
    * Urls.priority); deterministic dedup takes max priority over parents.
    */
  def crawlPriority(spark: SparkSession, dir: String,
      rounds: Int = 3, popPerRound: Int = 5): DataFrame =
    Fixpoint.scoped { scope =>
      val e = scope.persist(edges(spark, dir))
      var visited = spark.range(1)
        .select(lit(0L).as("node"), lit(0).as("round"),
          lit(0L).as("priority"))
      for (r <- 1 to rounds) {
        val cand = e
          .join(broadcast(visited.select(col("node").as("src"))), Seq("src"))
          .withColumn("prio",
            Urls.priority((col("dst") % 11).cast("int"),
              (col("src") % 11).cast("int")).cast("bigint"))
          .groupBy(col("dst"))
          .agg(max(col("prio")).as("priority"))
          .join(visited.select("node"),
            col("dst") === col("node"), "left_anti")
        // fast local per-round pops, reliable final — crawlBfs's
        // round-19 lifecycle
        val selected = scope.local(cand
          .orderBy(col("priority").desc, col("dst").asc)
          .limit(popPerRound)
          .select(col("dst").as("node"), lit(r).as("round"), col("priority")))
        visited = visited.unionByName(selected)
      }
      Fixpoint.reliably(visited.orderBy("node"))
    }

  /** Link-graph PageRank, 3 damped power iterations — the classic
    * crawl-frontier / corpus-curation quality signal (what CommonCrawl-
    * style pipelines rank hosts by; complements the per-link lexical
    * score in Urls.scoreLink). All-INTEGER mass in parts-per-million:
    * every contribution is `pr div outdeg` and damping is
    * `150000 + (85·inbound) div 100`, so both engines compute identical
    * bigints — no float summation order to flake on. Dangling-node mass
    * is dropped (standard simplification; renormalizing it is a
    * parameter choice, not a plan change).
    *
    * Each iteration = one join edges⋈mass (hash on src) + one groupBy
    * dst — the distributed power-iteration plan. Iterations are unrolled
    * declaratively (3 levels deep, edges/nodes persisted); at 100 TB
    * you'd checkpoint mass per iteration to cut lineage, exactly like
    * the crawl fixpoint does per level.
    */
  /** Per-node triangle participation via DEGREE-ORDERED orientation —
    * the standard distributed triangle count (the clustering/cohesion
    * signal behind community detection and spam-graph pruning). Each
    * undirected edge is oriented from the lower-(degree, id) endpoint
    * to the higher, turning the graph into a DAG where every triangle
    * survives as exactly one path x→y→z plus its closing edge x→z —
    * three equi-joins total, each hash-partitioned on a node key. The
    * orientation is the scale trick: out-degree is bounded by O(√E)
    * (a hub's edges all point INTO it), so the wedge join never
    * explodes on hot nodes the way a naive src-src self-join would.
    * The per-node counts are orientation-independent, so the oracle
    * enumerates triangles naively in canonical a<b<c order instead.
    */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame = {
    val und = edges(spark, dir)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("l"),
        greatest(col("src"), col("dst")).as("h"))
      .distinct()
    val deg = und.select(col("l").as("node"))
      .union(und.select(col("h").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("l"), col("deg").as("dl")), Seq("l"))
      .join(deg.select(col("node").as("h"), col("deg").as("dh")), Seq("h"))
    val oriented = withDeg.select(
        when(col("dl") < col("dh") ||
            (col("dl") === col("dh") && col("l") < col("h")),
          struct(col("l").as("s"), col("h").as("d")))
          .otherwise(struct(col("h").as("s"), col("l").as("d"))).as("o"))
      .select(col("o.s").as("src"), col("o.d").as("dst"))
    // read 3× by the wedge join below — checkpointed, never pinned
    val orientedCk = Fixpoint.reliably(oriented)
    val tri = orientedCk.as("e1")
      .join(orientedCk.as("e2"), col("e1.dst") === col("e2.src"))
      .join(orientedCk.as("e3"),
        col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("node"))
  }

  def pagerankIter(spark: SparkSession, dir: String, iters: Int = 3): DataFrame =
    Fixpoint.scoped { scope =>
      // e stays persisted across the two staging jobs (nodes, eDeg) —
      // its orders-scan + distinct would otherwise run twice; released
      // when the scope exits, once the result is on reliable storage
      val e = scope.persist(edges(spark, dir))
      val nodes = scope.local(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      // round 19 (guide §2.4: remove shuffles from the round body): the
      // out-degree joins onto the edge list ONCE, outside the loop — the
      // old round body recomputed deg from a fresh edge scan and
      // re-broadcast it every round (3 extra scans + aggs + broadcast
      // builds in the unrolled plan). Join reorder only ((e⋈mass)⋈deg →
      // (e⋈deg)⋈mass — inner equi-joins, identical rows), so pr_ppm is
      // bit-identical.
      val eDeg = scope.local(
        e.join(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")),
          Seq("src")))
      var mass = nodes.withColumn("pr_ppm", lit(1000000L))
      for (_ <- 1 to iters) {
        val contrib = eDeg
          .join(mass.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"), expr("pr_ppm div outdeg").as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("inbound"))
        mass = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (lit(150000L) + expr("(85 * coalesce(inbound, 0)) div 100")).as("pr_ppm"))
      }
      // materialize the result while the locals are alive, then release
      Fixpoint.reliably(mass.orderBy("node"))
    }

  /** PERSONALIZED PageRank from seed node 0 — the locality-aware twin
    * of [[pagerankIter]]: all restart mass returns to the seed
    * (pr = 0.15·1[node=seed]·10⁶ ppm + 0.85·inbound), so scores decay
    * with distance from the seed instead of measuring global
    * authority. This is the "crawl outward from THIS entry url" /
    * "rank pages around THIS topic hub" primitive (the reference's
    * crawl is seed-rooted — crawler-coordinator.md:113's entry_url —
    * and PPR is its principled scoring). Same integer-ppm mass and
    * unrolled-iteration oracle as pagerankIter; zero-mass nodes are
    * dropped (PPR's sparsity IS the feature: mass only reaches the
    * seed's neighborhood, and at 100 TB the frontier only carries
    * nonzero rows).
    */
  def pprSeed(spark: SparkSession, dir: String, iters: Int = 3): DataFrame =
    Fixpoint.scoped { scope =>
      // UNROLL GUARD: at the default 3-round unroll the nested analyzed
      // plan is fine (the oracle unrolls identically), but Catalyst
      // re-optimizes the whole nested tree each round — raising `iters`
      // past ~4 REQUIRES ending each round in `Fixpoint.reliably(mass)`
      // (NOT persist(): persist truncates recomputation, not the
      // analyzed tree — the dedup_components 43s→3s lesson).
      // Persist lifecycle: the result is materialized inside the
      // operator and e is released before returning — nothing stays
      // pinned, no harness scrub needed (r9 verdict item 2).
      val e = scope.persist(edges(spark, dir)) // see pagerankIter's persist note
      val nodes = scope.local(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      // degree fused onto the edge list once — see [[pagerankIter]]'s
      // round-19 note (same join reorder, bit-identical mass)
      val eDeg = scope.local(
        e.join(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")),
          Seq("src")))
      val restart = when(col("node") === 0L, 150000L).otherwise(0L)
      var mass = nodes.withColumn("pr_ppm",
        when(col("node") === 0L, 1000000L).otherwise(0L))
      for (_ <- 1 to iters) {
        val contrib = eDeg
          .join(mass.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"), expr("pr_ppm div outdeg").as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("inbound"))
        mass = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (restart + expr("(85 * coalesce(inbound, 0)) div 100")).as("pr_ppm"))
      }
      Fixpoint.reliably(mass.filter(col("pr_ppm") > 0).orderBy("node"))
    }

  /** Out-degree distribution in power-of-two buckets — the power-law
    * audit run before trusting degree-dependent designs (the
    * [[triangleCounts]] degree orientation, frontier partitioning,
    * skew salting): a heavy tail here predicts hot keys downstream.
    * Buckets are an explicit integer CASE (never floor(log2(·)) —
    * FP log at power-of-two boundaries is libm-dependent), so both
    * engines agree exactly.
    */
  /** HITS hubs-and-authorities (Kleinberg 1999), two unrolled mutual-
    * reinforcement rounds over the crawl link graph: authority(j) =
    * Σ_{i→j} hub(i), hub(i) = Σ_{i→j} authority(j), each renormalized
    * to a 0–1000 integer scale by its max ([[pagerankIter]]'s sibling
    * — PageRank finds globally-endorsed pages, HITS separates the
    * DIRECTORY pages that point at good content from the content
    * itself, which is exactly the crawl-frontier split: hubs are worth
    * re-expanding, authorities worth re-fetching). Normalization is
    * the shifted-free division (scores nonnegative): s' = (1000·s) div
    * max(s), exact in both engines.
    *
    * Scale posture: each half-round is one edge-keyed join + one
    * node-keyed agg + a 1-row max broadcast; two rounds unrolled
    * (fixpoint checkpoint rule applies past ~4).
    */
  def hitsScores(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.scoped { scope =>
      val e = scope.persist(edges(spark, dir).filter(col("src") =!= col("dst")))
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()

      // the agg frame feeds both the max and the rescale, and each round
      // feeds the next — the eager per-half-round materialization stops
      // the plan doubling (fixpoint rule). Intermediates use the FAST
      // local checkpoint (released at scope exit, once the final result
      // is on reliable storage); only the result itself is reliable.
      // Round 19 MEASURED the no-checkpoint variant (drop the local,
      // rely on ReuseExchange like the r18 tfidf rejection): 4.2 →
      // 25.9 s at sf0.1 — here each half-round feeds the NEXT one, so
      // the un-truncated tree COMPOUNDS ×2 per half-round and the
      // replays are real, not notional. The staging stays.
      def norm(df: DataFrame, c: String): DataFrame = {
        val d = scope.local(df)
        val m = d.agg(greatest(max(col(c)), lit(1L)).as("m"))
        d.crossJoin(broadcast(m))
          .select(col("node"), expr(s"(1000 * $c) div m").as(c))
      }

      var hub = nodes.withColumn("h", lit(1000L))
      var auth = nodes.withColumn("a", lit(0L))
      for (_ <- 1 to 2) {
        auth = norm(e.join(hub.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node")).agg(sum(col("h")).as("a")), "a")
        hub = norm(e.join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
          .groupBy(col("src").as("node")).agg(sum(col("a")).as("h")), "h")
      }
      // final join still reads `nodes` (lazy over e) and the half-round
      // locals — materialize it before the scope exit releases them
      Fixpoint.reliably(nodes
        .join(auth, Seq("node"), "left")
        .join(hub, Seq("node"), "left")
        .select(col("node"), coalesce(col("a"), lit(0L)).as("auth_1000"),
          coalesce(col("h"), lit(0L)).as("hub_1000"))
        .orderBy("node"))
    }

  def degreeDistribution(spark: SparkSession, dir: String): DataFrame = {
    val deg = edges(spark, dir).groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg"))
    val bucket = when(col("outdeg") < 2, 0)
      .when(col("outdeg") < 4, 1).when(col("outdeg") < 8, 2)
      .when(col("outdeg") < 16, 3).when(col("outdeg") < 32, 4)
      .when(col("outdeg") < 64, 5).otherwise(6)
    val cells = deg.withColumn("bucket", bucket)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_nodes"))
    val tot = cells.agg(sum(col("n_nodes")).as("total"))
    cells.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_nodes"),
        expr("(10000 * n_nodes) div total").as("share_bp"))
      .orderBy("bucket")
  }

  /** Multi-seed reachability profile: BFS from the nodes with id < 8
    * (a fixed modular seed set, NOT "the 8 smallest ids" — ids absent
    * from the derived graph simply contribute no seed; the oracle
    * applies the same `node < 8` predicate), 3 levels, reporting per
    * level the newly-reached nodes, the
    * cumulative reach, and its share of the node universe — the
    * "how much of the graph can this seed set see" curve that sizes a
    * crawl's seed list ([[crawlBfs]] walks ONE seed with the
    * relevance prune; this measures pure reachability for the seed-
    * selection decision). Same per-level materialized-frontier
    * discipline as crawlBfs; all shares exact integer basis points.
    *
    * Scale posture: per level one edge-keyed join + anti-join against
    * the visited set, frontier persisted per level (bounded lineage);
    * the node-universe total is a 1-row broadcast. Output = 4 rows.
    */
  def bfsLayers(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.scoped { scope =>
      val e = scope.persist(edges(spark, dir).filter(col("src") =!= col("dst")))
      val nodes = scope.local(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      val nTotal = nodes.count()
      var visited = scope.local(nodes.filter(col("node") < 8)
        .select(col("node"), lit(0).as("level")))
      var frontier = visited.select(col("node"))
      for (lvl <- 1 to 3) {
        val next = scope.local(e
          .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .select(col("node"), lit(lvl).as("level")))
        visited = visited.unionByName(next)
        frontier = next.select(col("node"))
      }
      // only the 4-row level summary outlives the operator — it alone
      // goes to reliable storage; the level frontiers are locals
      val perLevel = Fixpoint.reliably(visited.groupBy(col("level"))
        .agg(count(lit(1)).as("n_new"))) // read by the triangle too
      val cum = perLevel.select(col("level").as("l2"), col("n_new").as("n2"))
      perLevel.join(broadcast(cum), col("l2") <= col("level"))
        .groupBy(col("level"), col("n_new"))
        .agg(sum(col("n2")).as("n_cum"))
        .withColumn("reach_bp", expr(s"(10000 * n_cum) div ${nTotal}L"))
        .select(col("level"), col("n_new"), col("n_cum"), col("reach_bp"))
        .orderBy("level")
    }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the undirected edge multiset (each edge in
    * both orientations, so the statistic is symmetric) — positive ⇒
    * hubs link hubs (social-graph shape), negative ⇒ hubs link leaves
    * (web/crawl shape, and what a healthy frontier looks like). The
    * number that tells a crawler whether link-following concentrates
    * or disperses at scale.
    *
    * Exactness: the n-scaled integer moments (n·Σxy−ΣxΣy etc.) are
    * exact 64-bit integers; the final r is one sqrt product + one
    * division of those EXACT integers, rounded to 4dp — IEEE sqrt and
    * division are correctly rounded, so both engines produce the same
    * double from the same integers (the irrational-value rule).
    * 64-bit headroom (ANSI throws on overflow): |n·Σxy| ≤ n²·dmax²
    * (n = oriented edge count, dmax = max degree), in-bounds while
    * n·dmax < 3·10⁹ — e.g. 10⁸ edges at dmax ≤ 30. Past that, promote
    * the moment sums to decimal(38,0) (bound becomes n·dmax < 10¹⁹);
    * surface math unchanged.
    *
    * Scale posture: a node-keyed degree agg, two edge-keyed joins to
    * attach endpoint degrees, one global moment agg. One row out.
    */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val und = edges(spark, dir).filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val both = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
    val deg = both.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val xy = both
      .join(deg.select(col("u"), col("deg").as("x")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("deg").as("y")), Seq("v"))
    xy.agg(count(lit(1)).as("n"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_n2"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("varx_n2"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("vary_n2"))
      .withColumn("r_4dp",
        when(col("varx_n2") === 0 || col("vary_n2") === 0, lit(0.0))
          .otherwise(round(col("cov_n2").cast("double") /
            (sqrt(col("varx_n2").cast("double")) *
              sqrt(col("vary_n2").cast("double"))), 4)))
  }

  /** Link reciprocity: the share of directed edges whose reverse edge
    * also exists (self-loops excluded) — the graph-health companion to
    * [[triangleCounts]]: a crawl frontier dominated by reciprocal
    * links is circling a site cluster instead of expanding. One
    * semi-join of the edge list against its own transpose — keyed
    * hash join on (src, dst), no enumeration of missing pairs.
    */
  def reciprocity(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir).filter(col("src") =!= col("dst"))
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val recip = e.join(rev, Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_recip"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(recip))
      .withColumn("reciprocity_bp", expr("(10000 * n_recip) div n_edges"))
  }
}
