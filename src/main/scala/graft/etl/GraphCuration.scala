package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions.{dotF, normF}

/** Graph-based corpus curation: the kNN-graph family a large-scale
  * training-data pipeline builds ON TOP of ANN search — a mutual
  * nearest-neighbor graph over the embedding space, semi-supervised
  * label propagation across it (expanding scarce quality/domain labels
  * to the whole corpus, the SemDeDup/DataComp-style "label the cheap
  * way" step), and k-core decomposition of the crawl link graph (the
  * reference's page graph, crawler-coordinator.md:128-159) to find the
  * densely-linked core worth recrawling vs the peel-off fringe.
  *
  * Scale posture, per operator:
  *  - [[knnGraph]]: the pair join is SIGN-BUCKET-blocked (the
  *    [[Similarity.signBucket]] cells — 8 cells here, 256-4096 in
  *    production with the same expression), never all-pairs; top-k is a
  *    per-node window over node-keyed partitions; the mutuality check
  *    is a self-join on the (node, nbr) pair key — all shuffle keys
  *    high-cardinality.
  *  - [[labelProp]]: each round is one edge-keyed join (votes flow
  *    along edges) + one node-keyed majority agg. Rounds are UNROLLED
  *    at 2; raising past ~4 requires per-round localCheckpoint() per
  *    the repo fixpoint rule (CLAUDE.md; dedup_components 43s→3s).
  *  - [[kcore]]: the classic distributed peel — recompute degrees,
  *    drop nodes below k, restrict edges by semi-join; 3 unrolled
  *    rounds (same checkpoint caveat). Each round is a node-keyed agg
  *    plus two semi-joins, no broadcast of anything data-sized.
  *
  * Determinism: cosines round to 4dp (irrational-value rule); all
  * ranks break ties on ids; votes break ties on (count desc, label
  * asc) — total orders in both engines.
  */
object GraphCuration {

  /** Sentinel for [[knnGraphEdges]]/[[labelProp]]: derive the blocking
    * bits from the corpus size instead of pinning them. */
  val AutoBits: Int = -1

  /** bits = clamp(ceil(log2(n / targetCell)), 3, 12): the cell count
    * that keeps within-cell pair work roughly constant as the corpus
    * grows — the knob BASELINE.md's `knnbits` ScaleCheck measured by
    * hand through round 9 (bits=3 at the base corpus, bits=6 at 10×:
    * exactly what targetCell=1000 derives — 5 cells → 3 bits, 50 cells
    * → 6 bits). Floor 3 = the verified-oracle config; cap 12 (4096
    * cells) = the documented production range, still far below the
    * 64-dim sign-bit budget.
    *
    * Since round 15 the derivation is INTEGER-EXACT — the smallest
    * b ∈ [3,12] with 2^b · targetCell ≥ n (identical to the clamped
    * ceil-log2 on every input, but with zero float ops): the blocking
    * key of oracle-verified queries (`embedding_neardup`, `semdedup`)
    * now derives from this count, and a float log2 can straddle a ulp
    * at exact powers of two (Java `log(2048)/log(2)` = 11.000…002),
    * which would flip the bucket domain between engines. DuckDB
    * replays the same comparison scan bit-for-bit.
    */
  def adaptiveBits(nVectors: Long, targetCell: Long = 1000L): Int =
    (3 to 12).find(b => (1L << b) * targetCell >= nVectors).getOrElse(12)

  /** Directed top-5 cosine neighbor lists, sign-bucket-blocked.
    * `bits` sets the cell count (2^bits): the verified query pins 3
    * (8 cells, oracle-matched); by default ([[AutoBits]]) bits grow
    * with the corpus via [[adaptiveBits]] so per-cell pair work stays
    * constant — the 10× ScaleCheck measures exactly this knob
    * (BASELINE.md round-9/10 posture tables).
    */
  private def directedKnn(spark: SparkSession, dir: String, bits: Int = 3): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("nrm", normF(col("embedding")))
      .filter(col("nrm").isNotNull)
      .withColumn("bucket", Similarity.signBucket(col("embedding"), bits))
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      col("nrm").as("qn"), col("bucket").as("qb"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      col("nrm").as("cn"), col("bucket").as("cb"))
    val scored = q.join(c, col("qb") === col("cb") && col("qid") =!= col("cid"))
      .withColumn("cos",
        round(dotF(col("qe"), col("ce")) / (col("qn") * col("cn")), 4))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("cid"), col("cos"))
  }

  /** Mutual-kNN graph: an edge (src, dst) exists iff each endpoint is
    * in the other's bucket-local top-5. Mutuality is the standard
    * symmetrization that kills hub vectors (a hub appears in thousands
    * of top-k lists but reciprocates only k of them).
    */
  def knnGraphEdges(spark: SparkSession, dir: String,
      bits: Int = AutoBits): DataFrame = {
    val chosen =
      if (bits == AutoBits) adaptiveBits(Tables.embeddings(spark, dir).count())
      else bits
    val k = directedKnn(spark, dir, chosen)
    val rev = k.select(col("qid").as("rqid"), col("cid").as("rcid"))
    k.join(rev, col("qid") === col("rcid") && col("cid") === col("rqid"))
      .filter(col("qid") < col("cid"))
      .select(col("qid").as("src"), col("cid").as("dst"), col("cos"))
  }

  /** Verified query — since round 15 it runs the ADAPTIVE blocking
    * ([[AutoBits]] → [[adaptiveBits]] of the corpus count), not the
    * pinned 3: the integer-exact derivation is pure count arithmetic
    * the DuckDB oracle replays bit-for-bit (same as embedding_neardup/
    * semdedup), so the verified plan IS the plan you'd run at 100× —
    * no more fixed-8-cell quadratic pinned by the oracle. At the
    * verified SFs (n ≤ 8000) the derivation floors at 3, so results
    * are unchanged from the pre-r15 config. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    knnGraphEdges(spark, dir, AutoBits).orderBy("src", "dst")

  /** Semi-supervised label propagation over the mutual-kNN graph:
    * seeds (vec_id % 4 == 0) keep their true label (clamped); two
    * synchronous rounds, each labeling the yet-unlabeled nodes by
    * majority vote among their labeled neighbors (ties: count desc,
    * label asc). Emits every node labeled by round 2 with the round
    * that labeled it — the cheap corpus-wide label expansion run
    * before mixture weighting (labels here are the embeddings table's
    * cluster labels; production swaps in quality/domain annotations).
    */
  def labelProp(spark: SparkSession, dir: String,
      bits: Int = AutoBits): DataFrame = {
    // since round 15 the verified query ALSO runs AutoBits — the count
    // derivation is oracle-replayable (see knnGraph), so the pinned-3
    // escape is no longer needed anywhere
    val edges = knnGraphEdges(spark, dir, bits)
    lpRounds(spark, dir, edges)
      .select(col("node").as("vec_id"), col("lp_round"), col("lp_label"))
      .orderBy("vec_id")
  }

  /** The propagation core of [[labelProp]] over a PRECOMPUTED edge
    * frame (extracted so [[modularity]] scores the same partition
    * without rebuilding the kNN graph): seeds + 2 unrolled majority-
    * vote rounds, returning (node, lp_round, lp_label).
    */
  private def lpRounds(spark: SparkSession, dir: String,
      edges: DataFrame): DataFrame = {
    // undirected adjacency
    val adj = edges.select(col("src").as("node"), col("dst").as("nbr"))
      .union(edges.select(col("dst").as("node"), col("src").as("nbr")))
    val seeds = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 4 === 0)
      .select(col("vec_id").as("node"), col("label").cast("long").as("lp_label"),
        lit(0).as("lp_round"))

    def propagate(labeled: DataFrame, roundNo: Int): DataFrame = {
      val votes = adj
        .join(labeled.select(col("node").as("nbr"), col("lp_label")), Seq("nbr"))
        .join(labeled.select(col("node")), Seq("node"), "left_anti")
        .groupBy(col("node"), col("lp_label"))
        .agg(count(lit(1)).as("n_votes"))
      val w = Window.partitionBy(col("node"))
        .orderBy(col("n_votes").desc, col("lp_label").asc)
      val winners = votes.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("node"), col("lp_label"), lit(roundNo).as("lp_round"))
      labeled.unionByName(winners)
    }

    // 2 unrolled rounds; >4 needs per-round localCheckpoint() (see scaladoc)
    propagate(propagate(seeds, 1), 2)
  }

  /** Newman modularity of the [[labelProp]] partition over the
    * mutual-kNN graph (Newman 2006, "Modularity and community
    * structure in networks") — the community-QUALITY audit run after
    * any propagation/clustering step: Q = Σ_c [L_c/m − (d_c/2m)²]
    * compares each community's intra-edge share against what a random
    * degree-preserving rewiring would give; Q ≈ 0 means the partition
    * explains nothing, Q → 1 means dense communities with sparse
    * cut. Restricted to the LABELED subgraph (both endpoints labeled
    * by round 2 — unlabeled nodes have no community to score).
    *
    * Exactness: NO division anywhere — per community the contribution
    * is reported in exact 1/(4m²) units: q_x4m2 = 4m·L_c − d_c²
    * (Σ over rows, divided by 4m², is the real-valued Q). All-one-
    * community corpora score Σ q_x4m2 = 4m·m − (2m)² = 0, the classic
    * null. 64-bit headroom: |q_x4m2| ≤ 4m² — overflow needs m ≥
    * ~1.5·10⁹ labeled kNN edges (≈ 3·10⁸ vectors at k=5), far beyond
    * the int64 corpora this library targets; past that, promote the
    * two products to decimal(38,0) unchanged.
    *
    * Scale posture: the kNN edge frame is built ONCE and staged (it
    * feeds propagation and the scoring joins); labels stage once
    * (three consumers); the scored-edge frame is (src)(dst)-keyed
    * equi-joins; every aggregate is community-keyed (domain-sized
    * output) plus one 1-row m broadcast. No window beyond
    * propagation's per-node vote rank, no division, no cartesian.
    */
  def modularity(spark: SparkSession, dir: String,
      bits: Int = AutoBits): DataFrame =
    Fixpoint.scoped { scope =>
      val edges = scope.local(knnGraphEdges(spark, dir, bits))
      val lbl = scope.local(lpRounds(spark, dir, edges)
        .select(col("node"), col("lp_label")))
      val le = scope.local(edges
        .join(lbl.select(col("node").as("src"), col("lp_label").as("la")),
          Seq("src"))
        .join(lbl.select(col("node").as("dst"), col("lp_label").as("lb")),
          Seq("dst"))
        .select(col("la"), col("lb")))
      val mdf = le.agg(count(lit(1)).as("m"))
      val deg = le.select(col("la").as("lp_label"))
        .unionAll(le.select(col("lb").as("lp_label")))
        .groupBy(col("lp_label")).agg(count(lit(1)).as("degree_sum"))
      val intra = le.filter(col("la") === col("lb"))
        .groupBy(col("la").as("lp_label"))
        .agg(count(lit(1)).as("intra_edges"))
      val nodes = lbl.groupBy(col("lp_label")).agg(count(lit(1)).as("n_nodes"))
      Fixpoint.reliably(nodes
        .join(intra, Seq("lp_label"), "left")
        .join(deg, Seq("lp_label"), "left")
        .crossJoin(broadcast(mdf))
        .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
        .withColumn("degree_sum", coalesce(col("degree_sum"), lit(0L)))
        .withColumn("q_x4m2",
          expr("4 * m * intra_edges - degree_sum * degree_sum"))
        .select(col("lp_label"), col("n_nodes"), col("intra_edges"),
          col("degree_sum"), col("m"), col("q_x4m2"))
        .orderBy("lp_label"))
    }

  /** Peel-round safety cap, shared with the DuckDB oracle's unroll.
    * The Spark loop stops EARLY at the fixpoint (a peel that removes
    * nothing); the oracle unrolls exactly this many peels, which are
    * identities past convergence — and if a pathological graph ever
    * needed more, BOTH engines would have done exactly [[
    * KcoreMaxRounds]] rounds, so the two surfaces agree either way.
    * 12 = 4× the deepest convergence measured across the 1×-100×
    * tiers (3 rounds at every tier, BASELINE.md round 17).
    */
  val KcoreMaxRounds = 12

  /** 3-core of the crawl link graph — ADAPTIVE peel to the fixpoint
    * (VERDICT r16 item 6; the fixed 3-round unroll either under-peels
    * deeper graphs — a WRONG 3-core — or silently saturates, and the
    * components closure's 3→6 round growth at 100× says round counts
    * DO grow with scale): repeatedly drop nodes with undirected
    * degree < 3 and the edges touching them until a round removes
    * nothing, capped at [[KcoreMaxRounds]]. Emits surviving nodes
    * with their residual degree — the densely-linked core
    * (recrawl-priority set); fringe pages peel off. The convergence
    * round count lands in `Fixpoint.lastRounds("kcore")` (the last
    * round is the no-op that PROVES the fixpoint), so ScaleCheck
    * publishes round growth per tier instead of asserting it.
    *
    * Lineage discipline: a dynamic loop needs per-round eager
    * checkpoints (the components-closure rule — persist alone leaves
    * Catalyst re-optimizing an exponentially nesting tree), and the
    * convergence witness is the edge count the checkpoint
    * materialization already pays for. Peeling only removes edges, so
    * count-unchanged == set-unchanged.
    */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Crawl.edges(spark, dir).filter(col("src") =!= col("dst"))
    // undirected simple edge set (canonical src < dst)
    val und = e0.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

    def peel(edges: DataFrame): DataFrame = {
      val deg = edges.select(col("a").as("node"))
        .union(edges.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= 3).select(col("node"))
      edges
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
    }

    Fixpoint.scoped { scope =>
      var edges = scope.local(und)
      var n = edges.count()
      var rounds = 0
      var stable = n == 0
      while (!stable && rounds < KcoreMaxRounds) {
        val next = scope.local(peel(edges))
        val m = next.count()
        rounds += 1
        stable = m == n
        edges = next
        n = m
      }
      Fixpoint.lastRounds.put("kcore", rounds)
      Fixpoint.reliably(
        edges.select(col("a").as("node"))
          .union(edges.select(col("b").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg"))
          .orderBy("node"))
    }
  }

  /** Common-neighbor link prediction over the crawl link graph
    * (Liben-Nowell & Kleinberg 2003): for every non-adjacent node pair
    * sharing ≥ 2 neighbors, the Jaccard overlap of their (capped)
    * neighborhoods — the top-20 predicted edges are the "pages that
    * SHOULD link but don't" recrawl/discovery candidates, the graph
    * analog of [[knnGraph]]'s embedding neighbors.
    *
    * Neighborhoods are CAPPED at the 20 smallest-id neighbors per node
    * before the wedge join — the production guard that bounds the
    * candidate-pair blowup at Σ cap·deg instead of Σ deg² (a 100 TB
    * web graph's hub pages would otherwise emit billions of wedges;
    * same knob family as [[knnGraph]]'s `bits`). Jaccard uses the
    * capped degree on both sides, so the ratio stays ≤ 1 by
    * construction and exact in integer basis points.
    *
    * Scale posture: the wedge join is keyed by the shared neighbor
    * (high-cardinality); pair counting is a (a, b)-keyed agg; existing
    * edges leave via an anti-join on the same pair key; the global
    * top-20 is a TakeOrdered, never a full sort.
    */
  def jaccardLinkpred(spark: SparkSession, dir: String): DataFrame = {
    val und = Crawl.edges(spark, dir).filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val adj0 = und.select(col("a").as("node"), col("b").as("nbr"))
      .union(und.select(col("b").as("node"), col("a").as("nbr")))
    val wN = Window.partitionBy(col("node")).orderBy(col("nbr").asc)
    val adj = adj0.withColumn("rk", row_number().over(wN))
      .filter(col("rk") <= 20).select(col("node"), col("nbr"))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val pairs = adj.as("x")
      .join(adj.as("y"),
        col("x.nbr") === col("y.nbr") && col("x.node") < col("y.node"))
      .groupBy(col("x.node").as("a"), col("y.node").as("b"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= 2)
    pairs.join(und, Seq("a", "b"), "left_anti")
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), Seq("b"))
      .withColumn("uni", col("deg_a") + col("deg_b") - col("common"))
      .withColumn("jaccard_bp", expr("(10000 * common) div uni"))
      .select(col("a"), col("b"), col("common"), col("deg_a"),
        col("deg_b"), col("jaccard_bp"))
      .orderBy(col("jaccard_bp").desc, col("a").asc, col("b").asc)
      .limit(20)
  }
}
