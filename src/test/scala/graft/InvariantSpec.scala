package graft

import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.etl.{Chunker, Scoring, Shingles, Sinks, Urls}

/** Property-style invariant tests (SURVEY.md §5): the reference's iron
  * rules checked over a seeded random corpus in one DataFrame pass per
  * property (batch form of ScalaCheck forAll — same coverage, no
  * per-case Spark round trips).
  */
class InvariantSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val rnd = new Random(42)
  private val words = Seq("spark", "window", "stream", "the", "a", "x",
    "join", "", "login", "verify", "#", "/", "?", "ünïcödé")
  private val corpus: Seq[String] = (1 to 300).map { _ =>
    (0 until rnd.nextInt(120)).map(_ => words(rnd.nextInt(words.size)))
      .mkString(" ")
  } ++ Seq("", " ", "  ", "spark" * 500)

  private lazy val docs = corpus.zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("score ∈ [0,10] for every input (SKILL.md:116-117 iron rule)") {
    val bad = docs.select(Scoring.scorePage(col("text"), Scoring.PageTopic).as("s"))
      .filter(col("s") < 0 || col("s") > 10).count()
    assert(bad == 0)
  }

  test("truncation never exceeds limit + notice; notice iff truncated") {
    val lim = 50
    val out = docs.select(col("text"),
        Scoring.truncateWithNotice(col("text"), lim).as("t"))
      .as[(String, String)].collect()
    out.foreach { case (orig, t) =>
      val o = Option(orig).getOrElse("")
      if (o.length > lim) {
        assert(t.endsWith(s"[truncated ${o.length} chars]"))
        assert(t.length <= lim + s" [truncated ${o.length} chars]".length)
      } else assert(t == o)
    }
  }

  test("chunks cover the text exactly, lengths ≤ size, count ≤ 50") {
    val size = 40; val ov = 10
    val chunks = Chunker.chunk(docs, col("text"), size, ov)
      .select(col("doc_id"), col("chunk_idx"), col("chunk"))
      .as[(Long, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    corpus.zipWithIndex.foreach { case (t, i) =>
      val cs = chunks(i.toLong)
      assert(cs.size <= 50)
      assert(cs.forall(_.length <= size))
      val covered = cs.head + cs.tail.map(_.drop(ov)).mkString
      assert(t.startsWith(covered) || covered == t,
        s"doc $i: chunks must reassemble a prefix (cap) or the whole text")
    }
  }

  test("normalizer is idempotent and output never has anchor/trailing slash") {
    val urls = corpus.take(100).map(t => s"https://a.com/$t#frag/")
      .toDF("url")
    val n1 = urls.select(Urls.normalizeUrl(col("url")).as("u"))
    val twice = n1.select(col("u"), Urls.normalizeUrl(col("u")).as("u2"))
      .as[(String, String)].collect()
    twice.foreach { case (u, u2) =>
      assert(u == u2, "idempotent")
      assert(!u.contains("#"))
      assert(!u.endsWith("/"))
    }
  }

  test("anti-join output is always disjoint from visited") {
    val frontier = docs.select(col("text").as("norm_url"))
    val visited = docs.filter(col("doc_id") % 2 === 0)
      .select(col("text").as("norm_url"))
    val overlap = Urls.frontierMinusVisited(frontier, visited)
      .join(visited, Seq("norm_url"), "inner").count()
    assert(overlap == 0)
  }

  test("shingle count = max(0, nonEmptyWords - 2) for k=3") {
    val got = Shingles.wordShingles(docs, 3)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    corpus.zipWithIndex.foreach { case (t, i) =>
      val n = t.split(" ", -1).count(_.nonEmpty)
      val expect = math.max(0, n - 2)
      assert(got.getOrElse(i.toLong, 0L) == expect, s"doc $i ($n words)")
    }
  }

  test("components: keeper is a member, is minimal, labels are closed under edges") {
    // random sparse pair set over 60 nodes — checks the fixpoint against
    // the defining properties rather than one hand-built example
    val pairEdges = (1 to 80).map { _ =>
      val a = rnd.nextInt(60).toLong; val b = rnd.nextInt(60).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    val comp = graft.etl.Dedup.dedupComponentsFrom(
        pairEdges.toDF("doc_a", "doc_b"))
      .as[(Long, Long, Long)].collect()
    val label = comp.map(c => c._1 -> c._2).toMap
    // component id is the min member (keeper minimality + membership)
    comp.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"component $cid keeper wrong")
      assert(members.forall(_._3 == members.size), s"component $cid size wrong")
    }
    // closure: both endpoints of every edge share a label
    pairEdges.foreach { case (a, b) =>
      assert(label(a) == label(b), s"edge ($a,$b) spans components")
    }
  }

  test("incremental closure == full recompute on a random pair graph " +
      "(quotient-merge equality, round 18)") {
    // snapshot = pairs with both endpoints off the delta residue,
    // delta = pairs touching a new doc — the query's own split,
    // exercised over a random sparse graph so the equality is checked
    // against the defining property, not one hand-built example
    val pairEdges = (1 to 140).map { _ =>
      val a = rnd.nextInt(80).toLong; val b = rnd.nextInt(80).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    val pairs = pairEdges.toDF("doc_a", "doc_b")
    val full = graft.etl.Dedup.dedupComponentsFrom(pairs)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val priorPairs = pairs
      .filter(col("doc_a") % 10 =!= 0 && col("doc_b") % 10 =!= 0)
    val deltaPairs = pairs
      .filter(col("doc_a") % 10 === 0 || col("doc_b") % 10 === 0)
    val prior = graft.etl.Dedup.dedupComponentsFrom(priorPairs)
    val inc = graft.etl.Dedup.mergeDeltaIntoClosure(prior, deltaPairs)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(inc == full, "merged closure must equal the full recompute " +
      "(labels AND cluster sizes)")
  }

  test("dedup_components_incremental equals the full closure at sf0.001 " +
      "(VERDICT r17 item 1 equality pin)") {
    val dir = "/root/testdata/sf0.001"
    val full = graft.etl.Dedup.componentsFrame(spark, dir)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val inc = graft.etl.Dedup.dedupComponentsIncremental(spark, dir)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(full.nonEmpty, "vacuous: no clustered docs at sf0.001")
    assert(inc == full)
  }

  test("pagerank: every node labeled, mass within damping bounds") {
    val pr = graft.etl.Crawl.pagerankIter(spark, "/root/testdata/sf0.001")
      .as[(Long, Long)].collect()
    val n = pr.length
    assert(n > 0)
    // every per-node mass is >= the damping floor and no node exceeds
    // total initial mass (integer div only ever loses mass)
    assert(pr.forall(_._2 >= 150000L), "node below damping floor")
    assert(pr.forall(_._2 <= 1000000L * n), "node above total mass")
    assert(pr.map(_._1).distinct.length == n, "duplicate node rows")
  }

  test("LSH s-curve: monotone, correct thresholds, prod preset sharper") {
    import graft.etl.Dedup._
    for ((n, r) <- Seq((TestNumHashes, TestBandSize), (ProdNumHashes, ProdBandSize))) {
      // monotone non-decreasing in similarity, pinned at the ends
      val grid = (0 to 100).map(i => candidateProbability(i / 100.0, n, r))
      grid.sliding(2).foreach { case Seq(a, b) => assert(a <= b + 1e-12) }
      assert(grid.head == 0.0 && math.abs(grid.last - 1.0) < 1e-12)
      // the 50% point sits near the analytic threshold (r/n)^(1/r)
      val thresh = math.pow(r.toDouble / n, 1.0 / r)
      assert(math.abs(candidateProbability(thresh, n, r) - 0.5) < 0.2,
        s"threshold estimate off for n=$n r=$r")
    }
    // band math: 8/2 catches true near-dups and passes on dissimilar docs
    assert(candidateProbability(0.9, TestNumHashes, TestBandSize) > 0.99)
    assert(candidateProbability(0.1, TestNumHashes, TestBandSize) < 0.05)
    // production curve is sharper: lower false-positive mass at s=0.2,
    // same high recall at s=0.8
    assert(candidateProbability(0.2, ProdNumHashes, ProdBandSize)
      < candidateProbability(0.2, TestNumHashes, TestBandSize))
    assert(candidateProbability(0.8, ProdNumHashes, ProdBandSize) > 0.99)
    // a mis-tiled configuration is rejected loudly
    assertThrows[IllegalArgumentException](candidateProbability(0.5, 8, 3))
  }

  test("md5 and xxhash64 LSH both recover every exact-duplicate pair") {
    import graft.etl.Dedup
    val base = "spark window stream join filter sort the quick brown fox"
    val ducks = Seq(
      1L -> base, 2L -> base, 3L -> base,            // triplet of exact dups
      4L -> (base + " extra trailing words here"),   // near-dup of the triplet
      5L -> "a completely different document about nothing in particular",
      6L -> "a completely different document about nothing in particular",
      7L -> "unrelated singleton text with enough words to shingle")
      .toDF("doc_id", "text")
    val wantPairs = Set((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L))
    val md5Pairs = Dedup.minhashLshFrom(ducks)
      .as[(Long, Long)].collect().toSet
    val xxPairs = Dedup.minhashLshFast(ducks)
      .as[(Long, Long)].collect().toSet
    // exact dups have identical shingle sets ⇒ recall 1 under ANY hash
    assert(wantPairs.subsetOf(md5Pairs), s"md5 missed: ${wantPairs -- md5Pairs}")
    assert(wantPairs.subsetOf(xxPairs), s"xx missed: ${wantPairs -- xxPairs}")
    // and neither invents a pair out of the unrelated singleton
    assert(!md5Pairs.exists(p => p._1 == 7L || p._2 == 7L))
    assert(!xxPairs.exists(p => p._1 == 7L || p._2 == 7L))
  }

  test("substring dedup: exact clones 100% duplicated, unique docs 0") {
    import graft.etl.Dedup
    val ten = (1 to 10).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      1L -> ten, 2L -> ten, // exact clones: every 8-gram shared
      3L -> (1 to 10).map(i => s"only$i").mkString(" "), // fully unique
      4L -> "too short to gram").toDF("doc_id", "text")
    val got = Dedup.substringDedupFrom(docs)
      .select("doc_id", "n_grams", "n_dup_grams", "dup_bp")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L, 3L)) // <8 words: no gram positions
    assert(got(1L) == ((1L, 3L, 3L, 10000L))) // 10 words -> 3 8-grams
    assert(got(2L) == ((2L, 3L, 3L, 10000L)))
    assert(got(3L) == ((3L, 3L, 0L, 0L)))
  }

  test("span clip: in-row kernel matches the anti-join semantics") {
    import graft.etl.Dedup
    // doc 1 shares its first 8-gram with doc 5 → words 0..7 clipped in
    // BOTH (coverage is all-copies, not first-wins); docs 3/4/6/7 probe
    // the edges: unique doc (nothing clipped), <8 words (no grams, all
    // words kept), doubled spaces (blank words dropped → single-space
    // reassembly), empty text
    val docs = Seq(
      1L -> "a b c d e f g h i j",
      3L -> (1 to 10).map(i => s"only$i").mkString(" "),
      4L -> "too short to gram",
      5L -> "a b c d e f g h x y z w",
      6L -> "p  q",
      7L -> "").toDF("doc_id", "text")
    val got = Dedup.spanClipFrom(docs)
      .as[(Long, Long, Long, String)].collect()
    assert(got.toSeq == Seq(
      (1L, 10L, 8L, "i j"),
      (3L, 10L, 0L, (1 to 10).map(i => s"only$i").mkString(" ")),
      (4L, 4L, 0L, "too short to gram"),
      (5L, 12L, 8L, "x y z w"),
      (6L, 2L, 0L, "p q"),
      (7L, 0L, 0L, "")))
  }

  test("HLL sketch distincts stay inside the configured error band") {
    import org.apache.spark.sql.functions.{approx_count_distinct, countDistinct}
    // known cardinality: 10k distinct keys, skew-heavy repetition
    val rows = (1 to 50000).map(i => (i % 10000).toLong).toDF("k")
    val (exact, approx) = rows
      .agg(countDistinct(col("k")), approx_count_distinct(col("k"), 0.02))
      .as[(Long, Long)].head()
    assert(exact == 10000L)
    val relErr = math.abs(approx - exact).toDouble / exact
    // rsd 0.02 → 5σ headroom keeps this deterministic-in-practice
    assert(relErr < 0.10, s"approx=$approx exact=$exact relErr=$relErr")
  }

  test("render sinks respect their hard char caps") {
    val big = Seq.fill(5000)(("concept-name", "s" * 300))
    assert(Sinks.renderSkill("t", "o" * 9999, big).length <= 30000)
    assert(Sinks.renderPrompt("t", Seq.fill(100)("p" * 5000)).length <= 20000)
  }

  test("approx percentiles stay within 2% of the exact histogram-rank") {
    import org.apache.spark.sql.functions.{array, element_at, lit, percentile_approx}
    val dir = "/root/testdata/sf0.001"
    // the query's own rank-band flags (the oracle-checked contract)
    val flagged = SparkEntry.queries("latency_percentiles_approx")(spark, dir)
      .select("event_type", "p50", "p90", "p99", "p50_ok", "p90_ok", "p99_ok")
      .as[(String, Double, Double, Double, Boolean, Boolean, Boolean)].collect()
    assert(flagged.nonEmpty)
    flagged.foreach { case (t, _, _, _, ok50, ok90, ok99) =>
      assert(ok50 && ok90 && ok99, s"$t: rank-band flag false")
    }
    // raw sketch values within 2% of exact — the value tightness the
    // rank band doesn't itself pin
    val exact = flagged.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val approx = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(percentile_approx(col("value"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("ps"))
      .select(col("event_type"), element_at(col("ps"), 1),
        element_at(col("ps"), 2), element_at(col("ps"), 3))
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (t, (e50, e90, e99)) =>
      val (a50, a90, a99) = approx(t)
      Seq((e50, a50, "p50"), (e90, a90, "p90"), (e99, a99, "p99")).foreach {
        case (e, a, p) =>
          assert(math.abs(a - e) <= math.max(0.02 * math.abs(e), 0.02),
            s"$t $p: approx $a vs exact $e")
      }
    }
  }

  test("round-9 composition wave: novelty bounds + first-doc=10000, head-share bounds, overlap coefficient bounds") {
    val dir = "/root/testdata/sf0.001"
    // ingest_novelty: bounds hold and the earliest doc with grams is
    // 100% novel by construction (nothing precedes it)
    val nov = SparkEntry.queries("ingest_novelty")(spark, dir)
      .select("doc_id", "n_grams", "n_novel", "novel_bp")
      .as[(Long, Long, Long, Long)].collect()
    assert(nov.nonEmpty)
    nov.foreach { case (d, g, n, bp) =>
      assert(n >= 0 && n <= g && bp >= 0 && bp <= 10000, s"doc $d: $n/$g bp=$bp")
    }
    assert(nov.minBy(_._1)._4 == 10000L, "first ingested doc must be all-novel")
    // token_head_share: head is a subset of the vocabulary and of the mass
    val ths = SparkEntry.queries("token_head_share")(spark, dir)
      .select("n_types", "total_occ", "n_head", "head_occ", "head_share_bp")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(ths.nonEmpty)
    ths.foreach { case (ty, to, nh, ho, bp) =>
      assert(nh <= 100 && nh <= ty && ho <= to && bp <= 10000,
        s"head bounds: types=$ty tot=$to n_head=$nh head=$ho bp=$bp")
    }
    // crosslang_overlap: coefficient bounded by the smaller side
    val cl = SparkEntry.queries("crosslang_overlap")(spark, dir)
      .select("n_shared", "n_a", "n_b", "overlap_bp")
      .as[(Long, Long, Long, Long)].collect()
    assert(cl.nonEmpty)
    cl.foreach { case (s, a, b, bp) =>
      assert(s <= math.min(a, b) && bp <= 10000, s"overlap: $s vs ($a,$b) bp=$bp")
    }
    // budget_sample: every stratum delivers exactly its allocation
    // (strata are larger than their allocation at every committed SF)
    // and the total stays within the budget + per-stratum floors
    val samp = SparkEntry.queries("budget_sample")(spark, dir)
      .select("lang", "rn", "n_alloc").as[(String, Int, Long)].collect()
    val perLang = samp.groupBy(_._1)
    perLang.foreach { case (l, rows) =>
      assert(rows.length.toLong == rows.head._3, s"$l: ${rows.length} != alloc")
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length), s"$l ranks gapless")
    }
    val totalAlloc = perLang.values.map(_.head._3).sum
    assert(totalAlloc >= 95 && totalAlloc <= 100 + perLang.size,
      s"allocation drifted from the budget: $totalAlloc")
    // winsorize_values: mean inside the clamp bounds, clip mass <= ~2%
    val wv = SparkEntry.queries("winsorize_values")(spark, dir)
      .select("n_events", "n_clip_low", "n_clip_high", "p1_c", "p99_c", "wmean_c")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(wv.nonEmpty)
    wv.foreach { case (n, lo, hi, p1, p99, m) =>
      assert(p1 <= p99 && m >= p1 && m <= p99, s"mean $m outside [$p1,$p99]")
      assert(lo + hi <= n / 50 + 2, s"clip mass $lo+$hi too large for n=$n")
    }
    // hhi: bounded by the monoculture ceiling and the equal-share floor
    val hhi = SparkEntry.queries("hhi_concentration")(spark, dir)
      .select("n_sources", "hhi").as[(Long, Long)].collect()
    assert(hhi.nonEmpty)
    hhi.foreach { case (k, h) =>
      assert(h <= 100000000L && h >= 100000000L / k - 20000 * k,
        s"hhi $h out of bounds for k=$k")
    }
  }

  test("bloom prefilter == exact anti-join on a random url corpus") {
    // seeded-random frontier/visited with overlaps, unicode, near-misses
    val urls = (1 to 400).map(i => s"https://d${i % 7}.example.com/p/$i") ++
      Seq("", "ünïcödé", "a", "https://d0.example.com/p/1?q=2")
    val frontier = urls.zipWithIndex
      .map { case (u, i) => (i.toLong, u) }.toDF("link_id", "norm_url")
    val visited = urls.filter(_.hashCode % 3 == 0).distinct
      .toDF("norm_url")
    val exact = Urls.frontierMinusVisited(frontier, visited)
      .select("link_id").as[Long].collect().toSet
    val routed = Urls.bloomRoute(frontier, visited)
    // no false negatives: every definitely-new row IS new
    val viaBloom = routed.filter(!col("maybe_visited"))
      .unionByName(routed.filter(col("maybe_visited"))
        .join(visited, Seq("norm_url"), "left_anti"))
      .select("link_id").as[Long].collect().toSet
    assert(viaBloom == exact)
  }

  test("round-6 eval wave: sweep monotonicity, P/R bounds, bootstrap bracket, temperature flattening") {
    val dir = "/root/testdata/sf0.001"
    // dedup_sweep: raising the threshold can only shrink the merge set
    val sw = SparkEntry.queries("dedup_sweep")(spark, dir)
      .select("threshold", "n_pairs", "n_docs")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(sw.sliding(2).forall(p => p(1)._2 <= p(0)._2 && p(1)._3 <= p(0)._3),
      s"dedup_sweep not monotone: ${sw.toSeq}")
    // neardup_eval: TP bounded by both sides; F1 between 0 and 10000
    val ev = SparkEntry.queries("neardup_eval")(spark, dir)
      .select("n_truth", "n_pred", "n_tp", "f1_bp")
      .as[(Long, Long, Long, Long)].head()
    assert(ev._3 <= math.min(ev._1, ev._2) && ev._4 >= 0 && ev._4 <= 10000)
    // bootstrap: the plain corpus mean lies inside the replicate range
    // (deterministic draws → a fixed fact at this SF, not a flake)
    val reps = SparkEntry.queries("bootstrap_mean")(spark, dir)
      .select("mean_tokens_bp").as[Long].collect()
    val plain = SparkEntry.queries("temperature_mix")(spark, dir)
      .agg(sum("n_tokens")).head()
    val docsN = Tables.documents(spark, dir).count()
    val plainBp = 10000L * plain.getLong(0) / docsN
    assert(reps.min <= plainBp && plainBp <= reps.max,
      s"bootstrap range [${reps.min}, ${reps.max}] misses plain mean $plainBp")
    // temperature mix flattens: the largest-mass language is damped,
    // the smallest boosted
    val tm = SparkEntry.queries("temperature_mix")(spark, dir)
      .select("n_tokens", "uplift_bp").as[(Long, Long)].collect()
    assert(tm.maxBy(_._1)._2 <= 0, s"largest lang not damped: ${tm.toSeq}")
    assert(tm.minBy(_._1)._2 >= 0, s"smallest lang not boosted: ${tm.toSeq}")
  }

  test("round-9 graph-curation + boilerplate wave: mutual degree cap, clamped seeds, peel degrees, strip bounds") {
    val dir = "/root/testdata/sf0.001"
    // knn_graph: mutual symmetrization caps every node's degree at k=5
    val eg = SparkEntry.queries("knn_graph")(spark, dir)
      .select("src", "dst").as[(Long, Long)].collect()
    assert(eg.forall(e => e._1 < e._2), "edges not canonical src < dst")
    val deg = (eg.map(_._1) ++ eg.map(_._2)).groupBy(identity).values.map(_.length)
    assert(deg.max <= 5, s"mutual-kNN degree ${deg.max} exceeds k=5")
    // label_prop: ids unique; rounds in 0..2; seeds clamped to truth;
    // every propagated label drawn from the true label domain
    val lp = SparkEntry.queries("label_prop")(spark, dir)
      .select("vec_id", "lp_round", "lp_label").as[(Long, Int, Long)].collect()
    assert(lp.map(_._1).distinct.length == lp.length, "node labeled twice")
    assert(lp.forall(r => r._2 >= 0 && r._2 <= 2))
    val truth = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(lp.count(_._2 == 0) == truth.keysIterator.count(_ % 4 == 0),
      "seed count mismatch")
    assert(lp.filter(_._2 == 0).forall(r => truth(r._1) == r._3),
      "a seed label drifted")
    val dom = truth.values.toSet
    assert(lp.forall(r => dom(r._3)), "propagated label outside domain")
    // kcore: residual degrees positive and node set within the graph
    val kc = SparkEntry.queries("kcore")(spark, dir)
      .select("node", "deg").as[(Long, Long)].collect()
    assert(kc.forall(_._2 >= 1))
    // boilerplate: boiler grams are a subset; shares inside [0, 10000]
    val bn = SparkEntry.queries("boilerplate_ngrams")(spark, dir)
      .select("n_grams", "n_boiler", "boiler_occ_bp")
      .as[(Long, Long, Long)].collect()
    assert(bn.forall(r => r._2 <= r._1 && r._3 >= 0 && r._3 <= 10000))
    val bs = SparkEntry.queries("boilerplate_strip")(spark, dir)
      .select("n_pos", "n_boiler_pos", "boiler_bp")
      .as[(Long, Long, Long)].collect()
    assert(bs.forall(r => r._2 <= r._1 && r._3 >= 0 && r._3 <= 10000))
    // mrr_eval: metric bounds and the rank-1 identity
    val me = SparkEntry.queries("mrr_eval")(spark, dir)
      .select("first_rank", "rr_bp", "p5_bp").as[(Int, Long, Long)].collect()
    assert(me.nonEmpty)
    assert(me.forall(r => r._1 >= 0 && r._1 <= 10 && r._2 >= 0 && r._2 <= 10000
      && r._3 >= 0 && r._3 <= 10000))
    assert(me.filter(_._1 == 1).forall(_._2 == 10000), "rank-1 must give RR=1")
    // ks_drift: KS in [0, 10000]; splits partition the corpus
    val kd = SparkEntry.queries("ks_drift")(spark, dir)
      .select("n_in", "n_rest", "ks_bp").as[(Long, Long, Long)].collect()
    val nDocs = Tables.documents(spark, dir).count()
    assert(kd.forall(r => r._1 + r._2 == nDocs))
    assert(kd.forall(r => r._3 >= 0 && r._3 <= 10000))
    // containment_dedup: both directions bounded; the flagged pair
    // cleared the threshold in at least one direction
    val cd = SparkEntry.queries("containment_dedup")(spark, dir)
      .select("cont_a_bp", "cont_b_bp").as[(Long, Long)].collect()
    assert(cd.nonEmpty)
    assert(cd.forall(r => r._1 >= 0 && r._1 <= 10000 && r._2 >= 0 && r._2 <= 10000))
    assert(cd.forall(r => r._1 >= 500 || r._2 >= 500))
    // chi2_independence: cells partition the corpus; contributions
    // nonnegative with positive expectations
    val ch = SparkEntry.queries("chi2_independence")(spark, dir)
      .select("obs", "exp_c", "chi2_c").as[(Long, Long, Long)].collect()
    assert(ch.map(_._1).sum == nDocs)
    assert(ch.forall(r => r._2 > 0 && r._3 >= 0))
    // filter_kappa: agreement/kappa bounds; a constant gate has no
    // skill (kappa 0) even at high raw agreement
    val fk = SparkEntry.queries("filter_kappa")(spark, dir)
      .select("n", "n_agree", "po_bp", "kappa_bp")
      .as[(Long, Long, Long, Long)].collect()
    assert(fk.length == 3)
    assert(fk.forall(r => r._2 <= r._1 && r._3 >= 0 && r._3 <= 10000
      && r._4 >= -10000 && r._4 <= 10000))
    // quality_sweep: retention monotone non-increasing in threshold;
    // threshold 0 keeps everything
    val qs = SparkEntry.queries("quality_sweep")(spark, dir)
      .select("threshold", "n_keep", "tok_keep", "keep_bp")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(qs.head._1 == 0L && qs.head._4 == 10000L)
    assert(qs.sliding(2).forall(p => p(1)._2 <= p(0)._2 && p(1)._3 <= p(0)._3),
      s"quality_sweep not monotone: ${qs.toSeq}")
    // embedding_audit: healthy synthetic table — zero pathologies,
    // counts partition the table, norm range brackets the mean
    val ea = SparkEntry.queries("embedding_audit")(spark, dir)
      .select("n_vecs", "n_null", "n_zero", "n_baddim", "nrm_min", "nrm_max",
        "nrm_avg")
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect()
    assert(ea.map(_._1).sum == Tables.embeddings(spark, dir).count())
    assert(ea.forall(r => r._2 == 0 && r._3 == 0 && r._4 == 0))
    assert(ea.forall(r => r._5 <= r._7 && r._7 <= r._6))
    // spearman_corr: rho bounded, groups partition the corpus
    val sp = SparkEntry.queries("spearman_corr")(spark, dir)
      .select("n", "rho_bp").as[(Long, Long)].collect()
    assert(sp.map(_._1).sum == nDocs)
    assert(sp.forall(r => r._2 >= -10000 && r._2 <= 10000))
    // lm_heldout: only test-split docs scored; unseen and score bounds;
    // a doc made entirely of unseen bigrams must score 0
    val testDocs = SparkEntry.queries("train_test_split")(spark, dir)
      .filter(col("split") === "test").select("doc_id").as[Long].collect().toSet
    val lh = SparkEntry.queries("lm_heldout")(spark, dir)
      .select("doc_id", "n_bigrams", "n_unseen", "unseen_bp", "lm_score_bp")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(lh.nonEmpty)
    assert(lh.forall(r => testDocs(r._1)), "a non-test doc was scored")
    assert(lh.forall(r => r._3 <= r._2 && r._4 >= 0 && r._4 <= 10000
      && r._5 >= 0 && r._5 <= 10000))
    assert(lh.filter(r => r._3 == r._2).forall(_._5 == 0L))
    // matryoshka_recall: one row per query in the block, k = 5,
    // recall consistent with the overlap count
    val mk = SparkEntry.queries("matryoshka_recall")(spark, dir)
      .select("qid", "k", "n_overlap", "recall_bp")
      .as[(Long, Long, Long, Long)].collect()
    assert(mk.length == 16)
    assert(mk.forall(r => r._2 == 5 && r._3 <= 5
      && r._4 == 10000 * r._3 / r._2))
    // dup_attribution: sources partition the corpus; the total
    // redundant count equals clustered docs minus cluster count (one
    // survivor per component) — cross-checked against the closure
    val da = SparkEntry.queries("dup_attribution")(spark, dir)
      .select("n_docs", "n_clustered", "n_redundant", "redundant_bp")
      .as[(Long, Long, Long, Long)].collect()
    assert(da.map(_._1).sum == nDocs)
    assert(da.forall(r => r._3 <= r._2 && r._2 <= r._1
      && r._4 >= 0 && r._4 <= 10000))
    val compRows = SparkEntry.queries("dedup_components")(spark, dir)
      .select("component").as[Long].collect()
    assert(da.map(_._3).sum == compRows.length - compRows.distinct.length,
      "redundant total != clustered docs - components")
    // session_paths: bounded output, consistent shares, ordered desc
    val spp = SparkEntry.queries("session_paths")(spark, dir)
      .select("n", "n_paths", "share_bp").as[(Long, Long, Long)].collect()
    assert(spp.length <= 10 && spp.nonEmpty)
    assert(spp.forall(r => r._1 <= r._2 && r._3 == 10000 * r._1 / r._2))
    assert(spp.sliding(2).forall(p => p.length < 2 || p(1)._1 <= p(0)._1))
  }

  test("vacuous-pass guard: every verified query returns rows (an " +
       "empty result makes its oracle pass empty==empty — proves nothing)") {
    // round-10 lesson: range_join_band was green for two rounds while
    // returning 0 rows at every SF (disjoint fixture epochs); its
    // bucket-fanout arithmetic was never exercised. A query goes on the
    // whitelist ONLY when sparse-fixture emptiness at sf0.001 is
    // expected — and then it must prove itself non-empty at sf0.01
    // (the driver's oracle SF) below.
    val dir = "/root/testdata/sf0.001"
    val whitelist = Set(
      "ts_anomaly") // needs enough hours for a >3·MAD spike; 89 rows at sf0.01
    def scrubbed(q: String, d: String): Boolean = {
      val r = SparkEntry.queries(q)(spark, d).isEmpty
      Harness.scrub(spark, keepMemo = true)
      r
    }
    val empty = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(whitelist)
      .filter(scrubbed(_, dir))
    assert(empty.isEmpty,
      s"queries with empty sf0.001 results (vacuous oracle rows): " +
        empty.mkString(", "))
    val emptyAt01 = whitelist.toSeq.sorted
      .filter(scrubbed(_, "/root/testdata/sf0.01"))
    assert(emptyAt01.isEmpty,
      s"whitelisted queries must emit rows at sf0.01: " +
        emptyAt01.mkString(", "))
  }

  test("simhash_wide_neardup == brute force: the Manku combination keys " +
      "have pigeonhole recall 1 for hamming <= 3 (round 15)") {
    import graft.etl.Dedup
    val real = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    // brute truth: all signature pairs at hamming <= 3, no banding
    val sig = Dedup.simhashWideFrom(real)
    val a = sig.select(col("doc_id").as("da"), col("simhash60").as("sa"))
    val b = sig.select(col("doc_id").as("db"), col("simhash60").as("sb"))
    val brute = a.join(b, col("da") < col("db"))
      .select(col("da"), col("db"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int").as("h"))
      .filter(col("h") <= 3)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    val banded = Dedup.simhashWideNearDup(spark, "/root/testdata/sf0.001")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "vacuous recall proof: no hamming<=3 pairs")
    assert(banded == brute,
      s"banding broke recall or precision: missed=${(brute -- banded).take(5)} " +
        s"extra=${(banded -- brute).take(5)}")
  }

  test("near-dup overlap cores agree: every LSH candidate pair inside the " +
      "doc_id<64 block gets the same n_common and jaccard_bp from the " +
      "block tier and the candidate tier (lsh_quality's distinct relies on it)") {
    import graft.etl.Dedup
    val dir = "/root/testdata/sf0.001"
    def rows(core: org.apache.spark.sql.DataFrame) =
      core.select(col("doc_a"), col("doc_b"), col("n_common"),
          Dedup.jaccardBp.as("jaccard_bp"))
        .as[(Long, Long, Long, Long)].collect()
    val block = rows(Dedup.blockOverlap(
        graft.Tables.documents(spark, dir).filter(col("doc_id") < 64)))
      .map(r => (r._1, r._2) -> r).toMap
    val cands = rows(Dedup.candidateOverlap(spark, dir,
      Dedup.minhashLsh(spark, dir).filter(col("doc_b") < 64)))
    assert(cands.nonEmpty, "vacuous: no LSH candidate pair inside the block")
    val differ = cands.filterNot(c => block.get((c._1, c._2)).contains(c))
    assert(differ.isEmpty, s"candidate-tier rows the block tier disagrees with: " +
      differ.take(5).map(c => s"$c vs ${block.get((c._1, c._2))}").mkString(", "))
  }

  test("quality_train pocket invariant: the eval's chosen_round is the " +
       "valid-mistake argmin of the published curve (ties to the " +
       "earliest round), and the shipped vector covers every bucket") {
    import graft.etl.QualityTrain
    val dir = "/root/testdata/sf0.001"
    val curve = QualityTrain.qualityTrainCurve(spark, dir)
      .select("round", "valid_mistakes").as[(Long, Long)].collect()
    assert(curve.length == QualityTrain.Rounds + 1)
    val best = curve.minBy { case (r, vm) => (vm, r) }._1
    val chosen = QualityTrain.qualityTrainEval(spark, dir)
      .select("chosen_round").as[Long].head()
    assert(chosen == best,
      s"pocket shipped round $chosen but the curve's argmin is $best: " +
        curve.mkString(", "))
    val w = QualityTrain.qualityTrain(spark, dir)
    assert(w.count() == QualityTrain.Buckets + 1)
  }

  test("decontaminate_eval invariants (round 17): one row per " +
       "shingle-bearing test-split doc, containment bounded by its own " +
       "gram count, the top contaminating doc really is a TRAIN-split " +
       "doc, and the flag is exactly the >= 50% threshold") {
    import graft.etl.Splits
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("decontaminate_eval")(spark, dir)
      .select("bench_doc", "n_sh", "top_train_doc", "n_common",
        "containment_bp", "contaminated")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty, "vacuous: no benchmark items")
    val buckets = Splits.trainTestSplit(spark, dir)
      .select("doc_id", "bucket").as[(Long, Int)].collect().toMap
    rows.foreach { case (b, nSh, top, nc, bp, flag) =>
      assert(buckets(b) >= 90, s"bench doc $b is not in the test split")
      assert(nSh > 0 && nc >= 0 && nc <= nSh, s"doc $b: n_common $nc > n_sh $nSh")
      assert(bp == (10000 * nc) / nSh && bp <= 10000)
      assert(flag == (if (bp >= 5000) 1L else 0L))
      if (nc == 0) assert(top == -1L, s"doc $b: zero overlap but top=$top")
      else assert(buckets(top) < 80,
        s"doc $b's top contaminating doc $top is not in the train split")
    }
    // at least one contaminated item exists on this corpus (near-dup
    // docs straddle the split — the signal split_leakage predicts);
    // an all-zero report would make the query vacuously green
    assert(rows.exists(_._6 == 1L), "no contaminated items found")
  }

  // The corpus build's survivor decisions, each against the
  // aggregate-and-join-back form the build used before, kept here as
  // the reference.

  test("near-dup keepers: one top-1 cut per component equals the keeper " +
       "aggregate + left_anti + union form (ties, null texts, singletons)") {
    import graft.etl.{CorpusPipeline, Dedup}
    // random part: lengths from 4 values so components tie, every 9th
    // text null, ids 70..89 never paired; fixed part: a 4-chain of
    // equal lengths and a null (keeper 100, the lowest tied id) and a
    // pair of null texts (keeper 110)
    val random = (0 until 90).map { i =>
      (i.toLong, if (i % 9 == 4) null else "w" * (1 + rnd.nextInt(4)), if (i % 2 == 0) "en" else "de")
    }
    val fixed = Seq((100L, "xx", "en"), (101L, "yy", "de"), (102L, null, "en"),
      (103L, "zz", "en"), (110L, null, "de"), (111L, null, "en"))
    val docs = (random ++ fixed).toDF("doc_id", "text", "lang")
    val pairEdges = (1 to 60).map { _ =>
      val a = rnd.nextInt(70).toLong; val b = rnd.nextInt(70).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct ++
      Seq((100L, 101L), (101L, 102L), (102L, 103L), (110L, 111L))
    val comp = Dedup.dedupComponentsFrom(pairEdges.toDF("doc_a", "doc_b"))
    val keepers = comp
      .join(docs.select(col("doc_id"), length(col("text")).as("len")), Seq("doc_id"))
      .groupBy(col("component"))
      .agg(max(struct(col("len"), (-col("doc_id")).as("nid"))).as("m"))
      .select((-col("m.nid")).as("doc_id"))
    val ref = docs.join(comp.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(docs.join(keepers, Seq("doc_id")))
    val got = CorpusPipeline.nearDupSurvivors(docs,
      comp.select(col("doc_id").as("node"), col("component").as("lbl")))
    def rows(df: DataFrame) = df.as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val want = rows(ref)
    assert(got.columns.toSeq == ref.columns.toSeq)
    assert(rows(got) == want)
    val ids = want.map(_._1).toSet
    assert(ids.contains(100L) && !ids.exists(Set(101L, 102L, 103L, 111L)) &&
      ids.contains(110L) && (70L until 90L).forall(ids), s"reference keepers: $ids")
  }

  test("exact dedup: one top-1 cut per text digest equals the join back " +
       "onto dedupExactFrom, null doc_ids and a null text included") {
    import graft.etl.{CorpusPipeline, Dedup}
    // a null text hashes as "": doc 3 (null) and doc 7 ("") are copies
    val docs = Seq[(Option[Long], String, String)](
      (Some(5L), "same", "en"), (Some(2L), "same", "de"), (Some(9L), "same", "en"),
      (None, "same", "en"), (None, "lonely", "fr"), (Some(3L), null, "en"),
      (Some(7L), "", "de"), (Some(4L), "other", "en"), (Some(8L), "other", null))
      .toDF("doc_id", "text", "lang")
    val ref = docs.join(
      Dedup.dedupExactFrom(docs).select(col("canonical_doc").as("doc_id")), Seq("doc_id"))
    val got = CorpusPipeline.exactSurvivors(docs)
    def rows(df: DataFrame) = df.as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(got.columns.toSeq == ref.columns.toSeq)
    assert(rows(ref) == Seq((2L, "same", "de"), (3L, null, "en"), (4L, "other", "en")))
    assert(rows(got) == rows(ref))
  }

  test("span clip core with a carried column equals spanClipFrom joined " +
       "back to lang") {
    import graft.etl.Dedup
    // every third doc carries a shared 9-word tail (cross-doc 8-grams to
    // clip); a null text and a null lang ride along
    val tail = " please login to continue reading the full page now"
    val docs = (corpus.zipWithIndex.map { case (t, i) =>
        (i.toLong, if (i % 3 == 0) t + tail else t, Seq("en", "de", null, "fr")(i % 4))
      } :+ ((-1L, null, "fr"))).toDF("doc_id", "text", "lang")
    val ref = Dedup.spanClipFrom(docs.select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val got = Dedup.spanClipped(docs)
    def rows(df: DataFrame) =
      df.as[(Long, Long, Long, String, String)].collect().sortBy(_._1).toSeq
    val want = rows(ref)
    assert(got.columns.toSeq == ref.columns.toSeq)
    assert(want.exists(_._3 > 0), "vacuous: nothing clipped")
    assert(rows(got) == want)
  }

  test("mix rates: collected sums evaluated over a local relation equal " +
       "the crossJoin rates, a null-lang and a null-sum group included") {
    import graft.etl.CorpusPipeline
    val toks = Seq[(String, Option[Long])](("en", Some(90000L)), ("de", Some(12000L)),
      (null, Some(8000L)), ("fr", Some(200000L)), ("zz", None)).toDF("lang", "n_tokens")
    val tot = toks.agg(sum(col("n_tokens")).as("total"), count(lit(1)).as("n_langs"))
    val ref = toks.crossJoin(broadcast(tot))
      .select(col("lang"),
        least(lit(10000L), expr("(10000 * (total div n_langs)) div n_tokens")).as("rate_bp"))
      .as[(String, Option[Long])].collect().toSet
    // total 310000 over 5 groups: en 6888, fr 3100, de and null capped;
    // zz's null quotient is skipped by least, so it reads the cap too
    assert(ref == Set(("en", Some(6888L)), ("de", Some(10000L)), (null, Some(10000L)),
      ("fr", Some(3100L)), ("zz", Some(10000L))))
    assert(CorpusPipeline.mixRates(toks).toSet == ref)
  }
}
