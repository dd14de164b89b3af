package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, posexplode}
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingOps

case class Ev(event_id: Long, ts: Long, user_id: Long, event_type: String,
    value: Double)

class StreamingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val min = 60L * 1000000L * 1000L // one minute in nanos

  test("streaming session windows merge events within the 30-min gap") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    // user 1: two sessions (0-10min, then 45min); user 2: one event
    src.addData(
      Ev(1, 0 * min, 1, "click", 1.0), Ev(2, 10 * min, 1, "click", 2.0),
      Ev(3, 45 * min, 1, "click", 4.0), Ev(4, 0 * min, 2, "view", 8.0))
    val q = StreamingOps.sessionWindows(src.toDF())
      .writeStream.format("memory").queryName("sessions_t")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("sessions_t")
        .select("user_id", "n_events", "session_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(rows == Set((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0)))
    } finally q.stop()
  }

  test("streaming top-k leaderboard: bounded state, batch-by-batch refresh") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{RankedItem, ScoredItem}
    val src = MemoryStream[ScoredItem]
    val q = StreamingOps.streamingTopK(src.toDS(), 2)
      .writeStream.format("memory").queryName("topk_t")
      .outputMode(OutputMode.Update()).start()
    try {
      src.addData(ScoredItem("en", 1, 10), ScoredItem("en", 2, 30),
        ScoredItem("en", 3, 20), ScoredItem("de", 4, 5))
      q.processAllAvailable()
      val after1 = spark.table("topk_t").as[RankedItem].collect().toSet
      assert(after1 == Set(
        RankedItem("en", 1, 2, 30), RankedItem("en", 2, 3, 20),
        RankedItem("de", 1, 4, 5)))
      // batch 2: a new leader for en; de unchanged (not re-emitted in
      // Update mode unless its group saw data)
      src.addData(ScoredItem("en", 5, 99))
      q.processAllAvailable()
      val all = spark.table("topk_t").as[RankedItem].collect()
      // latest emission per (key, rn) is the refreshed leaderboard
      val latest = all.zipWithIndex.groupBy(r => (r._1.key, r._1.rn))
        .map { case (_, vs) => vs.maxBy(_._2)._1 }.toSet
      assert(latest == Set(
        RankedItem("en", 1, 5, 99), RankedItem("en", 2, 2, 30),
        RankedItem("de", 1, 4, 5)))
    } finally q.stop()
  }

  test("file-stream session windows agree with the batch sessionizer") {
    val dir = "/root/testdata/sf0.001"
    val batchSessions = graft.etl.Events.sessionize(spark, dir).count()
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // file-stream sources take directories; stage the file into one
    val staged = java.nio.file.Files.createTempDirectory("graft_stream_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // rate-limited incremental read
      .parquet(staged.toString)
    val q = StreamingOps.sessionWindows(stream)
      .writeStream.format("memory").queryName("file_sessions_t")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_sessions_t").count()
      assert(streamed == batchSessions,
        s"streaming session_window ($streamed) vs batch gap-sessionize ($batchSessions)")
    } finally q.stop()
  }

  test("self-feeding streaming crawl reaches the same nodes as the batch fixpoint") {
    val dir = "/root/testdata/sf0.001"
    val work = java.nio.file.Files.createTempDirectory("graft_crawl_").toString
    val batchNodes = graft.etl.Crawl.crawlBfs(spark, dir)
      .select("node").as[Long].collect().toSet
    val streamed = graft.streaming.StreamingCrawl.run(
        spark, graft.etl.Crawl.edges(spark, dir), work)
      .select("node").as[Long].collect().toSet
    assert(streamed == batchNodes,
      s"streamed ${streamed.size} vs batch ${batchNodes.size} nodes")
  }

  test("streaming crawl e2e over the real HTTP transport: rate-limited " +
      "trigger, retry inside the stream, quarantine routing, no refetch " +
      "across micro-batches") {
    // the reference's actual crawl loop on real I/O: watched frontier →
    // micro-batch → HttpTransport (retry/backoff/politeness/SSRF guard)
    // → score → quarantine split, with the file-source checkpoint as
    // the visited state — composes the verified operators end to end
    val prose = ("spark window stream " * 30) + "served body"
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    def count(path: String): Unit =
      hits.merge(path, 1, (a: Integer, b: Integer) => a + b)
    Loopback.withServer { srv =>
      srv.route("/page/") { ex =>
        count(ex.getRequestURI.getPath)
        Loopback.respond(ex, 200, prose.getBytes)
      }
      srv.route("/auth/3") { ex =>
        count("/auth/3")
        Loopback.respond(ex, 200, ("x" * 150 + " please login to continue").getBytes)
      }
      srv.route("/flaky/4") { ex =>
        count("/flaky/4")
        if (hits.get("/flaky/4") == 1)
          Loopback.respond(ex, 429, Array.empty, "Retry-After" -> "0")
        else Loopback.respond(ex, 200, prose.getBytes)
      }
      val base = java.nio.file.Files.createTempDirectory("graft_scrawl_")
      val frontier = base.resolve("frontier")
      java.nio.file.Files.createDirectories(frontier)
      val out = base.resolve("out").toString
      java.nio.file.Files.writeString(frontier.resolve("wave1.txt"),
        s"${srv.base}/page/1\n${srv.base}/auth/3\n")
      val q = graft.etl.Pipeline.runStream(spark, frontier.toString,
        new graft.etl.HttpTransport(srv.base + "/reader/{url}",
          maxAttempts = 2, initialDelayMs = 5, perHostIntervalMs = 20),
        out)
      try {
        q.processAllAvailable()
        // second wave arrives while the stream runs; the first wave's
        // files are checkpointed away and must not refetch
        java.nio.file.Files.writeString(frontier.resolve("wave2.txt"),
          s"${srv.base}/page/2\n${srv.base}/flaky/4\n")
        q.processAllAvailable()
      } finally q.stop()
      val pages = spark.read.parquet(s"$out/pages")
      assert(pages.count() == 4)
      // the login wall quarantines with its action; real pages score
      val quarantined = pages.filter($"route" === "quarantine")
        .select("url").as[String].collect().toSeq
      assert(quarantined == Seq(s"${srv.base}/auth/3"))
      assert(pages.filter($"route" === "clean" && $"relevance" > 0).count() == 3)
      // the 429 retried INSIDE the stream (two server hits, one row out)
      assert(hits.get("/flaky/4") == 2)
      // each page fetched exactly once across micro-batches — the
      // file-source checkpoint IS the visited state
      assert(hits.get("/page/1") == 1 && hits.get("/page/2") == 1)
      assert(hits.get("/auth/3") == 1)
    }
  }

  test("watermarked dedup: duplicates dropped in-horizon, state expires after it") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.PageVisit
    val src = MemoryStream[PageVisit]
    val q = StreamingOps.dedupWithinWatermark(src.toDF())
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: A twice inside the horizon (one survives) + B.
      // (base offset: rows AT the initial epoch-0 watermark count as
      // late and are dropped before dedup ever sees them)
      val base = 24 * 60
      src.addData(PageVisit("a", base * min), PageVisit("a", (base + 5) * min),
        PageVisit("b", base * min))
      q.processAllAvailable()
      // batch 2: C at t=200min advances the watermark to 140min —
      // beyond A's t+1h, so A's dedup state is evicted
      src.addData(PageVisit("c", (base + 200) * min))
      q.processAllAvailable()
      // batch 3: A reappears AFTER its state expired → re-emitted.
      // This is the bounded-state contract: the visited set forgets
      // with the watermark instead of growing forever.
      src.addData(PageVisit("a", (base + 190) * min))
      q.processAllAvailable()
      val rows = spark.table("dedup_t").select("url", "ts")
        .as[(String, Long)].collect()
      assert(rows.length == 4, rows.mkString(","))
      assert(rows.count(_._1 == "a") == 2)
      val aTs = rows.filter(_._1 == "a").map(_._2).sorted
      assert(aTs.head < (base + 60) * min && aTs.last == (base + 190) * min,
        aTs.toSeq)
    } finally q.stop()
  }

  test("streaming near-dup flags exactly the batch fast tier's candidate " +
      "pairs (band-keyed incremental LSH — round 14, VERDICT r13 item 4)") {
    implicit val sqlCtx = spark.sqlContext
    val batchDocs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val replay = batchDocs.as[(Long, String)].collect().sortBy(_._1)
    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.streamingNearDup(src.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("neardup_t")
      .outputMode(OutputMode.Append()).start()
    try {
      // three ingest batches in doc_id order — the incremental shape:
      // later batches probe state built by earlier ones
      replay.grouped((replay.length + 2) / 3).foreach { chunk =>
        src.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      val streamPairs = spark.table("neardup_t")
        .select("new_doc", "match_doc").as[(Long, Long)].collect()
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val batchPairs = graft.etl.Dedup.minhashLshFast(batchDocs)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(batchPairs.nonEmpty, "vacuous parity: no candidate pairs")
      assert(streamPairs == batchPairs,
        s"stream-only=${(streamPairs -- batchPairs).take(5)} " +
          s"batch-only=${(batchPairs -- streamPairs).take(5)}")
      // exact duplicates must estimate at 10000 bp (identical signatures)
      val all = spark.table("neardup_t").as[(Long, Long, Long)].collect()
      assert(all.forall { case (_, _, bp) => bp >= 0 && bp <= 10000 })
      // documented multiplicity contract: a pair is flagged at most
      // once per shared band (4 bands at numHashes=8, bandSize=2)
      val worstMult = all.groupBy(h => (h._1, h._2)).values.map(_.length).max
      assert(worstMult <= 4,
        s"pair flagged $worstMult times — exceeds the band count")
    } finally q.stop()
  }

  test("streaming near-dup per-band state occupancy stays far under the " +
      "maxPerBand cap at the 30x tier (round 15, VERDICT r14 item 2)") {
    // Per-band state occupancy under the first-seen-wins cap is
    // min(count, cap) REGARDLESS of arrival order — the cap only
    // truncates; which docs are kept is order-dependent, how many is
    // not. So the batch banding profile IS the replayed state's
    // occupancy distribution, and StreamStateCheck's 30x replay
    // cross-checks the key count against the store's own numRowsTotal
    // (BASELINE.md round-15: 490,038 keys derived == measured,
    // max occupancy 22). This spec asserts the same profile stays ≪
    // the 64 cap — on the 30x corpus when this machine has it, else
    // on sf0.1 (same duplicate density by construction: the cipher
    // replication adds disjoint-vocabulary replicas, so per-bucket
    // occupancy does not grow with replica count).
    import org.apache.spark.sql.functions.{count => cnt, lit, max => mx}
    val scale30 = "/tmp/graft_scale30/documents.parquet"
    val path =
      if (new java.io.File(scale30).isDirectory) scale30
      else "/root/testdata/sf0.1/documents.parquet"
    val docs = spark.read.parquet(path).select(col("doc_id"), col("text"))
    val sig = graft.etl.Dedup.minhashSignatureFast(docs, 8)
    val worst = graft.etl.Dedup.bandRows(sig,
        graft.etl.Dedup.bandStructs(graft.etl.Dedup.fastBandKey))
      .groupBy(col("band"), col("bkey"))
      .agg(cnt(lit(1)).as("c"))
      .agg(mx(col("c"))).collect().head.getLong(0)
    assert(worst <= 32,
      s"worst per-band occupancy $worst approaches the 64 cap at $path — " +
        "tune maxPerBand up or tighten bands before trusting the " +
        "first-seen recall argument")
  }

  test("streaming connected components converge to the batch closure on " +
      "a replayed pair stream (round 15, VERDICT r14 stretch 8)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val batch = graft.etl.Dedup.dedupComponents(spark, dir)
      .select("doc_id", "component", "cluster_size")
      .as[(Long, Long, Long)].collect()
    val batchMap = batch.map(r => r._1 -> r._2).toMap
    assert(batchMap.nonEmpty, "vacuous parity: no clustered docs")
    // replay the SAME pair set the batch closure consumed, in 3
    // micro-batches — later batches merge components built by earlier
    // ones (the cross-snapshot ingest shape)
    val pairs = graft.etl.Dedup.minhashLsh(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().sortBy(identity)
    val src = MemoryStream[(Long, Long)]
    val q = StreamingOps.streamingComponents(
        src.toDF().toDF("doc_a", "doc_b"))
      .writeStream.format("memory").queryName("scomp_t")
      .outputMode(OutputMode.Append()).start()
    try {
      pairs.grouped((pairs.length + 2) / 3).foreach { chunk =>
        src.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      // final assignment = min emitted component per doc (roots only
      // ever decrease under union-by-min)
      val streamMap = spark.table("scomp_t").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      assert(streamMap == batchMap,
        s"stream-only=${(streamMap.toSet -- batchMap.toSet).take(5)} " +
          s"batch-only=${(batchMap.toSet -- streamMap.toSet).take(5)}")
      // cluster sizes agree too (derived from the same assignment)
      val streamSizes = streamMap.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val batchSizes = batch.map(r => r._2 -> r._3).toMap
      assert(streamSizes == batchSizes)
    } finally q.stop()
  }

  test("streaming paragraph registry converges to the batch " +
      "first-occurrence winners on an OUT-OF-ORDER replay (round 15)") {
    implicit val sqlCtx = spark.sqlContext
    val batchDocs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    // batch truth: min (doc_id, p_idx) per paragraph digest — the rule
    // paragraphDedup's kept set is built from
    val truth = graft.etl.Dedup
      .paragraphFrame(batchDocs, graft.etl.Dedup.ParagraphWords)
      .groupBy(col("dg"))
      .agg(org.apache.spark.sql.functions.min(
        org.apache.spark.sql.functions.struct(
          col("doc_id"), col("p_idx"))).as("w"))
      .select(col("dg"), col("w.doc_id"), col("w.p_idx"))
      .as[(Long, Long, Int)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(truth.nonEmpty, "vacuous parity: no paragraphs")
    // replay in REVERSE doc order — every batch can improve winners
    // built by the previous one, the worst case for an order-dependent
    // bug (min is order-free, so convergence must still be exact)
    val replay = batchDocs.as[(Long, String)].collect().sortBy(-_._1)
    val nBatches = 3
    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.streamingParagraphWinners(
        src.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("parawin_t")
      .outputMode(OutputMode.Append()).start()
    try {
      replay.grouped((replay.length + nBatches - 1) / nBatches).foreach { c =>
        src.addData(c.toSeq: _*)
        q.processAllAvailable()
      }
      val emitted = spark.table("parawin_t")
        .as[(Long, Long, Int)].collect()
      val finalWin = emitted.groupBy(_._1).view
        .mapValues(v => v.map(e => (e._2, e._3)).min).toMap
      assert(finalWin == truth,
        s"stream-only=${(finalWin.toSet -- truth.toSet).take(5)} " +
          s"batch-only=${(truth.toSet -- finalWin.toSet).take(5)}")
      // emission bound: the winner improves at most once per micro-batch
      val worst = emitted.groupBy(_._1).values.map(_.length).max
      assert(worst <= nBatches,
        s"digest emitted $worst times — exceeds the batch count")
    } finally q.stop()
  }

  test("streaming curation funnel covers ALL SIX stages on an ordered " +
      "replay (round 17, VERDICT r16 item 4): live stages 0-4 == batch, " +
      "and funnelCanonicalReconcile over the streamingComponents twin's " +
      "assignments reproduces the batch stage-5 row exactly") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val batchAll = graft.etl.CorpusPipeline.curationFunnel(spark, dir)
      .select(col("stage"), col("n_docs"), col("n_tokens"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(batchAll.length == 6 && batchAll.head._2 > 0,
      "vacuous batch funnel")
    assert(batchAll(5)._2 < batchAll(4)._2,
      "vacuous stage 5: near-dup canonical removed nothing")
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.streamingCurationFunnel(
        src.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("funnel_t")
      .outputMode(OutputMode.Append()).start()
    // the components twin replays the SAME pair set the batch closure
    // consumed, in 3 micro-batches (later batches merge earlier
    // components — the revisionist case the reconcile must absorb)
    val pairs = graft.etl.Dedup.minhashLsh(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().sortBy(identity)
    val psrc = MemoryStream[(Long, Long)]
    val cq = StreamingOps.streamingComponents(
        psrc.toDF().toDF("doc_a", "doc_b"))
      .writeStream.format("memory").queryName("funnel_comp_t")
      .outputMode(OutputMode.Append()).start()
    try {
      // doc_id-ordered replay in 3 micro-batches: first-wins is only
      // order-sensitive WITHIN a digest, so this is the documented
      // parity replay (the batch window ranks by doc_id)
      docs.grouped((docs.length + 2) / 3).foreach { c =>
        src.addData(c.toSeq: _*); q.processAllAvailable()
      }
      pairs.grouped((pairs.length + 2) / 3).foreach { c =>
        psrc.addData(c.toSeq: _*); cq.processAllAvailable()
      }
      val lv = spark.table("funnel_t").as[(Long, Int, Long)].collect()
      assert(lv.length == docs.length, "one level row per doc")
      val streamed04 = (0 to 4).map { s =>
        val surv = lv.filter(_._2 >= s)
        (s.toLong, surv.length.toLong, surv.map(_._3).sum)
      }
      assert(streamed04 == batchAll.take(5),
        s"stream=$streamed04\nbatch =${batchAll.take(5)}")
      // stage-5 reconciliation: min-folded twin assignments (a doc's
      // component only decreases) composed with the level-4 survivors
      val assign = spark.table("funnel_comp_t")
        .groupBy(col("doc_id"))
        .agg(org.apache.spark.sql.functions.min(col("component"))
          .as("component"))
      val full = StreamingOps.funnelCanonicalReconcile(
        spark.table("funnel_t"), assign)
        .as[(Long, Int, Long)].collect()
      assert(full.length == docs.length, "reconcile dropped/duped docs")
      val streamed05 = (0 to 5).map { s =>
        val surv = full.filter(_._2 >= s)
        (s.toLong, surv.length.toLong, surv.map(_._3).sum)
      }
      assert(streamed05 == batchAll,
        s"stream=$streamed05\nbatch =$batchAll")
    } finally { q.stop(); cq.stop() }
  }

  test("funnelCanonicalReconcile edge cases: empty assignments promote " +
      "every level-4 survivor (all singletons), and a merged component " +
      "keeps exactly its min doc") {
    import spark.implicits._
    val levels = Seq((1L, 4, 10L), (2L, 4, 20L), (3L, 4, 30L),
      (4L, 2, 40L), (5L, 0, 50L))
      .toDF("doc_id", "lvl", "toks")
    // no pairs ever arrived: every survivor is its own singleton
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "component")
    val allCanon = StreamingOps.funnelCanonicalReconcile(levels, empty)
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    assert(allCanon.map(r => r._1 -> r._2).toSeq ==
      Seq(1L -> 5, 2L -> 5, 3L -> 5, 4L -> 2, 5L -> 0))
    // docs 1 and 3 merged into one component: min doc (1) keeps 5,
    // doc 3 demotes to 4; non-survivor doc 4's assignment is ignored
    val assign = Seq((1L, 1L), (3L, 1L), (4L, 1L))
      .toDF("doc_id", "component")
    val merged = StreamingOps.funnelCanonicalReconcile(levels, assign)
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    assert(merged.map(r => r._1 -> r._2).toSeq ==
      Seq(1L -> 5, 2L -> 5, 3L -> 4, 4L -> 2, 5L -> 0),
      merged.mkString(", "))
    // token masses ride through untouched
    assert(merged.map(_._3).toSeq == Seq(10L, 20L, 30L, 40L, 50L))
    // IDEMPOTENT (ADVICE r17): re-applying the reconcile to an
    // already-reconciled frame (which carries level-5 rows) must not
    // drop the canonical docs — 5s fold back in as level-4 survivors
    // and re-derive the same verdicts
    val mergedDf = StreamingOps.funnelCanonicalReconcile(levels, assign)
    val twice = StreamingOps.funnelCanonicalReconcile(mergedDf, assign)
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    assert(twice.toSeq == merged.toSeq, s"not idempotent: ${twice.mkString(", ")}")
    // ...and a late-arriving merge DEMOTES a previously-canonical doc
    // on the re-run (the revisionist case the reconcile exists for)
    val lateAssign = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L))
      .toDF("doc_id", "component")
    val late = StreamingOps.funnelCanonicalReconcile(mergedDf, lateAssign)
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    assert(late.map(r => r._1 -> r._2).toSeq ==
      Seq(1L -> 5, 2L -> 4, 3L -> 4, 4L -> 2, 5L -> 0),
      late.mkString(", "))
  }

  test("streaming IVM rollup equals the batch recompute of all deltas") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.RollupDelta
    val src = MemoryStream[RollupDelta]
    val q = StreamingOps.deltaRollup(src.toDF())
      .writeStream.format("memory").queryName("ivm_t")
      .outputMode(OutputMode.Complete()).start()
    try {
      val b1 = Seq(RollupDelta("2024-01", 1, 100), RollupDelta("2024-01", 1, 250),
        RollupDelta("2024-02", 1, 80))
      src.addData(b1: _*)
      q.processAllAvailable()
      // retraction batch: remove one 2024-01 row, insert a new month
      val b2 = Seq(RollupDelta("2024-01", -1, -100), RollupDelta("2024-03", 1, 40))
      src.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("ivm_t")
        .as[(String, Long, Long)].collect().toSet
      // batch recompute over every delta ever streamed
      val want = (b1 ++ b2).groupBy(_.month).map { case (m, ds) =>
        (m, ds.map(_.dn).sum, ds.map(_.dc).sum)
      }.toSet
      assert(got == want, s"got $got, want $want")
      assert(got == Set(("2024-01", 1L, 250L), ("2024-02", 1L, 80L),
        ("2024-03", 1L, 40L)))
    } finally q.stop()
  }

  test("stateful dedup runs on the RocksDB state store (disk-backed state)") {
    // the 100 TB/day posture: keyed state on disk (RocksDB), not the
    // executor heap — same operator, one config switch, and the query
    // must report rocksdb metrics to prove the provider actually ran
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.PageVisit
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = MemoryStream[PageVisit]
      val q = StreamingOps.dedupWithinWatermark(src.toDF())
        .writeStream.format("memory").queryName("rocks_t")
        .outputMode(OutputMode.Append()).start()
      try {
        val base = 24 * 60
        src.addData(PageVisit("a", base * min), PageVisit("a", (base + 5) * min),
          PageVisit("b", base * min))
        q.processAllAvailable()
        assert(spark.table("rocks_t").count() == 2)
        val progress = q.lastProgress.toString
        assert(progress.contains("rocksdb"),
          s"state store metrics show no rocksdb:\n$progress")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState visited map dedups across restarts and expires by TTL") {
    // the Spark-4 StatefulProcessor path: TTL is a state-store property
    // (no hand-rolled timeout state); TWS requires the RocksDB provider.
    // ProcessingTime mode keeps firing empty micro-batches to service
    // TTL/timers, so processAllAvailable never settles — each phase runs
    // an AvailableNow query to completion instead, which ALSO proves the
    // state survives a query restart from the checkpoint.
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.PageVisit
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // a TWS query in ProcessingTime mode micro-batches CONTINUOUSLY
      // (TTL/timer service), so processAllAvailable/awaitTermination
      // never settle — poll the sink for the expected row count instead
      val src = MemoryStream[PageVisit]
      val q = StreamingOps.visitedFirstSeenTtl(src.toDS(),
          java.time.Duration.ofSeconds(4))
        .writeStream.format("memory").queryName("tws_t")
        .outputMode(OutputMode.Append()).start()
      def emitted: Seq[(String, Long)] =
        spark.table("tws_t").select("url", "ts")
          .as[(String, Long)].collect().toSeq
      def awaitRows(n: Int): Seq[(String, Long)] = {
        val deadline = System.currentTimeMillis() + 60000
        var cur = emitted
        while (cur.length < n && System.currentTimeMillis() < deadline) {
          Thread.sleep(200); cur = emitted
        }
        cur
      }
      try {
        src.addData(PageVisit("a", 1), PageVisit("a", 2), PageVisit("b", 3))
        // first sighting of each URL emits; the in-batch repeat doesn't
        assert(awaitRows(2).length == 2, emitted.mkString(","))
        src.addData(PageVisit("a", 4))
        Thread.sleep(1500) // let its micro-batch run (sub-second cadence)
        // cross-batch repeat inside the TTL is swallowed
        assert(emitted.length == 2, emitted.mkString(","))
        Thread.sleep(4000) // outlive the 4s TTL (state flag expires)
        src.addData(PageVisit("a", 5))
        // state expired → the URL is eligible again (revisit-after-TTL)
        val rows = awaitRows(3)
        assert(rows.length == 3, rows.mkString(","))
        assert(rows.count(_._1 == "a") == 2, rows.mkString(","))
        assert(rows.filter(_._1 == "a").map(_._2).max == 5L, rows.mkString(","))
        val progress = q.lastProgress.toString
        assert(progress.contains("rocksdb"),
          s"state store metrics show no rocksdb:\n$progress")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState near-dup: band state expires by TTL — matches " +
      "inside the horizon, forgets old snapshots (round 14)") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = MemoryStream[(Long, String)]
      val q = StreamingOps.streamingNearDupTtl(
          src.toDF().toDF("doc_id", "text"), java.time.Duration.ofSeconds(4))
        .writeStream.format("memory").queryName("ndttl_t")
        .outputMode(OutputMode.Append()).start()
      def hits: Set[(Long, Long, Long)] =
        spark.table("ndttl_t").as[(Long, Long, Long)].collect().toSet
      def awaitHits(n: Int): Set[(Long, Long, Long)] = {
        val deadline = System.currentTimeMillis() + 60000
        var cur = hits
        while (cur.size < n && System.currentTimeMillis() < deadline) {
          Thread.sleep(200); cur = hits
        }
        cur
      }
      try {
        val text = "alpha beta gamma delta epsilon"
        src.addData((1L, text), (2L, text))
        // exact dup inside the horizon: 2 flags against 1 at 10000 bp
        assert(awaitHits(1) == Set((2L, 1L, 10000L)), hits.mkString(","))
        Thread.sleep(5500) // outlive the 4s TTL: docs 1-2 age out
        src.addData((3L, text), (4L, text))
        // 3 matches nothing (old snapshot forgotten); 4 matches only 3
        val got = awaitHits(2)
        assert(got == Set((2L, 1L, 10000L), (4L, 3L, 10000L)),
          got.mkString(","))
        val progress = q.lastProgress.toString
        assert(progress.contains("rocksdb"),
          s"state store metrics show no rocksdb:\n$progress")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stream-stream page↔image join matches within the 30-min window only") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{ImageEvent, PageEvent}
    val pages = MemoryStream[PageEvent]
    val images = MemoryStream[ImageEvent]
    val q = StreamingOps.pageImageJoin(pages.toDF(), images.toDF())
      .writeStream.format("memory").queryName("ssj_t")
      .outputMode(OutputMode.Append()).start()
    try {
      val base = 24 * 60 // epoch-0 lateness offset, as elsewhere
      pages.addData(
        PageEvent("a", base * min, "body-a"),
        PageEvent("b", base * min, "body-b"))
      images.addData(
        ImageEvent("a", (base + 10) * min, "img-a1"),   // in window
        ImageEvent("a", (base + 29) * min, "img-a2"),   // in window
        ImageEvent("b", (base + 45) * min, "img-b-late"), // beyond 30min
        ImageEvent("c", (base + 5) * min, "img-c"))     // no page
      q.processAllAvailable()
      // advance both watermarks so results are final
      pages.addData(PageEvent("zp", (base + 300) * min, "flush"))
      images.addData(ImageEvent("zi", (base + 300) * min, "flush"))
      q.processAllAvailable()
      val rows = spark.table("ssj_t").select("url", "img")
        .as[(String, String)].collect().toSet
      assert(rows == Set(("a", "img-a1"), ("a", "img-a2")), rows)
    } finally q.stop()
  }

  test("streaming tumbling window counts per hour bucket") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    src.addData(
      Ev(1, 1 * min, 1, "click", 1.0), Ev(2, 5 * min, 2, "click", 1.0),
      Ev(3, 61 * min, 1, "view", 1.0))
    val q = StreamingOps.tumblingCounts(src.toDF())
      .writeStream.format("memory").queryName("tumbling_t")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("tumbling_t")
        .select("event_type", "n").as[(String, Long)].collect().toSet
      assert(rows == Set(("click", 2L), ("view", 1L)))
    } finally q.stop()
  }

  test("streaming hourly error share equals the batch slo_burn core") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    // hour 1 (offset past the epoch-0 watermark gotcha): 3 ok + 1
    // error = 2500 bp; hour 2: 2 errors of 2 = 10000 bp
    src.addData(
      Ev(1, 61 * min, 1, "click", 1.0), Ev(2, 65 * min, 2, "view", 1.0),
      Ev(3, 70 * min, 3, "click", 1.0), Ev(4, 75 * min, 4, "error", 1.0),
      Ev(5, 121 * min, 5, "error", 1.0), Ev(6, 130 * min, 6, "error", 1.0))
    val q = StreamingOps.hourlyErrorShare(src.toDF())
      .writeStream.format("memory").queryName("errshare_t")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("errshare_t")
        .select("n", "n_err", "err_bp").as[(Long, Long, Long)]
        .collect().toSet
      assert(rows == Set((4L, 1L, 2500L), (2L, 2L, 10000L)), rows.toString)
    } finally q.stop()
  }

  test("streaming RRF fusion converges to the batch rrf_fusion result") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{FusedHit, TierHit}
    val dir = "/root/testdata/sf0.001"
    // the two retrieval tiers' batch outputs become the live feed —
    // lexical hits land in micro-batch 1, vector hits in micro-batch 2
    val lexHits = graft.etl.TfIdf.tfidfSearch(spark, dir)
      .select("qid", "did", "rank").as[(Long, Long, Int)].collect()
      .map { case (q, c, r) => TierHit(q, c, "lex", r) }
    val vecHits = graft.etl.Similarity.knnBrute(spark, dir)
      .select("qid", "cid", "rank").as[(Long, Long, Int)].collect()
      .map { case (q, c, r) => TierHit(q, c, "vec", r) }
    val src = MemoryStream[TierHit]
    val q = StreamingOps.streamingRrf(src.toDS())
      .writeStream.format("memory").queryName("rrf_t")
      .outputMode(OutputMode.Update()).start()
    try {
      src.addData(lexHits.toSeq: _*)
      q.processAllAvailable()
      src.addData(vecHits.toSeq: _*)
      q.processAllAvailable()
      val all = spark.table("rrf_t").as[FusedHit].collect()
      // latest emission per (qid, rank) = the maintained leaderboard
      val latest = all.zipWithIndex.groupBy(r => (r._1.qid, r._1.rank))
        .map { case (_, vs) => vs.maxBy(_._2)._1 }.toSet
      val batch = graft.etl.TfIdf.rrfFusion(spark, dir)
        .select("qid", "rank", "cand", "rrf")
        .as[(Long, Int, Long, Long)].collect()
        .map { case (qid, r, c, s) => FusedHit(qid, r, c, s) }.toSet
      assert(latest == batch,
        s"stream/batch drift: only-stream=${latest -- batch}, only-batch=${batch -- latest}")
    } finally q.stop()
  }

  test("streaming CMS: cells after two micro-batches equal the batch " +
       "sketch cell-for-cell; state is the 1024-cell constant") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val words = graft.etl.Shingles.words(
        graft.Tables.documents(spark, dir)
          .select(col("doc_id"), col("text")).limit(64))
      .select("word").as[String].collect()
    val (w1, w2) = words.splitAt(words.length / 2)
    val src = MemoryStream[String]
    val q = StreamingOps.streamingCmsCells(src.toDF().toDF("word"))
      .writeStream.format("memory").queryName("cms_t")
      .outputMode(OutputMode.Complete()).start()
    try {
      src.addData(w1.toSeq: _*)
      q.processAllAvailable()
      src.addData(w2.toSeq: _*)
      q.processAllAvailable()
      val stream = spark.table("cms_t")
        .as[(Long, Long, Long)].collect().toSet
      assert(stream.size <= 4 * 256, "cell state exceeded d*w")
      val batch = StreamingOps.streamingCmsCells(
          words.toSeq.toDF("word"))
        .as[(Long, Long, Long)].collect().toSet
      assert(stream == batch,
        s"stream/batch drift: only-stream=${stream -- batch}, " +
          s"only-batch=${batch -- stream}")
    } finally q.stop()
  }

  test("streaming HLL: registers after two micro-batches equal the " +
       "batch build AND the native aggregate; state is bounded at 4096") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val words = graft.etl.Shingles.words(
        graft.Tables.documents(spark, dir)
          .select(col("doc_id"), col("text")).limit(64))
      .select("word").as[String].collect()
    val (w1, w2) = words.splitAt(words.length / 2)
    val src = MemoryStream[String]
    val q = StreamingOps.streamingHllRegisters(src.toDF().toDF("word"))
      .writeStream.format("memory").queryName("hll_t")
      .outputMode(OutputMode.Complete()).start()
    try {
      src.addData(w1.toSeq: _*)
      q.processAllAvailable()
      src.addData(w2.toSeq: _*)
      q.processAllAvailable()
      val stream = spark.table("hll_t")
        .as[(Int, Int)].collect().toSet
      assert(stream.size <= 4096, "register state exceeded m")
      val batch = StreamingOps.streamingHllRegisters(
          words.toSeq.toDF("word"))
        .as[(Int, Int)].collect().toSet
      assert(stream == batch,
        s"stream/batch drift: only-stream=${stream -- batch}, " +
          s"only-batch=${batch -- stream}")
      // and both equal the native TypedImperativeAggregate's registers
      import graft.functions.HllSketchFunctions.hllSketch
      val native = words.toSeq.toDF("word")
        .agg(hllSketch(col("word")).as("regs"))
        .select(posexplode(col("regs")))
        .filter(col("col") > 0)
        .select(col("pos").cast("int"), col("col").cast("int"))
        .as[(Int, Int)].collect().toSet
      assert(stream == native,
        s"stream/native drift: only-stream=${stream -- native}, " +
          s"only-native=${native -- stream}")
    } finally q.stop()
  }

  test("streaming KMV: shard bottom-k states after two micro-batches " +
       "merge to the native batch sketch array-for-array; state bounded") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.KmvShard
    val dir = "/root/testdata/sf0.001"
    val words = graft.etl.Shingles.words(
        graft.Tables.documents(spark, dir)
          .select(col("doc_id"), col("text")))
      .select("word").as[String].collect()
    val (w1, w2) = words.splitAt(words.length / 2)
    val src = MemoryStream[String]
    val q = StreamingOps.streamingKmvSketch(src.toDS())
      .writeStream.format("memory").queryName("kmv_t")
      .outputMode(OutputMode.Update()).start()
    try {
      src.addData(w1.toSeq: _*)
      q.processAllAvailable()
      src.addData(w2.toSeq: _*)
      q.processAllAvailable()
      val all = spark.table("kmv_t").as[KmvShard].collect()
      // latest emission per shard = that shard's live bottom-k
      val latest = all.zipWithIndex.groupBy(_._1.shard)
        .map { case (_, vs) => vs.maxBy(_._2)._1 }
      assert(latest.forall(_.hashes.length <= 1024), "state exceeded k")
      // merge shard sketches (bottom-k of bottom-ks = global bottom-k)
      val merged = latest.map(_.hashes).reduce { (a, b) =>
        val m = graft.functions.KmvSketch.mergeSketches(
          org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a.toArray),
          org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b.toArray))
        m.toLongArray().toSeq
      }
      import graft.functions.KmvSketchFunctions.kmvSketch
      val native = words.toSeq.toDF("word")
        .agg(kmvSketch(col("word"))).as[Seq[Long]].head()
      assert(merged == native,
        s"stream-merge/native drift: merged=${merged.take(5)}..., " +
          s"native=${native.take(5)}...")
    } finally q.stop()
  }

  test("streaming q-digest: shard digests after two micro-batches merge " +
       "to band-valid global quantiles with exact mass; state bounded") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.QdigestShard
    import graft.functions.QdigestSketch
    val dir = "/root/testdata/sf0.001"
    val lens = graft.Tables.documents(spark, dir)
      .select(col("n_chars").cast("long")).as[Long].collect()
    val (l1, l2) = lens.splitAt(lens.length / 2)
    val src = MemoryStream[Long]
    val q = StreamingOps.streamingQdigest(src.toDS())
      .writeStream.format("memory").queryName("qd_t")
      .outputMode(OutputMode.Update()).start()
    try {
      src.addData(l1.toSeq: _*)
      q.processAllAvailable()
      src.addData(l2.toSeq: _*)
      q.processAllAvailable()
      val all = spark.table("qd_t").as[QdigestShard].collect()
      val latest = all.zipWithIndex.groupBy(_._1.shard)
        .map { case (_, vs) => vs.maxBy(_._2)._1 }
      assert(latest.forall(_.digest.length <= 6 * QdigestSketch.K),
        "shard digest exceeded the size bound")
      def ad(s: Seq[Long]) =
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(s.toArray)
      val merged = latest.map(d => ad(d.digest))
        .reduce(QdigestSketch.mergeSketches)
      val n = lens.length.toLong
      assert(QdigestSketch.total(merged) == n, "mass not conserved")
      val sorted = lens.map(v => QdigestSketch.clamp(v).toLong).sorted
      val slack = QdigestSketch.rankSlack(n)
      for (qBp <- Seq(2500, 5000, 9000)) {
        val est = QdigestSketch.quantile(merged, qBp)
        val target = math.max(1L, (qBp.toLong * n + 9999L) / 10000L)
        val ltc = sorted.count(_ < est).toLong
        val lec = sorted.count(_ <= est).toLong
        assert(ltc < target + slack && lec >= target - slack,
          s"stream-merged digest out of band at q=$qBp: est=$est")
      }
    } finally q.stop()
  }

  test("streaming heavy hitters: candidate union + recount equals batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.ShardSketch
    val dir = "/root/testdata/sf0.001"
    val keys = graft.etl.Skew.keyStream(spark, dir).as[String].collect()
    val (h1, h2) = keys.splitAt(keys.length / 2)
    val src = MemoryStream[String]
    val q = StreamingOps.streamingHeavyHitters(src.toDS())
      .writeStream.format("memory").queryName("hh_t")
      .outputMode(OutputMode.Update()).start()
    try {
      src.addData(h1.toSeq: _*)
      q.processAllAvailable()
      src.addData(h2.toSeq: _*)
      q.processAllAvailable()
      val all = spark.table("hh_t").as[ShardSketch].collect()
      // latest emission per shard = that shard's live candidate set
      val latest = all.zipWithIndex.groupBy(_._1.shard)
        .map { case (_, vs) => vs.maxBy(_._2)._1 }
      val cands = latest.flatMap(_.cands).toSet
      assert(latest.forall(_.cands.length <= 32), "capacity breached")
      // the exact recount over the union of shard candidates must
      // reproduce the batch two-pass answer exactly
      val n = keys.length.toLong
      val recount = keys.filter(cands).groupBy(identity)
        .map { case (k, v) => k -> v.length.toLong }
        .filter { case (_, c) => c * graft.etl.Skew.Hitters > n }
      val batch = graft.etl.Skew.heavyHitters(spark, dir)
        .select("k", "cnt").as[(String, Long)].collect().toMap
      assert(recount == batch,
        s"stream/batch drift: only-stream=${recount.keySet -- batch.keySet}, " +
          s"only-batch=${batch.keySet -- recount.keySet}")
    } finally q.stop()
  }

  test("watermarkSweep's predicted drop counts match ACTUAL streaming " +
       "drops at every candidate delay (r9 verdict item 4)") {
    // The sweep (Events.watermarkSweep) predicts, per candidate delay,
    // how many events a withWatermark(delay) stateful op would drop.
    // Replay the SAME fixture through a real streaming aggregation —
    // one event per micro-batch, in arrival order, so the watermark
    // advances exactly like the sweep's arrival-prefix running max —
    // and require the observed drop count to match the prediction ±0.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, timestamp_micros, window}
    val secUs = 1000000L
    // arrival order = event_id: id2 arrives 50s late vs the running
    // max of 100s (the OpUnitSpec watermarkSweep fixture, µs domain)
    val fixture = Seq(
      (1L, 100L * secUs), (2L, 50L * secUs), (3L, 200L * secUs))
    val d = java.nio.file.Files.createTempDirectory("graft_wmp_")
    fixture.map { case (id, us) => (id, "a", us * 1000L) } // ns on disk
      .toDF("event_id", "event_type", "ts")
      .write.mode("overwrite").parquet(d.resolve("events.parquet").toString)
    val predicted = graft.etl.Events.watermarkSweep(spark, d.toString)
      .select("delay_s", "n_dropped").as[(Long, Long)].collect().toMap

    def observedDrops(delayS: Long): Long = {
      val src = MemoryStream[(Long, Long)]
      val name = s"wmproof_$delayS"
      // each event is its own 5s window => surviving events == distinct
      // windows in the sink; a dropped event never updates any group
      val q = src.toDF().toDF("event_id", "us")
        .withColumn("ts", timestamp_micros(col("us")))
        .withWatermark("ts", s"$delayS seconds")
        .groupBy(window(col("ts"), "5 seconds")).count()
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        // one micro-batch per event: the watermark then advances off
        // each prior arrival, mirroring the sweep's per-row prefix max
        fixture.foreach { e => src.addData(e); q.processAllAvailable() }
        fixture.size - spark.table(name).select("window").distinct().count()
      } finally q.stop()
    }

    for (delayS <- Seq(0L, 1L, 10L, 60L, 300L)) {
      // bind once: a clue referencing observedDrops(delayS) would
      // rebuild and replay the whole streaming query a second time per
      // delay even on success (scalatest clues are by-value)
      val got = observedDrops(delayS)
      assert(got == predicted(delayS),
        s"delay=${delayS}s: streaming dropped $got, " +
          s"sweep predicted ${predicted(delayS)}")
    }
  }
}
