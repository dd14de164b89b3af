package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{Crawl, GraphCuration}

/** Persist-lifecycle contract for the graph fixpoint family (r9 verdict
  * item 2): every operator releases its own pinned frames — composing
  * graph queries back-to-back WITHOUT the Verify/Bench harness scrub
  * must leave `getPersistentRDDs` empty after each materialization.
  * The mechanism is [[graft.etl.Fixpoint.reliably]]: per-round state is
  * eagerly written to a reliable checkpoint (persist → checkpoint →
  * unpersist), so the returned frame reads checkpoint FILES and no
  * block-manager residue survives the call.
  */
class PersistLifecycleSpec extends AnyFunSuite with SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  private def assertNoPins(tag: String): Unit = {
    val pinned = spark.sparkContext.getPersistentRDDs
    assert(pinned.isEmpty,
      s"$tag left ${pinned.size} pinned RDD(s): " +
        pinned.values.map(r => s"${r.id}:${r.name}").mkString(", "))
  }

  // Other suites share this JVM's session; scrub once up front so any
  // residue the assertions see is attributable to THESE operators.
  private def freshStart(): Unit = Harness.scrub(spark, keepMemo = true)

  test("graph fixpoints compose without harness scrub: zero pinned RDDs " +
      "after each materialization") {
    freshStart()
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "pprSeed" -> (() => Crawl.pprSeed(spark, dir)),
      "pagerankIter" -> (() => Crawl.pagerankIter(spark, dir)),
      "hitsScores" -> (() => Crawl.hitsScores(spark, dir)),
      "bfsLayers" -> (() => Crawl.bfsLayers(spark, dir)),
      "crawlBfs" -> (() => Crawl.crawlBfs(spark, dir)),
      "crawlPriority" -> (() => Crawl.crawlPriority(spark, dir)),
      "triangleCounts" -> (() => Crawl.triangleCounts(spark, dir)),
      "kcore" -> (() => GraphCuration.kcore(spark, dir)))
    ops.foreach { case (name, op) =>
      assert(op().count() > 0, s"$name returned no rows")
      assertNoPins(name)
    }
  }

  test("the dedup / ANN / grid families also compose clean: zero pinned " +
      "RDDs after each materialization (round-10 engine-wide sweep)") {
    freshStart()
    // the queries whose operators formerly pinned persist()/
    // localCheckpoint() blocks for the harness scrub to clean
    val qs = Seq("minhash_lsh", "simhash_neardup", "dedup_incremental",
      "dedup_components", "cluster_sizes", "mmr_diversify", "ivf_sweep",
      "knn_pq_trained", "pca_power", "survival_hazard", "conversion_lag",
      "slo_burn", "bpe_train", "page_id_gen", "bloom_prefilter",
      "t_closeness",
      // round-11 eager operators (locally-staged + reliable final)
      "bleu_eval", "rouge_eval", "chrf_eval", "wer_eval", "rbo_overlap",
      "cms_frequency", "ap_eval",
      // round-13 eager operators: staged token/length frames + sketch
      // aggs / GroupTopK cuts above them
      "kmv_novelty", "quantile_digest", "quantile_weighted", "summary_extract",
      // round-14 eager operators: staged class frame (reliable) + the
      // pair-frame consumer
      "lsh_bucket_stats", "containment_pipeline",
      // round-16 eager operators: staged train/valid frames + per-round
      // weight checkpoints, pocket pick, reliable final
      "quality_train", "quality_train_curve", "quality_train_eval",
      "pdf_extract",
      // round-17 eager operator: staged (g, doc) multiplicity frame
      "ingest_novelty",
      // local-checkpoint scopes no entry above exercised
      "zipf_bands", "hll_union", "kmv_overlap", "cms_native", "modularity",
      "llr_collocations", "simhash_wide_neardup")
    qs.foreach { name =>
      assert(SparkEntry.queries(name)(spark, dir).count() > 0,
        s"$name returned no rows")
      assertNoPins(name)
    }
  }

  test("dead-session sweep deletes the stopped owner's checkpoint " +
      "files (round 16; ADVICE r14 stretch) — run in a child JVM, " +
      "since the stopped-context scenario cannot share this suite's " +
      "live context") {
    val (code, out) = ChildJvm.run("graft.DeadSessionMemoCheck", Seq(dir))
    assert(code == 0 && out.contains("DEADSESSION_DELETED=true"),
      s"child JVM exit $code:\n${ChildJvm.tail(out)}")
  }

  test("session memos refresh when the data under dir changes " +
      "(fingerprint identity — ADVICE r13 / verdict item 3a), " +
      "with the dir named by a file:// URI so the staleness check " +
      "provably runs through the Hadoop FileSystem path (r14 item 5)") {
    freshStart()
    graft.etl.Memos.clearAll()
    val local = java.nio.file.Files.createTempDirectory("graft-memo-stale").toString
    // the memo sees only the URI form: fingerprinting it exercises the
    // Hadoop listStatus walk (a java.io.File walk would not resolve a
    // scheme-qualified path and would silently degrade to fingerprint 0,
    // which this test then catches as a stale 4-doc count below)
    val tmp = s"file://$local"
    import spark.implicits._
    def write(n: Int): Unit =
      (0L until n.toLong)
        .map(i => (i, "alpha beta gamma delta epsilon zeta eta theta", "en",
          "src", 48L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    try {
      // n identical texts -> identical signatures -> one n-doc component
      write(4)
      val old = graft.etl.Dedup.componentsFrame(spark, tmp)
      assert(old.count() == 4L)
      val oldFile = org.apache.spark.sql.graft.PlanBridge.checkpointFile(old)
        .map(new org.apache.hadoop.fs.Path(_))
      assert(oldFile.nonEmpty)
      val fs = oldFile.get.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(oldFile.get))
      // SAME path, new data: the memo must serve the new corpus, not
      // the round-13 behavior (stale checkpoint scan of the 4-doc one)
      write(6)
      assert(graft.etl.Dedup.componentsFrame(spark, tmp).count() == 6L)
      // ...and the superseded snapshot's checkpoint files are deleted
      // (a long-lived ingest session must not grow disk per cycle)
      assert(!fs.exists(oldFile.get),
        s"superseded memo left checkpoint files at ${oldFile.get}")
      // unchanged data keeps hitting (same fingerprint -> same frame)
      assert(graft.etl.Dedup.componentsFrame(spark, tmp) eq
        graft.etl.Dedup.componentsFrame(spark, tmp))
    } finally {
      graft.etl.Memos.clearAll()
      Harness.deleteRecursively(new java.io.File(local))
    }
  }

  test("Memos.clearAll deletes every memoized checkpoint file — " +
      "components closure, LSH pairs, AND the round-17 quality-train " +
      "artifact (verdict item 3b: no disk growth over N cleared " +
      "snapshots)") {
    freshStart()
    graft.etl.Memos.clearAll()
    import org.apache.spark.sql.graft.PlanBridge
    val comp = graft.etl.Dedup.componentsFrame(spark, dir)
    val pairs = graft.etl.Dedup.minhashLsh(spark, dir)
    val art = graft.etl.QualityTrain.trainArtifact(spark, dir)
    val files = Seq(comp, pairs, art).map { df =>
      val f = PlanBridge.checkpointFile(df)
      assert(f.nonEmpty, "memoized frame is not a reliable-checkpoint scan")
      new org.apache.hadoop.fs.Path(f.get)
    }
    val fs = files.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.foreach(p => assert(fs.exists(p), s"expected checkpoint files at $p"))
    graft.etl.Memos.clearAll()
    files.foreach(p => assert(!fs.exists(p),
      s"Memos.clearAll left checkpoint files at $p"))
    // the memos rebuild cleanly after a clear
    assert(graft.etl.Dedup.componentsFrame(spark, dir).count() > 0)
    assert(graft.etl.QualityTrain.trainArtifact(spark, dir).count() > 0)
    graft.etl.Memos.clearAll()
    assertNoPins("memo release")
  }

  test("quality-train artifact memo (round 17): the three trainer " +
      "queries share ONE fixpoint build per (session, dir, data) — " +
      "same frame identity across consumers, zero pinned blocks") {
    freshStart()
    graft.etl.Memos.clearAll()
    val a = graft.etl.QualityTrain.trainArtifact(spark, dir)
    assert(a eq graft.etl.QualityTrain.trainArtifact(spark, dir),
      "second lookup rebuilt instead of hitting the memo")
    // all three consumers stay green on the shared artifact
    assert(graft.etl.QualityTrain.qualityTrain(spark, dir).count() ==
      graft.etl.QualityTrain.Buckets + 1)
    assert(graft.etl.QualityTrain.qualityTrainCurve(spark, dir).count() ==
      graft.etl.QualityTrain.Rounds + 1)
    assert(graft.etl.QualityTrain.qualityTrainEval(spark, dir).count() == 1)
    assertNoPins("train artifact consumers")
    graft.etl.Memos.clearAll()
  }

  test("Fixpoint.scoped releases every registered frame when its body " +
      "throws") {
    freshStart()
    import spark.implicits._
    val boom = new IllegalStateException("staging failed")
    val thrown = intercept[IllegalStateException] {
      graft.etl.Fixpoint.scoped { scope =>
        scope.local(Seq(1L, 2L).toDF("x"))
        scope.local(Seq(3L).toDF("y"))
        scope.persist(Seq(4L).toDF("z")).count()
        throw boom
      }
    }
    assert(thrown eq boom)
    assertNoPins("throwing scope")
  }

  test("under Fixpoint.planOnly a scope exit keeps its local blocks " +
      "readable") {
    freshStart()
    import spark.implicits._
    val kept = graft.etl.Fixpoint.planOnly {
      graft.etl.Fixpoint.scoped(_.local(Seq(1L, 2L, 3L).toDF("x")))
    }
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "planOnly scope exit released its local blocks")
    assert(kept.count() == 3L)
    Harness.scrub(spark, keepMemo = true)
  }

  test("released results stay re-executable (checkpoint-backed lineage)") {
    freshStart()
    val bfs = Crawl.crawlBfs(spark, dir)
    val pr = Crawl.pagerankIter(spark, dir)
    // two actions each: the second re-executes the returned frame after
    // the operator already unpersisted its intermediates
    assert(bfs.count() == bfs.count())
    val prFirst = pr.orderBy("node").limit(1).collect()
    assert(prFirst.sameElements(pr.orderBy("node").limit(1).collect()))
    assertNoPins("re-execution")
  }
}
