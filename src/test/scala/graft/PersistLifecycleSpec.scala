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

  test("verified-pair overlap memo: the exact verify of the LSH pairs " +
      "is ONE frame per (session, dir, data) that containment_pipeline, " +
      "neardup_pipeline, dedup_sweep and lsh_quality all read; cleared " +
      "with the other memos, zero pinned blocks") {
    freshStart()
    graft.etl.Memos.clearAll()
    import org.apache.spark.sql.graft.PlanBridge
    val ov = graft.etl.Dedup.pairOverlap(spark, dir)
    assert(ov eq graft.etl.Dedup.pairOverlap(spark, dir),
      "second lookup rebuilt instead of hitting the memo")
    Seq("containment_pipeline", "neardup_pipeline", "dedup_sweep",
        "lsh_quality").foreach { q =>
      assert(SparkEntry.queries(q)(spark, dir).count() > 0,
        s"$q returned no rows")
      assert(graft.etl.Dedup.pairOverlap(spark, dir) eq ov,
        s"$q replaced the shared overlap frame")
    }
    val f = PlanBridge.checkpointFile(ov)
    assert(f.nonEmpty, "memoized overlap is not a reliable-checkpoint scan")
    val p = new org.apache.hadoop.fs.Path(f.get)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(p), s"expected checkpoint files at $p")
    graft.etl.Memos.clearAll()
    assert(!fs.exists(p), s"Memos.clearAll left checkpoint files at $p")
    assertNoPins("overlap memo consumers")
  }

  test("with the overlap memo warm, containment_pipeline, " +
      "neardup_pipeline and dedup_sweep execute no documents.parquet " +
      "scan: the shingle sets are built once per session, not per query") {
    freshStart()
    graft.etl.Memos.clearAll()
    import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
    import org.apache.spark.sql.util.QueryExecutionListener
    graft.etl.Dedup.pairOverlap(spark, dir)
    try Seq("containment_pipeline", "neardup_pipeline", "dedup_sweep")
      .foreach { q =>
        val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val l = new QueryExecutionListener {
          override def onSuccess(funcName: String, qe: QueryExecution,
              durationNs: Long): Unit = plans.add(qe.explainString(FormattedMode))
          override def onFailure(funcName: String, qe: QueryExecution,
              exception: Exception): Unit = ()
        }
        spark.listenerManager.register(l)
        try {
          Harness.materialize(SparkEntry.queries(q)(spark, dir))
          org.apache.spark.graft.TestBusBridge.waitUntilEmpty(spark.sparkContext)
        } finally spark.listenerManager.unregister(l)
        assert(!plans.isEmpty, s"$q: no executed plan recorded")
        plans.forEach(p => assert(!p.contains("documents.parquet"),
          s"$q re-scanned documents.parquet with the overlap memo warm:\n$p"))
      }
    finally graft.etl.Memos.clearAll()
    assertNoPins("warm overlap memo")
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

  test("corpus build releases its staged survivor sets on return and " +
      "when its chunk write fails") {
    freshStart()
    val out = java.nio.file.Files.createTempDirectory("graft_corpus_pins_")
    assert(graft.etl.CorpusPipeline.build(spark, dir, out.toString).count() == 1L)
    assertNoPins("corpus build")
    // every stage is staged before the chunk write, which fails because
    // its directory would sit under a regular file
    val blocker = java.nio.file.Files.createFile(out.resolve("not_a_dir"))
    val thrown = intercept[org.apache.hadoop.fs.ParentNotDirectoryException] {
      graft.etl.CorpusPipeline.build(spark, dir, s"$blocker/out")
    }
    assert(thrown.getMessage.contains(blocker.toString), thrown.getMessage)
    assertNoPins("failed corpus build")
  }

  test("corpus build runs each stage once: job count pinned at sf0.001") {
    // Each survivor set is staged once, and its count is observed in
    // that staging job. A stage left lazy re-runs its whole upstream
    // chain at every later count and read (199 jobs here with no stage
    // staged); a trailing count() per stage costs two more jobs each
    // (79 jobs with every stage staged and counted that way), and
    // counted in the staging jobs, 54. With each survivor decision one
    // top-1 cut or one clip core, and the mix rates collected, 38.
    val MaxBuildJobs = 38
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.TestBusBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      graft.etl.CorpusPipeline.build(spark, dir,
        java.nio.file.Files.createTempDirectory("graft_corpus_jobs_").toString)
      org.apache.spark.graft.TestBusBridge.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get <= MaxBuildJobs,
      s"corpus build launched ${jobs.get} jobs (pin $MaxBuildJobs): a stage recomputes")
  }

  test("quality-train artifact build: job count pinned at sf0.001") {
    // Staging, the warm-start aggregate, one aggregate per perceptron
    // round and one scoring pass for every candidate, then the
    // artifact's checkpoint; a weight vector staged as a frame cost
    // several jobs per round and a 28-partition union at the end.
    val MaxTrainJobs = 19
    freshStart()
    graft.etl.Memos.clearAll()
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.TestBusBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      graft.etl.QualityTrain.trainArtifact(spark, dir)
      org.apache.spark.graft.TestBusBridge.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    graft.etl.Memos.clearAll()
    assert(jobs.get <= MaxTrainJobs,
      s"train artifact build launched ${jobs.get} jobs (pin $MaxTrainJobs)")
    assertNoPins("train artifact build")
  }

  test("releasing a scope's local checkpoints logs no lineage warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import spark.implicits._
    freshStart()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("release-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(s"${e.getLevel} ${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    val level = root.getLevel
    if (!root.isWarnEnabled) root.setLevel(Level.WARN)
    root.addAppender(appender)
    try {
      graft.etl.Fixpoint.scoped { scope =>
        assert(scope.local(Seq(1L, 2L).toDF("x")).count() == 2L)
        scope.local(spark.range(5).toDF("y"))
      }
    } finally {
      root.removeAppender(appender)
      root.setLevel(level)
      appender.stop()
    }
    import scala.jdk.CollectionConverters._
    val warned = lines.asScala.filter(_.contains("locally checkpointed"))
    assert(warned.isEmpty, warned.mkString("\n"))
    assertNoPins("released scope")
  }

  test("corpus build writes no reliable checkpoint files: its LSH pairs " +
      "and components stay in the build's own scope") {
    freshStart()
    val sc = spark.sparkContext
    def rddDirs(): Set[String] = sc.getCheckpointDir.toSeq.flatMap { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(sc.hadoopConfiguration)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.map(_.getPath.getName).filter(_.startsWith("rdd-"))
    }.toSet
    val before = rddDirs()
    graft.etl.CorpusPipeline.build(spark, dir,
      java.nio.file.Files.createTempDirectory("graft_corpus_ckpt_").toString)
    val added = rddDirs() -- before
    assert(added.isEmpty, s"corpus build wrote reliable checkpoints: $added")
    assertNoPins("corpus build")
  }

  test("components closure observes its convergence witness in the " +
      "staging jobs: no head action") {
    freshStart()
    val sc = spark.sparkContext
    val pairs = graft.etl.Dedup.minhashLsh(spark, dir)
    val actions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        actions.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        actions.add(funcName)
    }
    org.apache.spark.graft.TestBusBridge.waitUntilEmpty(sc)
    spark.listenerManager.register(listener)
    try {
      graft.etl.Dedup.dedupComponentsFrom(pairs)
      org.apache.spark.graft.TestBusBridge.waitUntilEmpty(sc)
    } finally spark.listenerManager.unregister(listener)
    assert(actions.contains("localCheckpoint"), actions.toString)
    assert(!actions.contains("head"), s"closure actions: $actions")
    assertNoPins("components closure")
  }

  test("an empty quality gate cannot hang the build: every later count " +
      "is observed as 0") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    import spark.implicits._
    freshStart()
    val in = java.nio.file.Files.createTempDirectory("graft_corpus_empty_")
    // no stopwords and at most a few characters: quality_bp stays far
    // below the floor
    val n = 40
    (0L until n.toLong).map(i => (i, s"x$i", "en", s"src${i % 3}"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(in.resolve("documents.parquet").toString)
    implicit val signaler: Signaler = ThreadSignaler
    val row = TimeLimits.failAfter(120.seconds) {
      graft.etl.CorpusPipeline.build(spark, in.toString, in.resolve("out").toString)
        .collect().head
    }
    assert((0 until row.length).map(row.getLong) == (n.toLong +: Seq.fill(8)(0L)))
    assertNoPins("empty corpus build")
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
