package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftExtensions, SparkEntry, Tables}
import graft.etl._

/** Benchmark process: one JVM, `local[cpus]`, one closed-loop client.
  *
  * {{{
  * perfbench.Main --workload corpus_build|memo_fanout --seed N
  *   --seconds S --trace 0|1 --input DIR --work DIR --cpus N --out FILE
  * }}}
  *
  * Writes one JSON object to `--out`: op counts, every metric, and the
  * values the launcher checks against `pins.json`. The launcher (run.py)
  * prepares the input directory and judges correctness.
  */
object Main {

  /** Reference times of the speed probe's pass and of the SQL canary;
    * the reported figures read as if the probe and the canary had taken
    * them. On a shared 4-core VM the same build took 33 s and 91 s twelve
    * minutes apart; the scaling removes most of that drift (see
    * README.md).
    */
  val ProbeRefS = 0.0005
  val SqlCanaryRefS = 0.5

  /** The session-memo consumers and the module that implements each. */
  val Consumers: Seq[(String, String)] = Seq(
    "minhash_lsh" -> "Dedup", "dedup_components" -> "Dedup",
    "cluster_sizes" -> "Dedup", "dup_attribution" -> "Dedup",
    "dedup_canonical" -> "Dedup", "dedup_sweep" -> "Dedup",
    "dedup_components_incremental" -> "Dedup",
    "curation_funnel" -> "CorpusPipeline", "dup_quality_profile" -> "Dedup",
    "containment_pipeline" -> "Dedup", "neardup_pipeline" -> "Splits",
    "quality_train" -> "QualityTrain", "quality_train_curve" -> "QualityTrain",
    "quality_train_eval" -> "QualityTrain")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, input: String, work: String, cpus: Int, out: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("input"), m("work"), m("cpus").toInt, m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val json = new Runner(a).run()
    Files.write(Paths.get(a.out), json.getBytes(StandardCharsets.UTF_8))
  }
}

/** One operation's record: the module that implements it, wall seconds,
  * listener deltas over the operation (and, when tracing a memo consumer,
  * the memo probe before it), and the fixpoint rounds it recorded.
  */
final case class Op(name: String, module: String, seconds: Double, windowSeconds: Double,
    exec: Exec, rounds: Map[String, Int])

/** Listener deltas over one replayed stage and the closure rounds it
  * recorded.
  */
final case class StageExec(exec: Exec, maxTaskMs: Long, rounds: Int)

final class Runner(a: Main.Args) {
  import Main._

  private val listener = new ExecListener
  private val tr = new Tracer(a.trace)
  private val probe = new SpeedProbe
  private val ckptDir = s"${a.work}/ckpt"
  private var spark: SparkSession = _

  private val ops = ArrayBuffer.empty[Op]
  private val errors = ArrayBuffer.empty[String]
  private val digests = ArrayBuffer.empty[(String, String)]
  private val reports = ArrayBuffer.empty[Seq[Long]]
  private val layer = LinkedHashMap.empty[String, (Double, String)]
  private val stageExec = LinkedHashMap.empty[String, StageExec]
  private var liveHeapMb = 0.0
  private var memoGets, memoHits = 0
  private var memoBuildS = 0.0

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (now() - t0) / 1e9

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(ckptDir)
    s.sparkContext.addSparkListener(listener)
    s
  }

  /** The warm pass, part of set-up: a table scan and one per-row kernel. */
  private def warm(): Unit = {
    val docs = Tables.documents(spark, a.input)
    docs.count()
    TextAnalysis.qualityFrom(docs.limit(500)).write.format("noop").mode("overwrite").save()
  }

  /** Session creation plus warm pass, five times, each followed by the
    * SQL canary; the last session stays. Returns (set-up, canary) seconds
    * per round.
    */
  private def setup(): Seq[(Double, Double)] = (1 to 5).map { _ =>
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val t0 = now()
    spark = session()
    warm()
    (secs(t0), sqlCanary())
  }

  /** Fixed SQL work that runs no library code and is bound, like set-up,
    * by query planning: ten small aggregations over a generated range.
    */
  private def sqlCanary(): Double = {
    val t0 = now()
    (1 to 10).foreach { _ =>
      spark.range(0, 1000, 1, a.cpus).selectExpr("id % 7 as k").groupBy("k").count().collect()
    }
    secs(t0)
  }

  private def drain(): Exec = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    listener.snapshot()
  }

  private def sampleHeap(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    liveHeapMb = math.max(liveHeapMb, used)
  }

  /** Order-independent digest of a frame's rows: row count, XOR and low-word
    * sum of a 64-bit row hash. Map columns hash through their JSON text.
    */
  private def digestColumns(df: DataFrame): Seq[Column] = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case ar: ArrayType => hasMap(ar.elementType)
      case _ => false
    }
    val h =
      if (df.schema.fields.exists(f => hasMap(f.dataType)))
        xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
      else xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    Seq(count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("s"))
  }

  private def digestString(n: Any, x: Any, s: Any): String =
    s"$n:${Option(x).getOrElse(0L)}:${Option(s).getOrElse(0L)}"

  private def digestOf(df: DataFrame): String = {
    val r = df.agg(digestColumns(df).head, digestColumns(df).tail: _*).head()
    digestString(r.get(0), r.get(1), r.get(2))
  }

  /** The three public memo getters, called around each traced operation.
    * A call that launches no job is a hit.
    */
  private def memoProbe(): Unit = Seq(
    "SessionMemo.componentsFrame" -> (() => Dedup.componentsFrame(spark, a.input)),
    "SessionMemo.minhashLsh" -> (() => Dedup.minhashLsh(spark, a.input)),
    "SessionMemo.trainArtifact" -> (() => QualityTrain.trainArtifact(spark, a.input))
  ).foreach { case (name, get) =>
    val j0 = drain().jobs
    val t0 = now()
    tr(name)(get())
    val dt = secs(t0)
    memoGets += 1
    if (drain().jobs == j0) memoHits += 1 else memoBuildS += dt
  }

  /** Runs and records one operation; a throw is a failed operation. When
    * tracing a memo consumer, the memo probe runs inside the operation's
    * window before it, so the builds it takes over stay counted there.
    */
  private def op(name: String, module: String, consumer: Boolean)(body: => Unit): Unit = {
    val w0 = now()
    val before = if (tr.on) { Fixpoint.lastRounds.clear(); drain() } else null
    tr.op = ops.size
    if (tr.on && consumer) memoProbe()
    val t0 = now()
    try tr(s"$module.$name")(body)
    catch {
      case e: Throwable =>
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        System.err.println(s"[perfbench] $name FAILED: $e")
    }
    val dt = secs(t0)
    val window = secs(w0)
    tr.op = -1
    val (delta, rounds) =
      if (tr.on) {
        import scala.jdk.CollectionConverters._
        (drain() - before, Fixpoint.lastRounds.asScala.toMap)
      } else (Exec(), Map.empty[String, Int])
    ops += Op(name, module, dt, window, delta, rounds)
    sampleHeap()
  }

  /** A SparkEntry query: build the frame, force its physical plan, then
    * run it into the noop sink with its digest observed in the same job.
    */
  private def query(name: String, module: String): Unit = op(name, module, consumer = true) {
    val df = tr("SparkEntry.construct")(SparkEntry.queries(name)(spark, a.input))
    val obs = Observation(s"digest_${ops.size}")
    val cols = digestColumns(df)
    val observed = df.observe(obs, cols.head, cols.tail: _*)
    tr("SparkEntry.plan")(observed.queryExecution.executedPlan)
    tr("SparkEntry.exec")(observed.write.format("noop").mode("overwrite").save())
    val m = obs.get
    digests += name -> digestString(m("n"), m("x"), m("s"))
  }

  private def corpusBuild(deadline: Long): Unit = {
    val out = s"${a.work}/build"
    do op("build", "CorpusPipeline", consumer = false) {
      val r = tr("SparkEntry.construct")(CorpusPipeline.build(spark, a.input, out))
      tr("SparkEntry.plan")(r.queryExecution.executedPlan)
      val row = tr("SparkEntry.exec")(r.collect().head)
      reports += (0 until row.length).map(row.getLong)
    } while (now() < deadline)
    digests += "chunks" -> digestOf(spark.read.parquet(s"$out/chunks")
      .select("doc_id", "lang", "chunk_idx", "chunk"))
  }

  private def memoFanout(deadline: Long): Unit = {
    val order = new scala.util.Random(a.seed).shuffle(Consumers)
    do {
      Memos.clearAll()
      order.foreach { case (q, m) => query(q, m) }
    } while (now() < deadline)
  }

  /** Feeds each public stage function of the corpus build the previous
    * stage's output, materialized to parquet, so each stage is timed
    * alone. The survivor counts must equal the build report. Listener
    * deltas and closure rounds are kept per stage.
    */
  private def replay(): (Seq[Long], Double) = {
    import CorpusPipeline._
    val dir = s"${a.work}/replay"
    var total = 0.0
    def stage(name: String, out: String)(f: => DataFrame): (DataFrame, Long) = {
      Fixpoint.lastRounds.clear()
      val before = drain()
      listener.resetMax()
      val t0 = now()
      tr(name)(f.write.mode("overwrite").parquet(s"$dir/$out"))
      total += secs(t0)
      val after = drain()
      stageExec(name) = StageExec(after - before, after.maxTaskMs,
        Fixpoint.lastRounds.getOrDefault("components_closure", 0))
      val back = spark.read.parquet(s"$dir/$out")
      (back, back.count())
    }
    val docs = Tables.documents(spark, a.input)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val nInput = docs.count()
    val (kept1, nQuality) = stage("TextAnalysis.quality", "kept1") {
      docs.join(TextAnalysis.qualityFrom(docs).filter(col("quality_bp") >= QualityFloorBp)
        .select("doc_id", "quality_bp"), Seq("doc_id"))
    }
    val (capped, nDomCap) = stage("CorpusPipeline.domcap", "capped") {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality_bp").desc, col("doc_id").asc)
      kept1.withColumn("src_rank", row_number().over(w))
        .filter(col("src_rank") <= DomainCapDocs).drop("quality_bp", "src_rank")
    }
    val (kept2, nExact) = stage("Dedup.exact", "kept2") {
      capped.join(Dedup.dedupExactFrom(capped).select(col("canonical_doc").as("doc_id")),
        Seq("doc_id"))
    }
    val (pairs, _) = stage("Dedup.lsh", "pairs") {
      Dedup.minhashLshFrom(kept2.select(col("doc_id"), col("text")))
    }
    val (kept3, nNearDup) = stage("Dedup.closure", "kept3") {
      val comp = Dedup.dedupComponentsFrom(pairs)
      val keepers = comp
        .join(kept2.select(col("doc_id"), length(col("text")).as("len")), Seq("doc_id"))
        .groupBy(col("component"))
        .agg(max(struct(col("len"), (-col("doc_id")).as("nid"))).as("m"))
        .select((-col("m.nid")).as("doc_id"))
      kept2.join(comp.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(kept2.join(keepers, Seq("doc_id")))
    }
    val (clipped, nClipped) = stage("Dedup.spanclip", "clipped") {
      Dedup.spanClipFrom(kept3.select(col("doc_id"), col("text")))
        .filter(col("n_words") - col("n_removed") >= MinCleanWords)
        .select(col("doc_id"), col("clean_text").as("text"))
        .join(kept3.select(col("doc_id"), col("lang")), Seq("doc_id"))
    }
    val (kept4, nEntropy) = stage("TextAnalysis.entropy", "kept4") {
      clipped.join(TextAnalysis.charEntropyFrom(clipped)
        .filter(col("entropy") >= EntropyFloor).select("doc_id"), Seq("doc_id"))
    }
    val (sampled, nSampled) = stage("CorpusPipeline.mix", "sampled") {
      val toks = kept4
        .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("t"))
        .groupBy(col("lang")).agg(sum(col("t")).as("n_tokens"))
      val tot = toks.agg(sum(col("n_tokens")).as("total"), count(lit(1)).as("n_langs"))
      val rates = toks.crossJoin(broadcast(tot))
        .select(col("lang"),
          least(lit(10000L), expr("(10000 * (total div n_langs)) div n_tokens")).as("rate_bp"))
      kept4.join(broadcast(rates), Seq("lang"))
        .filter(Splits.hashBucket(col("doc_id"), "mix:") * lit(100) < col("rate_bp"))
    }
    val (chunks, nChunks) = stage("Chunker.chunk", "chunks") {
      Chunker.chunk(sampled, col("text"), ChunkSize, ChunkOverlap)
        .select(col("doc_id"), col("lang"), col("chunk_idx"), col("chunk"))
    }
    tr("Sinks.write")(Sinks.writeChunks(chunks, s"$dir/sink"))
    (Seq(nInput, nQuality, nDomCap, nExact, nNearDup, nClipped, nEntropy, nSampled, nChunks),
      total)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def layerMetrics(replayS: Double): Unit = {
    def put(k: String, v: Double, u: String): Unit = layer(k) = (v, u)
    val n = ops.size.toDouble
    def perOp(f: Op => Double): Double = ops.map(f).sum / n
    val wall = ops.map(_.windowSeconds).sum
    put("exec.jobs", perOp(_.exec.jobs), "count")
    put("exec.stages", perOp(_.exec.stages), "count")
    put("exec.one_task_stages", perOp(_.exec.oneTaskStages), "count")
    put("exec.tasks", perOp(_.exec.tasks), "count")
    put("exec.task_s", perOp(_.exec.taskMs / 1000.0), "s")
    put("exec.core_util", ops.map(_.exec.taskMs).sum / 1000.0 / (wall * a.cpus), "ratio")
    put("exec.gc_s", perOp(_.exec.gcMs / 1000.0), "s")
    put("exec.shuffle_write_mb", perOp(_.exec.shuffleWriteB / 1048576.0), "MB")
    put("exec.spill_mb", perOp(_.exec.spillB / 1048576.0), "MB")

    def spanMedian(name: String) = median(tr.spans.filter(_.name == name).map(_.seconds).toSeq)
    put("SparkEntry.construct_s", spanMedian("SparkEntry.construct"), "s")
    put("SparkEntry.plan_s", spanMedian("SparkEntry.plan"), "s")
    put("SparkEntry.exec_s", spanMedian("SparkEntry.exec"), "s")

    put("Tables.splits", Tables.documents(spark, a.input).rdd.getNumPartitions, "count")
    put("functions.kernel_max_task_s",
      Seq("Dedup.lsh", "Dedup.spanclip").map(stageExec(_).maxTaskMs).max / 1000.0, "s")

    put("Fixpoint.rounds.components_closure",
      ops.flatMap(_.rounds.get("components_closure")).lastOption.getOrElse(0).toDouble, "count")
    val closure = stageExec("Dedup.closure")
    put("Fixpoint.jobs_per_round", closure.exec.jobs.toDouble / closure.rounds, "count")

    for (m <- (Consumers.map(_._2) :+ "CorpusPipeline").distinct)
      put(s"family.$m.p50_s", ops.filter(_.module == m).map(_.seconds).toSeq match {
        case Seq() => 0.0
        case xs => median(xs)
      }, "s")

    put("SessionMemo.gets", memoGets, "count")
    put("SessionMemo.hits", memoHits, "count")
    put("SessionMemo.hit_ratio", if (memoGets == 0) 0.0 else memoHits.toDouble / memoGets, "ratio")
    put("SessionMemo.build_s", memoBuildS, "s")
    put("SessionMemo.ckpt_mb", dirBytes(Paths.get(ckptDir)) / 1048576.0, "MB")

    def spanTotal(name: String) = tr.spans.filter(_.name == name).map(_.seconds).sum
    put("CorpusPipeline.stage_s.domcap", spanTotal("CorpusPipeline.domcap"), "s")
    put("CorpusPipeline.stage_s.mix", spanTotal("CorpusPipeline.mix"), "s")
    put("CorpusPipeline.replay_s", replayS, "s")
    val builds = ops.filter(_.name == "build").map(_.seconds).toSeq
    put("CorpusPipeline.recompute_ratio",
      if (builds.isEmpty) 0.0 else median(builds) / replayS, "ratio")
    for ((metric, span) <- Seq("Dedup.exact_s" -> "Dedup.exact", "Dedup.lsh_s" -> "Dedup.lsh",
        "Dedup.closure_s" -> "Dedup.closure", "Dedup.spanclip_s" -> "Dedup.spanclip",
        "TextAnalysis.quality_s" -> "TextAnalysis.quality",
        "TextAnalysis.entropy_s" -> "TextAnalysis.entropy",
        "Chunker.chunk_s" -> "Chunker.chunk", "Sinks.write_s" -> "Sinks.write"))
      put(metric, spanTotal(span), "s")
    put("Sinks.write_mb", dirBytes(Paths.get(s"${a.work}/replay/sink")) / 1048576.0, "MB")

    put("trace.ops_wall_s", wall, "s")
    put("live_heap_mb", liveHeapMb, "MB")
  }

  def run(): String = {
    Files.createDirectories(Paths.get(a.work))
    probe.start()
    val setups = setup()
    System.err.println(s"[perfbench] setup_s, canary_s ${setups.mkString(" ")}")
    sampleHeap()
    val deadline = now() + (a.seconds * 1e9).toLong
    val (_, opsProbe) = probe.during {
      a.workload match {
        case "corpus_build" => corpusBuild(deadline)
        case "memo_fanout" => memoFanout(deadline)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    }
    val probeS = median(opsProbe)
    val setupS = median(setups.map(_._1))
    val opsPerS = ops.size / ops.map(_.seconds).sum
    val metrics = LinkedHashMap[String, (Double, String)](
      "setup_s" -> (median(setups.map { case (s, c) => s / c }) * SqlCanaryRefS, "s"),
      "ops_per_s" -> (opsPerS * probeS / ProbeRefS, "1/s"))
    var replayCounts = Seq.empty[Long]
    if (tr.on) {
      val r0 = now()
      val (counts, replayS) = replay()
      replayCounts = counts
      layerMetrics(replayS)
      Files.write(Paths.get(s"${a.work}/trace.json"), tr.json.getBytes(StandardCharsets.UTF_8))
      System.err.println(f"[perfbench] replay ${secs(r0)}%.1f s")
    }
    spark.stop()
    val all = metrics ++ layer
    val metricJson = all.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    val setupJson = setups.map { case (s, c) => s"[${Json.num(s)},${Json.num(c)}]" }
    val digestJson = digests.map { case (k, v) => s"[${Json.str(k)},${Json.str(v)}]" }
    s"""{"attempted":${ops.size},"failed":${errors.size},""" +
      s""""errors":[${errors.map(Json.str).mkString(",")}],""" +
      s""""metrics":{${metricJson.mkString(",")}},""" +
      s""""reports":[${reports.map(_.mkString("[", ",", "]")).mkString(",")}],""" +
      s""""replay_counts":[${replayCounts.mkString(",")}],""" +
      s""""samples":[${ops.map(o => s"[${Json.str(o.name)},${Json.num(o.seconds)}]").mkString(",")}],""" +
      s""""digests":[${digestJson.mkString(",")}],""" +
      s""""raw":{"setup_s":${Json.num(setupS)},"ops_per_s":${Json.num(opsPerS)},""" +
      s""""probe_s":${Json.num(probeS)},"probe_n":${opsProbe.size},"setups":[${setupJson.mkString(",")}]}}"""
  }
}
