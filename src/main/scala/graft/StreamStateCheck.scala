package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** Streaming near-dup STATE measurement at scale (VERDICT r14 item 2):
  * replays a corpus dir through [[graft.streaming.StreamingOps]]'
  * near-dup twins and records what the state store actually holds —
  * the evidence the functional StreamingSpec story lacked.
  *
  * Two facts make the measurement exact rather than sampled:
  *  - per-band state occupancy under the first-seen-wins cap is
  *    `min(count, maxPerBand)` REGARDLESS of arrival order (the cap
  *    only truncates; which docs are kept is order-dependent, how many
  *    is not), so one batch pass over the same banding computes the
  *    exact occupancy distribution of the replayed state;
  *  - the state store's own `numRowsTotal` must equal the derived
  *    distinct-key count — the replay cross-checks it (`keys_match`).
  *
  * Modes:
  *   runMain graft.StreamStateCheck <dir>        — bounded-replay fMGWS
  *     form ([[graft.streaming.StreamingOps.streamingNearDup]]): full
  *     corpus through maxFilesPerTrigger-paced micro-batches, final
  *     state rows/bytes vs the derived profile.
  *   runMain graft.StreamStateCheck <dir> <ttlSeconds> — the
  *     production-horizon TTL form on RocksDB
  *     ([[graft.streaming.StreamingOps.streamingNearDupTtl]]): paced
  *     replay whose wall time exceeds the TTL, so early state expires
  *     while late files arrive — records the state-rows timeline
  *     (max vs final) to show churn holds steady-state size below the
  *     no-expiry total.
  *
  * Prints one JSON line (metric "stream_state") — recorded in
  * BASELINE.md's streaming-state table.
  */
object StreamStateCheck {
  private val Cap = 64 // streamingNearDup's default maxPerBand

  /** The streaming parquet source wants a DIRECTORY; driver-generated
    * sf dirs ship documents.parquet as a single file — stage a symlink.
    */
  private def stageStreamDir(docsPath: String, ckpt: String): String = {
    val p = java.nio.file.Paths.get(docsPath)
    if (java.nio.file.Files.isDirectory(p)) docsPath
    else {
      val d = java.nio.file.Paths.get(ckpt, "docs")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.createSymbolicLink(
        d.resolve("part-0.parquet"), p.toAbsolutePath)
      d.toString
    }
  }

  /** Replay `dir`'s banded candidate pairs (dumped under `ckpt` as 12
    * files, two per trigger) through the incremental union-find twin
    * into memory table `table`: (pair frame, pair count, last
    * progress, drain wall seconds).
    */
  private def replayComponents(spark: SparkSession, dir: String, ckpt: String,
      table: String): (DataFrame, Long, StreamingQueryProgress, Double) = {
    graft.etl.Dedup.minhashLsh(spark, dir)
      .repartition(12).write.mode("overwrite").parquet(s"$ckpt/pairs")
    val pairsDf = spark.read.parquet(s"$ckpt/pairs")
    val stream = spark.readStream.schema(pairsDf.schema)
      .option("maxFilesPerTrigger", 2).parquet(s"$ckpt/pairs")
    val t0 = System.nanoTime()
    val q = graft.streaming.StreamingOps.streamingComponents(stream)
      .writeStream.format("memory").queryName(table)
      .option("checkpointLocation", s"$ckpt/$table")
      .start()
    q.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = q.lastProgress
    q.stop()
    (pairsDf, pairsDf.count(), progress, wall)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: StreamStateCheck <dir> [ttlSeconds|components]")
    val dir = args(0)
    val compMode = args.lift(1).contains("components")
    val funnelMode = args.lift(1).contains("funnel")
    // fail fast on a typo'd mode BEFORE paying session startup — the
    // string mode overloads the numeric ttl slot ("" would pass a bare
    // forall-isDigit check and still die later in toInt)
    require(compMode || funnelMode || args.lift(1).forall(_.matches("\\d+")),
      s"usage: StreamStateCheck <dir> [ttlSeconds|components|funnel] — got '${args(1)}'")
    val ttlSecs =
      if (compMode || funnelMode) None else args.lift(1).map(_.toInt)
    val spark = GraftSession.local()
    val docsPath = s"$dir/documents.parquet"

    // components mode (round 15): replay the banded candidate-pair
    // stream through the incremental union-find twin and measure what
    // its state ACTUALLY weighs — the pair-graph-sized claim, plus
    // exact assignment parity vs the batch closure on the same pairs.
    // The single group key is the twin's documented design boundary
    // (all pairs reduce through one task per micro-batch); state_bytes
    // vs n_graph_docs is the number that says when that boundary is
    // hit and the batch closure on a compaction cadence takes over.
    if (compMode) {
      val (pairsDf, nPairs, progress, _) = replayComponents(
        spark, dir, Harness.tempDirRemovedOnExit("graft-streamcomp"), "comp_out")
      val so = progress.stateOperators.head
      val (rows, bytes) = (so.numRowsTotal, so.memoryUsedBytes)
      // union-by-min makes roots non-increasing: final assignment =
      // min emitted component per doc (the twin's consumption contract)
      val streamed = spark.table("comp_out")
        .groupBy(col("doc_id")).agg(min(col("component")).as("sc"))
      val truth = graft.etl.Dedup.dedupComponentsFrom(pairsDf)
        .select(col("doc_id"), col("component").as("tc"))
      val mism = streamed.join(truth, Seq("doc_id"), "full")
        .filter(col("sc").isNull || col("tc").isNull || col("sc") =!= col("tc"))
        .count()
      val nDocs = truth.count()
      println(s"""{"metric":"stream_state","mode":"components","dir":${JsonOut.quote(dir)},"n_pairs":$nPairs,"n_graph_docs":$nDocs,"state_group_keys":$rows,"state_bytes":$bytes,"parity_mismatches":$mism,"parity":${mism == 0}}""")
      spark.stop()
      return
    }

    // funnel mode (round 16): replay the corpus through the streaming
    // curation funnel and measure the registry's state — one boolean
    // per DISTINCT m3-surviving text digest, so the derived truth is
    // the distinct-digest count among gopher+lang+quality survivors
    // (computed batch-side from the same expressions), and the
    // per-level histogram is the live funnel report itself.
    if (funnelMode) {
      import graft.etl.{CorpusPipeline, TextAnalysis}
      val ckpt = Harness.tempDirRemovedOnExit("graft-streamfunnel")
      val docsDf = spark.read.parquet(docsPath)
        .select(col("doc_id"), col("text"))
      val gp = udf((t: String) => TextAnalysis.gopherPass(t))
      val m3keys = TextAnalysis.withLangPredicted(
          TextAnalysis.qualityAnnotated(docsDf))
        .filter(gp(coalesce(col("text"), lit(""))) &&
          col("predicted") =!= "unknown" &&
          col("quality_bp") >= CorpusPipeline.FunnelQualityBp)
        .select(md5(coalesce(col("text"), lit(""))).as("h"))
        .distinct().count()
      // throughput columns (round 18, VERDICT r17 item 5): input rows,
      // micro-batches, end-to-end wall and rows/sec for the replay —
      // the number a capacity plan needs NEXT TO the state size.
      // Wall covers start→drain of the paced replay (maxFilesPerTrigger
      // batching included — that IS the deployment shape); reference
      // ceiling for context: 1 page/2 s (config/limits.yaml:105).
      val nDocs = docsDf.count()
      val stream = spark.readStream
        .schema(spark.read.parquet(docsPath).schema)
        .option("maxFilesPerTrigger", 3)
        .parquet(stageStreamDir(docsPath, ckpt))
        .select(col("doc_id"), col("text"))
      val f0 = System.nanoTime()
      val q = graft.streaming.StreamingOps.streamingCurationFunnel(stream)
        .writeStream.format("memory").queryName("funnel_out")
        .option("checkpointLocation", s"$ckpt/q")
        .start()
      q.processAllAvailable()
      val funnelWall = (System.nanoTime() - f0) / 1e9
      val funnelBatches = q.lastProgress.batchId + 1
      val so = q.lastProgress.stateOperators.head
      val (rows, bytes) = (so.numRowsTotal, so.memoryUsedBytes)
      q.stop()
      val hist = spark.table("funnel_out").groupBy(col("lvl"))
        .agg(count(lit(1)).as("n")).orderBy("lvl").collect()
        .map(r => s""""l${r.getInt(0)}":${r.getLong(1)}""")
        .mkString("{", ",", "}")
      // round 17 (VERDICT r16 item 4): the COMBINED six-stage state —
      // replay the same corpus's candidate pairs through the
      // components twin, reconcile its min-folded assignments with the
      // funnel's level-4 survivors (funnelCanonicalReconcile), and
      // report both operators' state plus the full 0-5 histogram. The
      // combined footprint is (survivor digests) + (pair-graph docs) —
      // each side scales with its own survivor/graph set, never the
      // corpus.
      val (_, nPairs, cp, compWall) =
        replayComponents(spark, dir, ckpt, "funnel_comp_out")
      val compBatches = cp.batchId + 1
      val cso = cp.stateOperators.head
      val (cRows, cBytes) = (cso.numRowsTotal, cso.memoryUsedBytes)
      val assign = spark.table("funnel_comp_out")
        .groupBy(col("doc_id")).agg(min(col("component")).as("component"))
      val full = graft.streaming.StreamingOps.funnelCanonicalReconcile(
        spark.table("funnel_out"), assign)
      val hist6 = full.groupBy(col("lvl"))
        .agg(count(lit(1)).as("n")).orderBy("lvl").collect()
        .map(r => s""""l${r.getInt(0)}":${r.getLong(1)}""")
        .mkString("{", ",", "}")
      def tput(n: Long, wall: Double): Long =
        if (wall > 0) (n / wall).toLong else -1L
      println(f"""{"metric":"stream_state","mode":"funnel","dir":${JsonOut.quote(dir)},"derived_m3_digests":$m3keys,"state_rows":$rows,"state_bytes":$bytes,"levels":$hist,"keys_match":${rows == m3keys},"comp_state_rows":$cRows,"comp_state_bytes":$cBytes,"levels_reconciled":$hist6,"throughput":{"funnel_rows":$nDocs,"funnel_batches":$funnelBatches,"funnel_wall_s":$funnelWall%.2f,"funnel_rows_per_s":${tput(nDocs, funnelWall)},"comp_rows":$nPairs,"comp_batches":$compBatches,"comp_wall_s":$compWall%.2f,"comp_rows_per_s":${tput(nPairs, compWall)}}}""")
      spark.stop()
      return
    }

    // exact derived profile: occupancy = min(c, cap) per (band, bkey)
    val docs = spark.read.parquet(docsPath).select(col("doc_id"), col("text"))
    val sig = graft.etl.Dedup.minhashSignatureFast(docs, 8)
    val occ = sig.select(explode(array(
        graft.etl.Dedup.bandStructs(8, 2, graft.etl.Dedup.fastBandKey): _*)).as("bs"))
      .groupBy(col("bs.band").as("band"), col("bs.bkey").as("bkey"))
      .agg(count(lit(1)).as("c"))
    val cls = when(col("c") < 2, 0).when(col("c") < 4, 1)
      .when(col("c") < 8, 2).when(col("c") < 16, 3)
      .when(col("c") < 32, 4).when(col("c") < Cap, 5).otherwise(6)
    val profile = occ.withColumn("occ_class", cls)
      .groupBy(col("occ_class"))
      .agg(count(lit(1)).as("n_keys"), max(col("c")).as("max_c"),
        sum(least(col("c"), lit(Cap.toLong))).as("state_entries"))
      .orderBy("occ_class").collect()
    val nKeys = profile.map(_.getLong(1)).sum
    val maxC = profile.map(_.getLong(2)).max
    val entries = profile.map(_.getLong(3)).sum
    val hist = profile.map(r =>
      s""""c${r.getInt(0)}":${r.getLong(1)}""").mkString("{", ",", "}")

    val ckpt = Harness.tempDirRemovedOnExit("graft-streamstate")
    val streamDir = stageStreamDir(docsPath, ckpt)
    val stream = spark.readStream
      .schema(spark.read.parquet(docsPath).schema)
      .option("maxFilesPerTrigger", 3)
      .parquet(streamDir)
      .select(col("doc_id"), col("text"))

    ttlSecs match {
      case None =>
        val q = graft.streaming.StreamingOps.streamingNearDup(stream)
          .writeStream.format("noop")
          .option("checkpointLocation", s"$ckpt/q")
          .start()
        q.processAllAvailable()
        val so = q.lastProgress.stateOperators.head
        val (rows, bytes) = (so.numRowsTotal, so.memoryUsedBytes)
        q.stop()
        println(s"""{"metric":"stream_state","mode":"replay","dir":${JsonOut.quote(dir)},"cap":$Cap,"derived":{"n_keys":$nKeys,"max_occ":${math.min(maxC, Cap)},"max_raw_count":$maxC,"state_entries":$entries,"hist":$hist},"measured":{"state_rows":$rows,"memory_bytes":$bytes},"keys_match":${rows == nKeys}}""")

      case Some(t) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val q = graft.streaming.StreamingOps.streamingNearDupTtl(
            stream, java.time.Duration.ofSeconds(t.toLong))
          .writeStream.format("noop")
          .option("checkpointLocation", s"$ckpt/q")
          .trigger(Trigger.ProcessingTime("500 milliseconds"))
          .start()
        // drain: cumulative input rows reach the corpus, then wait out
        // 2x the TTL so expiry (lazy, processed by the continuously
        // running micro-batches) shows in the final row count
        val total = docs.count()
        val timeline = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var fed = 0L
        val deadline = System.currentTimeMillis() + 15 * 60 * 1000
        var lastBatch = -1L
        while (fed < total && System.currentTimeMillis() < deadline) {
          Thread.sleep(300)
          Option(q.lastProgress).foreach { p =>
            if (p.batchId != lastBatch) {
              lastBatch = p.batchId
              fed += p.numInputRows
              p.stateOperators.headOption.foreach(so =>
                timeline += ((p.batchId, so.numRowsTotal)))
            }
          }
        }
        Thread.sleep(2000L * t)
        var settled = Option(q.lastProgress)
          .flatMap(_.stateOperators.headOption).map(_.numRowsTotal).getOrElse(-1L)
        // keep polling a few more batches: expiry lands on commit
        (1 to 10).foreach { _ =>
          Thread.sleep(1000)
          Option(q.lastProgress).flatMap(_.stateOperators.headOption)
            .foreach(so => settled = so.numRowsTotal)
        }
        q.stop()
        val peak = if (timeline.isEmpty) -1L else timeline.map(_._2).max
        println(s"""{"metric":"stream_state","mode":"ttl","ttl_s":$t,"dir":${JsonOut.quote(dir)},"cap":$Cap,"derived_total_keys":$nKeys,"fed_rows":$fed,"peak_state_rows":$peak,"settled_state_rows":$settled,"bounded_by_churn":${peak < nKeys || settled < peak}}""")
    }
    spark.stop()
  }
}
