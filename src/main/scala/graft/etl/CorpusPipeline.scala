package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.GroupTopK

/** End-to-end training-corpus build — the LLM-data flow the north-star
  * operators exist for, composed into one run:
  *
  *   documents → quality gate → per-source domain cap → exact dedup
  *   → near-dup canonicalization
  *   (LSH → connected components → best-copy survivor) → duplicated-
  *   span clipping → character-entropy floor → per-language mix
  *   rebalance → RAG chunking → chunked corpus + build report
  *
  * Every stage is an already-oracle-verified operator applied to the
  * previous stage's survivors; the composition adds wiring, not new
  * semantics (reference analog: commands/transform.md:92-155 composes
  * extract → score → chunk the same way; the mix/dedup stages are the
  * builder brief's training-data extensions). All sampling/dedup
  * decisions are salted-hash or struct-min deterministic — two runs on
  * the same input produce byte-identical corpora.
  *
  * Scale notes: the stage chain is linear in the corpus with the LSH
  * candidate graph quadratic only inside buckets (minhashLshFrom), the
  * component fixpoint localCheckpoint'ed per round
  * (dedupComponentsFrom), and the chunker a pure generator. Each
  * survivor set (kept1, capped, kept2, kept3, clipped, kept4, sampled)
  * is staged ONCE through one [[Fixpoint.scoped]] local checkpoint, the
  * paper's materialized stage handoff: every later read (the joins that
  * read a stage two or three times, the chunk write) scans the staged
  * blocks instead of re-running the lineage from the documents scan,
  * and the stage's survivor count is observed in its staging job
  * ([[Fixpoint.Scope.localObserved]]) rather than by a second job over
  * the blocks. The input count rides the quality gate's job and the
  * chunk count the chunk write. The gates filter in place: the quality
  * score is a column of the one documents scan, and the entropy is a
  * column of the span-clip stage, so nothing is joined back. The LSH
  * pairs and the components closure are read only here, so they are
  * staged in this scope, with no reliable-checkpoint files. Unstaged,
  * every count re-ran the whole upstream chain: a 5,000-document build
  * launched 199 jobs and took ~9× its stage-by-stage replay (4-core
  * host); staged and counted with `count()`, 79 jobs; counted in the
  * staging jobs, 54. Local checkpoints are MEMORY_AND_DISK, so a
  * corpus-sized stage spills rather than fails; the returned report is
  * a local relation, so the scope releases every staged block on exit,
  * normal or exceptional. Per-stage counts are one driver-side scalar
  * per stage (the build report — same discipline as Pipeline.run's
  * artifacts).
  */
object CorpusPipeline {

  val QualityFloorBp = 3000   // keep docs scoring ≥ 30%
  val DomainCapDocs = 20      // RefinedWeb-style per-source cap (best first)
  val ChunkSize = 1000        // config/limits.yaml:166-170
  val ChunkOverlap = 100
  val MinCleanWords = 20      // span clip may not hollow a doc out
  val EntropyFloor = 2.0      // nats; degenerate repetition gate

  /** Runs the build; writes `chunks/` (partitioned by lang) and
    * `report/` under `outDir`, returns the 1-row build report.
    */
  def build(spark: SparkSession, dir: String, outDir: String): DataFrame =
    Fixpoint.scoped { scope =>
      val (docs, nInput) = Fixpoint.observed(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source")))

      // 1. quality gate (same basis-point score as the quality_score
      //    query), filtered in place on the one documents scan;
      //    quality_bp rides along so the cap needs no rescore
      val (kept1, nQuality) = scope.localObserved(TextAnalysis.qualityAnnotated(docs)
        .filter(col("quality_bp") >= QualityFloorBp)
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("quality_bp")))

      // 1b. per-source domain cap (round 6): keep at most DomainCapDocs
      //     best-quality docs per source so no domain dominates the mix
      //     (the domain_cap query's GroupTopK-able rank<=k shape)
      val (capped, nDomCap) = scope.localObserved(
        GroupTopK.topK(kept1, DomainCapDocs, "src_rank", Seq("source"),
            col("quality_bp").desc, col("doc_id").asc)
          .drop("quality_bp", "src_rank"))

      // 2. exact dedup: one survivor per distinct text (min doc_id)
      val (kept2, nExact) = scope.localObserved(capped.join(
        Dedup.dedupExactFrom(capped).select(col("canonical_doc").as("doc_id")),
        Seq("doc_id")))

      // 3. near-dup canonicalization: LSH candidates → connected
      //    components → best copy per cluster (longest text, id
      //    tie-break). Pairs and components are read only here, so they
      //    stay in this scope's blocks: no checkpoint files.
      val pairs = scope.local(
        Dedup.minhashLshIn(scope, kept2.select(col("doc_id"), col("text"))))
      val comp = scope.local(Dedup.dedupComponentsIn(scope, pairs))
      val keepers = comp
        .join(kept2.select(col("doc_id"), length(col("text")).as("len")), Seq("doc_id"))
        .groupBy(col("component"))
        .agg(max(struct(col("len"), (-col("doc_id")).as("nid"))).as("m"))
        .select((-col("m.nid")).as("doc_id"))
      val clustered = comp.select("doc_id")
      val (kept3, nNearDup) = scope.localObserved(
        kept2.join(clustered, Seq("doc_id"), "left_anti")
          .unionByName(kept2.join(keepers, Seq("doc_id"))))

      // 3b. span clipping (round 6): remove cross-survivor duplicated
      //     8-gram spans from the texts themselves (Lee et al. clip, not
      //     drop), then drop documents the clip hollowed out. The
      //     hollowed-out flag and the character entropy (3c's signal)
      //     are columns of this stage, and 3c filters on both: a filter
      //     here is pushed below the clip's projection, where it calls
      //     the clip kernel again for each field it reads.
      val (clipped, nClipped) = scope.localObserved(TextAnalysis.withCharEntropy(
        Dedup.spanClipFrom(kept3.select(col("doc_id"), col("text")))
          .select(col("doc_id"), col("clean_text").as("text"),
            (col("n_words") - col("n_removed") >= MinCleanWords).as("clip_ok"))
          .join(kept3.select(col("doc_id"), col("lang")), Seq("doc_id"))),
        count(when(col("clip_ok"), 1)))

      // 3c. character-entropy floor (round 6): a clip can leave
      //     degenerate repetition that word stats miss
      val (kept4, nEntropy) = scope.localObserved(clipped
        .filter(col("clip_ok") && col("entropy") >= EntropyFloor)
        .drop("clip_ok", "entropy"))

      // 4. per-language mix rebalance toward a uniform budget (the
      //    mix_weights rates driving a salted-hash bucket cut)
      val toks = kept4
        .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("t"))
        .groupBy(col("lang")).agg(sum(col("t")).as("n_tokens"))
      val tot = toks.agg(sum(col("n_tokens")).as("total"), count(lit(1)).as("n_langs"))
      val rates = toks.crossJoin(broadcast(tot))
        .select(col("lang"),
          least(lit(10000L),
            expr("(10000 * (total div n_langs)) div n_tokens")).as("rate_bp"))
      val (sampled, nSampled) = scope.localObserved(kept4.join(broadcast(rates), Seq("lang"))
        .filter(Splits.hashBucket(col("doc_id"), "mix:") * lit(100) < col("rate_bp")))

      // 5. RAG chunking (reference chunk_size/overlap limits), counted
      //    as the writer consumes it
      val (chunks, nChunks) = Fixpoint.observed(
        Chunker.chunk(sampled, col("text"), ChunkSize, ChunkOverlap)
          .select(col("doc_id"), col("lang"), col("chunk_idx"), col("chunk")))
      chunks.write.mode("overwrite").partitionBy("lang").parquet(s"$outDir/chunks")

      import spark.implicits._
      val report = Seq((nInput(), nQuality, nDomCap, nExact, nNearDup, nClipped,
          nEntropy, nSampled, nChunks()))
        .toDF("n_input", "n_quality", "n_domcap", "n_exact", "n_neardup",
          "n_clipped", "n_entropy", "n_sampled", "n_chunks")
      report.write.mode("overwrite").parquet(s"$outDir/report")
      report
    }

  /** Quality-gate threshold for [[curationFunnel]] — cuts near the
    * corpus median so the funnel's middle stage measurably bites.
    */
  val FunnelQualityBp = 6000L

  /** ORACLE-VERIFIED curation funnel — the declarative twin of
    * [[build]]: where build() local-checkpoints each stage's survivors
    * once and observes each survivor count in that staging job (an
    * artifact-writing pipeline), this computes the
    * whole survivorship curve in ONE plan with no per-stage actions —
    * the "how much corpus survives each gate" report every training-
    * data build publishes (reference analog: transform.md's staged
    * counts; the C4/Gopher/RefinedWeb papers all report exactly this
    * table).
    *
    * Stages (each applied to the previous stage's survivors):
    *   0 raw → 1 gopher rules → 2 language identified → 3 quality ≥
    *   [[FunnelQualityBp]] → 4 exact dedup (first doc per distinct
    *   text wins) → 5 near-dup canonical (min-doc keeper per LSH
    *   component, via the session-shared closure).
    *
    * Plan shape: every per-doc SCALAR signal (tokens, md5, quality,
    * lang-id) is computed inline on ONE base documents scan — only
    * gopher's word-aggregate flags join back on doc_id (its signals
    * need the word explode). The first form joined the langId and
    * quality QUERIES back instead: 6 documents scans and 5 corpus
    * SMJs at 100×, measured 109.7 s vs ~55 s folded. The two dedup
    * stages are rn=1 windows keyed by (md5(text), m3) and
    * (coalesce(component, doc_id), m4) — both high-cardinality keys
    * (the coalesce gives every non-clustered doc its own singleton
    * partition, so there is NO null-key funnel), and the closure rides
    * [[Dedup.componentsFrame]]'s session memo like every other
    * closure consumer. Docs reduce to a ≤6-row level histogram before
    * the cumulative stage join (6×6 broadcast NLJ) — nothing
    * corpus-sized crosses a low-cardinality boundary except the final
    * level agg, whose partial aggregation collapses map-side.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // round 18: the gopher verdict is the compiled per-row kernel
    // (identical to the relational gopherRules verdict — the
    // streaming-twin semantics), computed INLINE on the same base scan,
    // so the last doc-keyed join this query carried is gone — the
    // whole pre-window stage is now one scan, zero joins
    val base = TextAnalysis.withLangPredicted(TextAnalysis.qualityAnnotated(docs))
      .select(col("doc_id"),
        col("tokens").as("toks"),
        md5(coalesce(col("text"), lit(""))).as("h"),
        col("predicted"), col("quality_bp"),
        graft.functions.QualityKernelFunctions
          .gopherPassF(coalesce(col("text"), lit(""))).as("m1"))
      .withColumn("m2", col("m1") && col("predicted") =!= "unknown")
      .withColumn("m3", col("m2") && col("quality_bp") >= FunnelQualityBp)
    val w4 = Window.partitionBy(col("h"), col("m3")).orderBy(col("doc_id"))
    val b4 = base.withColumn("m4", col("m3") && row_number().over(w4) === 1)
    val comp = Dedup.componentsFrame(spark, dir)
      .select(col("doc_id"), col("component"))
    val w5 = Window
      .partitionBy(coalesce(col("component"), col("doc_id")), col("m4"))
      .orderBy(col("doc_id"))
    val b5 = b4.join(comp, Seq("doc_id"), "left")
      .withColumn("m5",
        col("m4") && (col("component").isNull || row_number().over(w5) === 1))
    val lvl = when(!col("m1"), 0L).when(!col("m2"), 1L).when(!col("m3"), 2L)
      .when(!col("m4"), 3L).when(!col("m5"), 4L).otherwise(5L)
    val la = b5.select(lvl.as("lvl"), col("toks"))
      .groupBy(col("lvl"))
      .agg(count(lit(1)).as("nd"), sum(col("toks")).as("nt"))
    val stageName = Seq("raw", "gopher", "lang_id", "quality",
      "exact_dedup", "neardup_canonical")
      .zipWithIndex.foldLeft(when(lit(false), lit("x"))) {
        case (acc, (n, i)) => acc.when(col("stage") === i.toLong, n)
      }.otherwise("?")
    spark.range(0, 6).select(col("id").cast("bigint").as("stage"))
      .join(la, col("lvl") >= col("stage"), "left")
      .groupBy(col("stage"))
      .agg(coalesce(sum(col("nd")), lit(0L)).cast("bigint").as("n_docs"),
        coalesce(sum(col("nt")), lit(0L)).cast("bigint").as("n_tokens"))
      .select(col("stage"), stageName.as("stage_name"),
        col("n_docs"), col("n_tokens"))
      .orderBy("stage")
  }
}
