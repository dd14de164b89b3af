package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.plans.GroupTopK

/** Deterministic train/test splitting — the training-data pipeline's
  * sampling primitive done right at scale: hash-of-key mod N, never
  * rand() (reproducible across reruns, partitionings, and engines;
  * a new document lands in a stable split forever).
  */
object Splits {

  /** Stable percentage bucket 0-99 from a salted key hash. */
  def hashBucket(key: Column, salt: String): Column =
    (conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 4), 16, 10)
      .cast("int") % 100)

  def trainTestSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), hashBucket(col("doc_id"), "split:").as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "valid")
          .otherwise("test"))
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderBy("doc_id")

  /** Deterministic stratified sample: fixed rate per language stratum
    * via the salted hash bucket — reproducible, engine-portable, and
    * shuffle-free (pure filter; the reporting agg shuffles |strata|).
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket", hashBucket(col("doc_id"), "sample:"))
      .filter(col("bucket") < 20) // 20% per stratum
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("lang")

  /** GROUP-level train/val/test split: assignment is hashed on the
    * SOURCE, not the document, so every doc of a source lands in the
    * same split — the GroupShuffleSplit discipline that stops template
    * near-duplicates from straddling the train/test boundary (the
    * leakage [[splitLeakage]] measures). Same salted-hash determinism
    * as [[trainTestSplit]]; report = per-split source/doc/token counts.
    */
  def groupSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket", hashBucket(col("source"), "gsplit:"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("bigint")).as("n_tokens"))
      .orderBy("split")

  /** Cross-split LEAKAGE AUDIT: how many LSH near-dup candidate pairs
    * straddle the split boundary, under (a) doc-hash assignment and
    * (b) source-hash GROUP assignment — the number that tells you the
    * benchmark is contaminated. One row: total candidate pairs +
    * cross-split counts per scheme. The pairing is [[Dedup.minhashLsh]]
    * (the session-memoized pair frame; the oracle shares its CTEs),
    * joined twice against the assignment map on the pair endpoints —
    * keyed joins, no new quadratic work beyond the LSH buckets.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val assign = docs.select(col("doc_id"),
      when(hashBucket(col("doc_id"), "split:") < 80, "train")
        .otherwise("test").as("doc_split"),
      when(hashBucket(col("source"), "gsplit:") < 80, "train")
        .otherwise("test").as("src_split"))
    // route through the SESSION MEMO (round 14): this query is one of
    // the six documented pair-frame consumers, but it was still
    // rebuilding the banding inline — in the production fan-out it now
    // reads the shared reliable-checkpoint scan like the others
    val pairs = Dedup.minhashLsh(spark, dir)
    pairs
      .join(assign.select(col("doc_id").as("doc_a"),
        col("doc_split").as("da"), col("src_split").as("sa")), Seq("doc_a"))
      .join(assign.select(col("doc_id").as("doc_b"),
        col("doc_split").as("db"), col("src_split").as("sb")), Seq("doc_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("da") =!= col("db"), 1L).otherwise(0L)).as("doc_cross_pairs"),
        sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)).as("group_cross_pairs"))
  }

  /** Exact k-per-group reservoir: EXACTLY 8 docs per language, chosen
    * by salted-hash rank — the deterministic distributed reservoir
    * sample (never rand(): re-runs and engines agree row-for-row).
    * Complements [[stratifiedSample]]'s rate-based cut: training-mix
    * assembly needs exact per-stratum counts, not expected counts.
    * The rank<=k filter is the RewriteRankFilterToGroupTopK pattern,
    * so this runs on the native bounded-heap GroupTopK operator —
    * per-group state is O(k) regardless of stratum size, which is the
    * whole reservoir idea executed distributively.
    */
  def reservoirSample(spark: SparkSession, dir: String): DataFrame = {
    val ranked = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        conv(substring(md5(concat(lit("reservoir:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("bigint").as("u"))
    GroupTopK.topK(ranked, 8, "rk", Seq("lang"), col("u").asc, col("doc_id").asc)
      .select(col("lang"), col("rk"), col("doc_id"), col("u"))
      .orderBy("lang", "rk")
  }

  /** CDC snapshot diff — the MERGE/upsert precheck: old vs new snapshot
    * full-outer-joined on the key, each row classified
    * added/removed/changed/unchanged by exact cents compare. One
    * hash-partitioned full join + a 4-row count — the standard
    * change-data-capture report at any scale (snapshots here are
    * deterministic slices of `orders`; production passes two real
    * table versions).
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), Relational.cents(col("o_totalprice")).as("cents"))
    val old = base.filter(col("o_orderkey") % 19 =!= 0)
      .select(col("o_orderkey"), col("cents").as("c_old"))
    val neu = base.filter(col("o_orderkey") % 23 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, col("cents") + 1)
          .otherwise(col("cents")).as("c_new"))
    old.join(neu, Seq("o_orderkey"), "full_outer")
      .select(
        when(col("c_old").isNull, "added")
          .when(col("c_new").isNull, "removed")
          .when(col("c_old") =!= col("c_new"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n_rows"))
      .orderBy("status")
  }

  /** End-to-end near-duplicate pipeline: LSH candidate pairs → exact
    * Jaccard verification on candidates only — the production dedup
    * flow (signatures: single scan; quadratic work bounded to LSH
    * buckets; exact set math only on the surviving pairs). Reads the
    * session-shared verified pair frame ([[Dedup.pairOverlap]]).
    */
  def neardupPipeline(spark: SparkSession, dir: String): DataFrame =
    Dedup.pairOverlap(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        Dedup.jaccardBp.as("jaccard_bp"))
      .orderBy("doc_a", "doc_b")

  /** EVAL-SIDE benchmark decontamination (VERDICT r16 stretch item 8)
    * — [[Dedup.decontaminate]] reports the training docs touching a
    * benchmark slice; this is the report the BENCHMARK owner needs:
    * per eval item, how much of it is contained in the training
    * corpus and which training doc contains it — n-gram containment
    * of a held EVAL set, the GPT-3/PaLM-style "13-gram overlap"
    * decontamination check (Brown et al. 2020 §C) expressed over this
    * corpus's 10-99-word docs as 8-word shingles. The held benchmark
    * here is the test split (doc-hash bucket ≥ 90,
    * [[trainTestSplit]]'s domain); production points the bench side
    * at the real benchmark table and the train side at the corpus —
    * the plan is the same asymmetric shingle-keyed join either way.
    *
    * Per benchmark item: its distinct-8-gram count, the TOP
    * contaminating training doc (most shared 8-grams, ties to the
    * smallest doc id; -1/0 when nothing overlaps), containment in
    * integer basis points, and the ≥ 50 % contamination flag.
    *
    * Scale posture: shingles are map-side array expressions
    * ([[Shingles.shingleArray]], no explode+window shuffle); the ONLY
    * pair-producing join is keyed on the shingle (never all-pairs —
    * PlanSpec-pinned), so the quadratic term is Σ_s df_bench(s) ·
    * df_train(s), which long n-grams keep near-linear exactly as in
    * the published decontamination runs; the per-bench-doc top-1 is a
    * rank-window over only that doc's overlapping candidates.
    */
  def decontaminateEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sh = docs.select(col("doc_id"),
        hashBucket(col("doc_id"), "split:").as("bucket"),
        explode(array_distinct(Shingles.shingleArray(col("text"), 8)))
          .as("shingle"))
    val bench = sh.filter(col("bucket") >= 90)
      .select(col("doc_id").as("bench_doc"), col("shingle"))
    val train = sh.filter(col("bucket") < 80)
      .select(col("doc_id").as("train_doc"), col("shingle"))
    val sizes = bench.groupBy(col("bench_doc"))
      .agg(count(lit(1)).as("n_sh"))
    val inter = bench.join(train, Seq("shingle"))
      .groupBy(col("bench_doc"), col("train_doc"))
      .agg(count(lit(1)).as("n_common"))
    val top = GroupTopK.topK(inter, 1, "rk", Seq("bench_doc"),
        col("n_common").desc, col("train_doc").asc)
      .select(col("bench_doc"), col("train_doc"), col("n_common"))
    sizes.join(top, Seq("bench_doc"), "left")
      .select(col("bench_doc"), col("n_sh"),
        coalesce(col("train_doc"), lit(-1L)).as("top_train_doc"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("containment_bp", expr("(10000 * n_common) div n_sh"))
      .withColumn("contaminated",
        when(col("containment_bp") >= 5000, 1L).otherwise(0L))
      .orderBy("bench_doc")
  }

  /** Deterministic corpus shuffle: every document gets a GLOBAL
    * permutation position from an md5 sort key — the reproducible
    * training-order shuffle that runs before sequence packing (a
    * corpus streamed in crawl order trains on one site at a time;
    * a rand() shuffle is unreproducible across reruns/engines). The
    * global rank is TWO-PHASE ([[graft.etl.Aggregates
    * .batchPackSharded]]'s decomposition): shard = first md5 byte
    * (256 shards, uniform by construction), within-shard rank under a
    * shard-keyed window, plus a 256-row broadcast triangular offset —
    * the md5-ordering is shard-prefix-contiguous, so offset + local
    * rank IS the global rank, with no unpartitioned window anywhere.
    *
    * Scale posture: one scan, a shard-keyed window, a 256-row offset
    * triangle. The standard shuffle-at-scale recipe.
    */
  def corpusShuffle(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"))
      .withColumn("skey",
        md5(concat(lit("shuffle:"), col("doc_id").cast("string"))))
      .withColumn("shard",
        conv(substring(col("skey"), 1, 2), 16, 10).cast("int"))
    val wIn = Window.partitionBy(col("shard"))
      .orderBy(col("skey").asc, col("doc_id").asc)
    val local = keyed.withColumn("local_rank", row_number().over(wIn))
    val counts = keyed.groupBy(col("shard")).agg(count(lit(1)).as("cnt"))
    val offsets = counts.as("a")
      .join(broadcast(counts.as("b")), col("b.shard") < col("a.shard"), "left")
      .groupBy(col("a.shard").as("shard"))
      .agg(coalesce(sum(col("b.cnt")), lit(0L)).as("offset"))
    local.join(broadcast(offsets), Seq("shard"))
      .select(col("doc_id"), col("shard"),
        (col("offset") + col("local_rank") - 1L).as("shuffle_pos"))
      .orderBy("doc_id")
  }
}
