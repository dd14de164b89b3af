package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.BoundedConcat

/** Bounded hierarchical summarization queries built on the custom
  * BoundedConcat Aggregator (SURVEY.md §2.12 — the reference's summary
  * pyramid, DESIGN.md:153-195, with the IRON RULE as a type-level
  * guarantee: no buffer ever exceeds the char budget).
  */
object Summaries {

  val SummaryCap = 200

  /** A3's EXTRACTIVE tier, oracle-checked — the image_describe honesty
    * move applied to summarization (reference extractor.md:334-374,
    * DESIGN.md:153-195): everything a rules tier can say about a
    * document's content ships as verified columns, and ONLY the
    * model-generated abstractive prose stays behind the declared
    * enrichment boundary ([[summarizeEnriched]]). The extractive
    * policy is the standard centroid heuristic made engine-exact:
    * split the document into 40-word passages, score each passage by
    * its occurrences of the document's top-3 TF keywords, keep the 2
    * highest-scoring passages REASSEMBLED IN DOCUMENT ORDER (the
    * extract-don't-reorder rule), joined with " ... ". Every step is
    * integer/string arithmetic both engines reproduce bit-for-bit.
    *
    * Scale posture (round 14, VERDICT r13 item 2 — the in-row pattern
    * of wer_inrow/rbo_inrow applied to the passage build): NO passage
    * text ever enters a shuffle. The round-13 form re-assembled every
    * chunk's text through the (doc_id, cidx) aggregate — shipping the
    * whole corpus text through that exchange was the family's worst
    * 30× ratio (5.14). Now the token frame only feeds SCALAR rows:
    * one (doc_id, word)-keyed left join marks keyword tokens, one
    * (doc_id, cidx) agg yields (cidx, score), GroupTopK keeps the
    * top-2 per doc, and the ≤2 winning passages are sliced IN-ROW
    * from the original `text` column after one doc-keyed join —
    * `split → slice(40·cidx, 40) → filter blanks → join` over ≤2
    * array elements per document (the bounded-HOF exception to the
    * outer-array rule: 2 re-evaluations of the split, not O(n²)).
    * Text moves exactly once, in the final doc-keyed join.
    */
  def extractiveSummary(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.scoped { scope =>
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val w = scope.local(
        Shingles.words(docs)
          .withColumn("cidx", expr("word_pos div 40")))
      val tf = w.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
      val k3 = scope.local(graft.plans.GroupTopK.topK(tf, Seq("doc_id"),
        Seq(("c", false), ("word", true)), 3)
        .select(col("doc_id"), col("word")))
      val kw = k3.groupBy(col("doc_id")).agg(collect_list(col("word")).as("kw"))
      // chunk-level frame: one keyword-marker join + one agg, all
      // scalar columns (doc_id, cidx, score) — the only token-level
      // shuffle left; staged for its two readers (top-2 cut, totals)
      val ch = scope.local(w
        .join(k3.withColumn("__kw", lit(1)), Seq("doc_id", "word"), "left")
        .groupBy(col("doc_id"), col("cidx"))
        .agg(count(col("__kw")).as("score")))
      val kept = graft.plans.GroupTopK.topK(ch, Seq("doc_id"),
          Seq(("score", false), ("cidx", true)), 2)
      val keptArr = kept.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("cidx"), col("score"))))
            .as("ka"), // cidx asc = document order (extract-don't-reorder)
          count(lit(1)).as("n_kept"),
          max(col("score")).as("top_score"))
      val totals = ch.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      // passage slice: words at ORIGINAL split positions [40·cidx,
      // 40·cidx+40), blanks dropped, space-joined — bit-identical to
      // the (word_pos div 40) chunk agg this replaces
      def chunkAt(text: Column, cidx: Column): Column =
        array_join(filter(slice(split(coalesce(text, lit("")), " "),
          (cidx * 40 + 1).cast("int"), lit(40)), s => length(s) > 0), " ")
      Fixpoint.reliably(totals
        .join(keptArr, Seq("doc_id"))
        .join(kw.select(col("doc_id"),
          array_join(array_sort(col("kw")), ",").as("keywords")), Seq("doc_id"))
        .join(docs, Seq("doc_id"))
        .withColumn("summary", array_join(
          transform(col("ka"), e => chunkAt(col("text"), e("cidx"))), " ... "))
        .select(col("doc_id"), col("keywords"), col("n_chunks"),
          col("n_kept"), col("top_score"), col("summary"))
        .orderBy("doc_id"))
    }

  /** A3's ENRICHMENT BOUNDARY made executable — [[extractiveSummary]]'s
    * analog of [[Multimodal.describeEnriched]]: production composes the
    * verified extractive frame with model-generated abstractive prose
    * by APPENDING columns through this hook (`model` maps the verified
    * columns to the prose Column; a deployment batches a
    * summarization endpoint, tests use a deterministic stub). The
    * verified columns pass through untouched; the composition is
    * map-side; `full_summary` = abstractive prose + " — " + extract,
    * the reference's summary-plus-evidence layout.
    */
  def summarizeEnriched(spark: SparkSession, dir: String,
      model: DataFrame => org.apache.spark.sql.Column): DataFrame = {
    val base = extractiveSummary(spark, dir)
    base.withColumn("model_prose", model(base))
      .withColumn("full_summary",
        concat(col("model_prose"), lit(" — "), col("summary")))
  }

  /** Per-language bounded digest: first-30-chars of each doc, joined in
    * doc_id order, capped at 200 chars. The Aggregator's merge-order
    * independence is what makes this oracle-checkable at all.
    */
  def boundedSummary(spark: SparkSession, dir: String): DataFrame = {
    val bc = udaf(BoundedConcat(SummaryCap))
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        substring(coalesce(col("text"), lit("")), 1, 30).as("piece"))
      .groupBy(col("lang"))
      .agg(bc(col("doc_id"), col("piece")).as("summary"))
      .select(col("lang"), col("summary"),
        length(col("summary")).as("summary_len"),
        size(split(col("summary"), "\\|")).as("n_pieces"))
      .orderBy("lang")
  }
}
