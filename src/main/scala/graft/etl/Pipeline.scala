package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's full crawl→extract→score→transform→sink flow as ONE
  * composed Spark pipeline (commands/extract.md end-to-end; DESIGN.md
  * §pipeline): a user of the reference points this at a frontier and
  * gets the page store, quarantine store, chunk store, and INDEX.md —
  * the same artifacts the reference writes, produced by the operators
  * verified individually in SparkEntry.queries.
  *
  * Every stage is the already-tested operator: S6 `Urls.engineFor` →
  * S4/S5 `Sources.fetch` (injectable transport, per-partition rate cap)
  * → landing frontmatter → X2 `Scoring.scorePage` → F6
  * `Sinks.writeRouted` quarantine split → G1 `Chunker.chunkCodeAware` →
  * K1/K8/K3 sinks. Driver-side work is bounded renders only (INDEX.md
  * from aggregated rows) — the data path is executor-only end to end.
  */
object Pipeline {

  /** The page rows of a batch of (url) rows: S6 route → S4/S5 fetch
    * (error rows survive as status rows, then drop here) → landing
    * frontmatter → relevance, lang and doc_id — what [[run]] and each
    * [[runStream]] micro-batch write through the quarantine split.
    */
  private def pages(urls: DataFrame, transport: Transport, topic: String,
      minIntervalMs: Long): DataFrame = {
    val fetched = Sources.fetch(
      urls.withColumn("engine", Urls.engineFor(col("url"))),
      transport, minIntervalMs)
    // landing-zone shape: frontmatter travels with the body
    Sources.withFrontmatter(fetched)
      .filter(!col("status").startsWith("error"))
      .withColumn("relevance", Scoring.scorePage(col("body"), topic))
      .withColumn("lang", lit("en")) // corpus metadata slot (K1 partition key)
      .withColumn("doc_id", xxhash64(col("url"))) // stable distributed id
      .select(col("doc_id"), col("url"), col("lang"), col("relevance"),
        col("page_md"), col("body"))
  }

  /** Run the flow over a frontier of (url) rows. Returns the INDEX.md
    * text (the one bounded, driver-side artifact); everything else
    * lands under `outDir` (pages/, quarantine via route=, chunks/).
    */
  def run(spark: SparkSession, frontier: DataFrame, transport: Transport,
      outDir: String, topic: String = Scoring.PageTopic,
      minIntervalMs: Long = 0L): String = {
    // F6: one-pass split — clean rows and quarantined rows in one write
    Sinks.writeRouted(pages(frontier, transport, topic, minIntervalMs),
      "body", s"$outDir/pages")
    // G1: code-aware chunks from the clean partition only. The read-back
    // (rather than reusing the page rows) avoids re-running the effectful
    // fetch; an all-error/empty frontier leaves no parquet footers, and
    // a pipeline whose fetch deliberately degrades failures to rows must
    // not die one stage later on UNABLE_TO_INFER_SCHEMA — it returns the
    // empty INDEX instead.
    val clean =
      try spark.read.parquet(s"$outDir/pages")
        .filter(col("route") === "clean")
      catch {
        // structured error class, not message text — survives rewording
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
          return Sinks.renderIndex(Seq.empty, Seq.empty)
      }
    Sinks.writeChunks(
      Chunker.chunkCodeAware(clean.select(col("doc_id"), col("body")),
          col("body"), size = 500, overlap = 100)
        .select(col("doc_id"), col("seg_idx"), col("chunk_idx"), col("chunk")),
      s"$outDir/chunks")
    // K3: INDEX.md from BOUNDED aggregates (never raw rows)
    val stats = clean.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pages"),
        max(length(col("body"))).as("max_chars"),
        sum(length(col("body"))).as("total_chars"))
      .collect().toSeq
    val top = clean
      .select(col("doc_id"), col("lang"), col("relevance"))
      .orderBy(col("relevance").desc, col("doc_id").asc)
      .limit(10).collect().toSeq
    Sinks.renderIndex(stats, top)
  }

  /** Streaming form of the front half: a WATCHED frontier directory of
    * url lists (one url per line — the reference's queue.json made
    * incremental). Each micro-batch routes, fetches through the
    * injected transport, scores, and APPENDS through the quarantine
    * split — the §2.11 shape: rate limit = maxFilesPerTrigger ×
    * per-partition interval, restart = checkpoint, obstacles never
    * block the stream. Returns the running query; callers own its
    * lifecycle.
    */
  def runStream(spark: SparkSession, frontierDir: String,
      transport: Transport, outDir: String,
      topic: String = Scoring.PageTopic, minIntervalMs: Long = 0L,
      maxFilesPerTrigger: Int = 4): StreamingQuery = {
    val urls = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .text(frontierDir)
      .withColumnRenamed("value", "url")
      .filter(length(trim(col("url"))) > 0)
    urls.writeStream
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", s"$outDir/ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // exactly-once under replay: foreachBatch is at-least-once, so a
        // batch re-run after a crash/restart must land in the SAME place
        // — overwrite of a batch-id directory is idempotent, a flat
        // append would duplicate every replayed page
        Sinks.writeRouted(pages(batch, transport, topic, minIntervalMs),
          "body", s"$outDir/pages/batch=$id",
          org.apache.spark.sql.SaveMode.Overwrite)
        ()
      }
      .start()
  }
}
