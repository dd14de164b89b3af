package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Transport abstraction for the fetch operator (S3/S4/S5 made concrete):
  * the effectful page-retrieval edge behind an injectable, serializable
  * interface. Production binds an HTTP/browser client; tests bind a
  * deterministic local stub — the Spark-side plumbing (per-partition
  * lifecycle, rate cap, router dispatch, frontmatter) is identical and
  * fully testable without network (SURVEY §7.4 contract).
  */
trait Transport extends Serializable {
  /** Called once per partition before the first fetch — connection /
    * browser-context setup happens per executor task, never per row.
    */
  def open(): Unit = ()
  /** Fetch one url with the routed engine → (status, markdown body).
    * Implementations throw on failure; the operator converts to an
    * error-status row (the pipeline never dies on one bad page —
    * extract-jina.sh:54-93 retry/fallback semantics).
    */
  def fetch(url: String, engine: String): (String, String)
  /** Called once per partition after the last fetch. */
  def close(): Unit = ()
}

/** One fetched page row (the operator's output schema). */
case class FetchedPage(url: String, engine: String, status: String,
  body: String, fetched_chars: Int)

/** Binary twin of [[Transport]] for asset downloads (S8): images/media
  * come back as bytes, not markdown.
  */
trait BinaryTransport extends Serializable {
  def open(): Unit = ()
  def fetch(url: String): (String, Array[Byte])
  def close(): Unit = ()
}

/** One downloaded asset row: payload column feeds Multimodal. */
case class FetchedAsset(url: String, status: String,
  payload: Array[Byte], n_bytes: Int)

/** State-file and landing-zone sources (SURVEY.md §2.1).
  *
  * The reference's coordinator may read exactly four state files —
  * config.json, queue.json, visited.json, links/NNN.json
  * (crawler-coordinator.md:62,113-176) — all with fixed documented
  * shapes. Schemas here are EXPLICIT (never inferred), mirroring
  * §1.3's design decision: schema-on-read inference at 100 TB is a
  * full extra pass and a correctness hazard.
  */
object Sources {

  /** queue.json items (crawler-queue.sh:45-51). */
  val QueueSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("depth", IntegerType),
    StructField("priority", IntegerType),
    StructField("parent_id", StringType),
    StructField("anchor_text", StringType)))

  /** visited.json entries, normalized to rows (crawler-queue.sh:137-145).
    * The reference stores a url→entry map; the relational form is a row
    * per url so membership tests are anti-joins, not driver-side maps.
    */
  val VisitedSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("id", StringType),
    StructField("depth", IntegerType),
    StructField("relevance", IntegerType),
    StructField("title", StringType),
    StructField("processed_at", StringType)))

  /** links/NNN.json (extractor.md:506-522): per-page scored link array. */
  val LinksFileSchema: StructType = StructType(Seq(
    StructField("page_id", StringType),
    StructField("page_url", StringType),
    StructField("page_relevance", IntegerType),
    StructField("links", ArrayType(StructType(Seq(
      StructField("url", StringType),
      StructField("anchor_text", StringType),
      StructField("context", StringType),
      StructField("relevance_score", IntegerType)))))))

  /** config.json (crawler-coordinator.md:113-126). */
  val ConfigSchema: StructType = StructType(Seq(
    StructField("entry_url", StringType),
    StructField("topic", StringType),
    StructField("max_depth", IntegerType),
    StructField("max_pages", IntegerType),
    StructField("same_domain", BooleanType),
    StructField("domain", StringType),
    StructField("pipe", StringType),
    StructField("created_at", StringType)))

  def readQueue(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(QueueSchema).json(path)

  /** Corrupt-tolerant queue reader: a malformed line survives as a row
    * with null fields and the raw text in `_corrupt_record`, so one bad
    * byte in a 100 TB landing zone quarantines ONE row instead of
    * failing the stage (the reference's jq pipeline would abort —
    * crawler-queue.sh:36-51). Split on `_corrupt_record IS NULL` and
    * route the rest through the quarantine sink.
    */
  def readQueueSafe(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(QueueSchema.add(StructField("_corrupt_record", StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  def readVisited(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(VisitedSchema).json(path)

  /** links files → one exploded row per link, carrying page relevance
    * (the J2 join input shape).
    */
  def readLinks(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(LinksFileSchema).json(path)
      .select(col("page_id"), col("page_url"), col("page_relevance"),
        explode(col("links")).as("l"))
      .select(col("page_id"), col("page_url"), col("page_relevance"),
        col("l.url").as("url"), col("l.anchor_text").as("anchor_text"),
        col("l.context").as("context"),
        col("l.relevance_score").as("relevance_score"))

  def readConfig(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ConfigSchema).json(path)

  /** Landing-zone text reader (S3/S4/S5 output side): one row per file
    * with its path — pages fetched by external engines land as text and
    * enter the relational pipeline here.
    */
  def readLandingZone(spark: SparkSession, glob: String): DataFrame =
    spark.read.option("wholetext", "true").text(glob)
      .withColumn("path", input_file_name())
      .withColumnRenamed("value", "body")

  /** S2: recursive directory scan with extension whitelist and exclude
    * patterns — Spark-native: pathGlobFilter + recursiveFileLookup do
    * the enumeration on the executors; excludes are a filter on the
    * file path column (never a driver-side listing).
    */
  def scanDirectory(spark: SparkSession, root: String,
      includeExts: Seq[String] = Seq("md", "txt"),
      excludePattern: String = "/(node_modules|\\.git)/|~$|\\.lock$"): DataFrame = {
    val globs = includeExts.mkString("*.{", ",", "}")
    spark.read
      .option("pathGlobFilter", globs)
      .option("recursiveFileLookup", "true")
      .option("wholetext", "true")
      .text(root)
      .withColumn("path", input_file_name())
      .filter(!col("path").rlike(excludePattern))
      .withColumnRenamed("value", "body")
      .withColumn("size_chars", length(col("body")))
  }

  /** Shared per-partition lifecycle for the fetch operators: skips
    * transport setup entirely on empty partitions (a frontier with more
    * partitions than urls must not launch idle browser contexts), floors
    * the interval between consecutive calls, and registers `close` as a
    * task-completion listener — the ONLY hook guaranteed to run on
    * success, failure, AND early termination (a downstream limit() stops
    * consuming the iterator, so exhaustion-based cleanup would leak the
    * connection). Falls back to close-on-exhaustion when no TaskContext
    * exists (plain driver-side iteration in tests).
    */
  private def rateLimitedPartition[I, O](it: Iterator[I], open: () => Unit,
      close: () => Unit, minIntervalMs: Long)(one: I => O): Iterator[O] = {
    if (!it.hasNext) Iterator.empty
    else {
      open()
      val ctx = org.apache.spark.TaskContext.get()
      var nextAllowed = 0L
      val out = it.map { i =>
        val wait = nextAllowed - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        nextAllowed = System.currentTimeMillis() + minIntervalMs
        one(i)
      }
      if (ctx != null) {
        ctx.addTaskCompletionListener[Unit](_ => close())
        out
      } else new Iterator[O] {
        var closed = false
        def hasNext: Boolean = {
          val h = out.hasNext
          if (!h && !closed) { closed = true; close() }
          h
        }
        def next(): O = out.next()
      }
    }
  }

  /** Host-keyed placement for the fetch operators: repartition the
    * request frame on the url's HOST so every request for one host
    * lands in ONE task — which makes the transport's JVM-wide per-host
    * politeness floor ([[HttpFetch]]) globally correct BY CONSTRUCTION
    * on a multi-executor cluster (config/limits.yaml:105 is a
    * per-crawl floor, not per-executor). `try_parse_url` so a
    * malformed url keys to null instead of failing the stage (it
    * becomes an error row downstream like any other bad fetch).
    * The partition cap is the cluster-wide parallelism dial: hosts
    * hash across at most `hostPartitions` concurrent fetch tasks.
    * `hostPartitions <= 0` opts out (unit-scale frames, mock
    * transports that fan to no real host).
    */
  private[graft] def byHost(requests: DataFrame, hostPartitions: Int): DataFrame =
    if (hostPartitions <= 0) requests
    else requests.repartition(hostPartitions, expr("try_parse_url(url, 'HOST')"))

  /** S4/S5 fetch operator: url rows (already engine-routed by S6 /
    * [[Urls.engineFor]]) → fetched pages, via mapPartitions so each task
    * amortizes one transport setup over its whole batch of urls.
    *
    * Rate limiting: requests are [[byHost]]-placed first, so the
    * per-host floor the transport enforces JVM-wide is cluster-global;
    * `minIntervalMs` additionally enforces a per-partition floor
    * between consecutive fetches (config/limits.yaml:105 crawl-delay);
    * cluster-wide rate ≤ hostPartitions × 1000/minIntervalMs. Failures
    * become status="error:..." rows, never task failures (one bad page
    * must not kill a 100 TB stage; retries are a re-run over the error
    * rows).
    */
  def fetch(requests: DataFrame, transport: Transport,
      minIntervalMs: Long = 0L, hostPartitions: Int = 32): DataFrame = {
    val spark = requests.sparkSession
    import spark.implicits._
    byHost(requests.select(col("url").cast("string"), col("engine").cast("string")),
        hostPartitions)
      .as[(String, String)]
      .mapPartitions { it =>
        rateLimitedPartition(it, () => transport.open(), () => transport.close(),
            minIntervalMs) { case (url, engine) =>
          val (status, body) =
            try transport.fetch(url, engine)
            catch { case e: Exception => (s"error:${e.getClass.getSimpleName}", "") }
          FetchedPage(url, engine, status, body, body.length)
        }
      }.toDF()
  }

  /** S8: image/asset downloader — same [[byHost]] placement,
    * per-partition lifecycle and rate cap as [[fetch]], binary payload
    * out (compress-image.mjs's fetch step as a dataflow operator). The
    * payload column plugs straight into [[Multimodal.mediaKind]] / the
    * decode plumbing.
    */
  def fetchBinary(requests: DataFrame, transport: BinaryTransport,
      minIntervalMs: Long = 0L, hostPartitions: Int = 32): DataFrame = {
    val spark = requests.sparkSession
    import spark.implicits._
    byHost(requests.select(col("url").cast("string")), hostPartitions)
      .as[String]
      .mapPartitions { it =>
        rateLimitedPartition(it, () => transport.open(), () => transport.close(),
            minIntervalMs) { url =>
          val (status, bytes) =
            try transport.fetch(url)
            catch { case e: Exception =>
              (s"error:${e.getClass.getSimpleName}", Array.empty[Byte]) }
          FetchedAsset(url, status, bytes, bytes.length)
        }
      }.toDF()
  }

  /** Frontmatter header the reference stamps on every extracted page
    * (extract-jina.sh:60-68): provenance travels WITH the content into
    * the landing zone, so downstream stages never need a side lookup.
    */
  def withFrontmatter(fetched: DataFrame): DataFrame =
    fetched.withColumn("page_md",
      concat(lit("---\nurl: "), col("url"),
        lit("\nengine: "), col("engine"),
        lit("\nfetched_chars: "), col("fetched_chars").cast("string"),
        lit("\n---\n\n"), col("body")))

  /** Landing-zone writer: one markdown file per fetched page (the
    * reference's pages/{slug}.md layout), written from the executors.
    * Local-FS here; on a cluster `dir` is shared/object storage.
    */
  def writeLandingZone(fetched: DataFrame, dir: String): Unit = {
    val spark = fetched.sparkSession
    import spark.implicits._
    withFrontmatter(fetched.filter(!col("status").startsWith("error")))
      .select(col("url"), col("page_md")).as[(String, String)]
      .foreachPartition { it: Iterator[(String, String)] =>
        val root = java.nio.file.Paths.get(dir)
        java.nio.file.Files.createDirectories(root)
        // one digest instance per partition (digest() auto-resets);
        // full 128-bit digest — a truncated one re-opens the silent-
        // overwrite window at crawl scale (32 bits collide at ~77k urls)
        val md5 = java.security.MessageDigest.getInstance("MD5")
        it.foreach { case (url, md) =>
          // readable prefix + url digest: the sanitized prefix alone is
          // not injective (query strings squash to '_', long paths
          // truncate), and a collision would silently overwrite a page
          val slug = url.replaceAll("^https?://", "")
            .replaceAll("[^a-zA-Z0-9]", "_").take(40)
          val digest = md5
            .digest(url.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            .map("%02x".format(_)).mkString
          java.nio.file.Files.writeString(root.resolve(s"$slug-$digest.md"), md)
        }
      }
  }

  /** X8: bytes → human display (B/KB/MB) as a case expression. */
  def formatBytes(bytes: Column): Column =
    when(bytes < 1024, concat(bytes.cast("string"), lit(" B")))
      .when(bytes < 1024 * 1024,
        concat(round(bytes / 1024.0, 1).cast("string"), lit(" KB")))
      .otherwise(concat(round(bytes / (1024.0 * 1024.0), 1).cast("string"), lit(" MB")))
}
