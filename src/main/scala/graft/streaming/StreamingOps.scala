package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

/** Structured Streaming forms of the engine's stateful surface
  * (SURVEY.md §2.11). The reference's crawl loop is a rate-limited,
  * keyed-state incremental computation; its Spark-native scale path is
  * Structured Streaming with watermarks + windowed/session aggregation.
  *
  * These transforms are DataFrame→DataFrame and source-agnostic: bind
  * them to `spark.readStream` (file/kafka/rate) in production or to a
  * MemoryStream in tests. Only the batch twins (graft.etl.Events) are
  * DuckDB-oracle-verified; these are smoke-tested via MemoryStream
  * (StreamingSpec) since a streaming sink can't be hash-compared.
  *
  * Scale posture: state is keyed by (user_id) or (window), watermarks
  * bound state growth, and every aggregation here is incremental —
  * the shapes that survive an unbounded 100 TB/day event feed.
  */
object StreamingOps {

  /** Hash shards the sketch twins (heavy hitters, KMV, q-digest) key
    * their group state by.
    */
  private val SketchShards = 8

  /** Event-time column from the canonical nanos-as-long `ts`. */
  def eventTime(c: Column): Column = timestamp_micros(expr("ts div 1000"))

  /** Normalize `ts` (either BIGINT-nanos or a timestamp type — see
    * Tables.withNanosTs) and derive the event-time column. File-stream
    * sources hand us the raw parquet schema, so the encoding dispatch
    * must happen here too, not only in the batch reader.
    */
  private def withEventTime(df: DataFrame, name: String): DataFrame = {
    val canon = graft.Tables.withNanosTs(df)
    canon.withColumn(name, eventTime(col("ts")))
  }

  /** Tumbling 1-hour counts/sums with a 2-hour watermark (late data
    * beyond 2h is dropped — the reference has no late-data story at all;
    * this is the extension surface).
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    withEventTime(events, "event_time")
      .withWatermark("event_time", "2 hours")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Hourly error-share monitor — the streaming twin of
    * graft.etl.Events.sloBurn's per-hour core (n, n_err, err_bp): a
    * watermarked tumbling window so the burn-rate alert can fire
    * per micro-batch instead of per batch recompute. The trailing-6h
    * burn tier stays batch-side (a band join over closed windows);
    * this emits the closed hourly cells it reads.
    */
  def hourlyErrorShare(events: DataFrame): DataFrame =
    withEventTime(events, "event_time")
      .withWatermark("event_time", "2 hours")
      .groupBy(window(col("event_time"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        sum((col("event_type") === "error").cast("long")).as("n_err"))
      .select(col("window.start").as("win_start"), col("n"), col("n_err"),
        expr("(10000 * n_err) div n").as("err_bp"))

  /** Session windows (30-min gap) per user — the streaming twin of
    * graft.etl.Events.sessionize, using Spark's native session_window
    * state merging.
    */
  def sessionWindows(events: DataFrame): DataFrame =
    withEventTime(events, "event_time")
      .withWatermark("event_time", "2 hours")
      .groupBy(session_window(col("event_time"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_value"))

  /** Stream-stream join (J3 as a live flow): pages and their images
    * arrive on independent streams; each page joins images for the
    * same url that arrive within 30 minutes AFTER the page. Both sides
    * carry watermarks, so the join state is BOUNDED — Spark retires a
    * page's state once the image-side watermark passes its join window
    * (the unbounded-safe form of the reference's page↔image resolution,
    * which buffers everything in memory). Inner join: a page with no
    * image inside the horizon simply never emits (the outer-join
    * variant would emit page-with-null after the horizon closes).
    */
  def pageImageJoin(pages: DataFrame, images: DataFrame): DataFrame = {
    val p = withEventTime(pages, "page_time")
      .withWatermark("page_time", "1 hour")
      .select(col("url"), col("page_time"), col("body"))
    val i = withEventTime(images, "img_time")
      .withWatermark("img_time", "1 hour")
      .select(col("url").as("img_url"), col("img_time"), col("img"))
    p.join(i,
      col("url") === col("img_url") &&
      col("img_time") >= col("page_time") &&
      col("img_time") <= col("page_time") + expr("INTERVAL 30 MINUTES"))
      .select(col("url"), col("body"), col("img"),
        col("page_time"), col("img_time"))
  }

  /** Streaming visited-set dedup (U2/F4): keep the first occurrence of
    * each URL within the watermark horizon — the unbounded-safe form of
    * the reference's visited map (state expires with the watermark
    * instead of growing forever).
    */
  def dedupWithinWatermark(pages: DataFrame): DataFrame =
    withEventTime(pages, "event_time")
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("url")

  /** Explicit keyed-state form of the visited map (U2) via
    * flatMapGroupsWithState: emit each URL the first time it is seen,
    * keep a per-key boolean state. This is the custom-state escape
    * hatch for logic session_window/dropDuplicates can't express
    * (e.g. per-URL retry budgets, crawl-depth state).
    */
  def visitedFirstSeen(visits: Dataset[PageVisit]): Dataset[PageVisit] = {
    import visits.sparkSession.implicits._
    visits
      .groupByKey(_.url)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: String, rows: Iterator[PageVisit], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); rows.take(1) })
  }

  /** INCREMENTAL top-k per group — the streaming twin of the native
    * batch [[graft.plans.GroupTopK]] operator (T2/A5 as a live
    * leaderboard): per-key state is the current bounded top-k list
    * (never the history), each micro-batch merges its rows into the
    * state and re-emits the key's refreshed ranking (Update mode —
    * downstream sinks upsert by (key, rn)). Total order (score desc,
    * id asc) keeps emissions deterministic for a given batch sequence.
    * State size is O(groups × k) regardless of stream length — the
    * unbounded-safe property every stateful operator here maintains.
    */
  def streamingTopK(rows: Dataset[ScoredItem], k: Int): Dataset[RankedItem] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (key: String, batch: Iterator[ScoredItem], state: GroupState[List[ScoredItem]]) => {
          val merged = (state.getOption.getOrElse(Nil) ++ batch)
            .sortBy(s => (-s.score, s.id))
            .take(k)
          state.update(merged)
          merged.iterator.zipWithIndex.map { case (s, i) =>
            RankedItem(key, i + 1, s.id, s.score)
          }
        })
  }

  /** Streaming RRF fusion — the live twin of
    * [[graft.etl.TfIdf.rrfFusion]]: ranked hits from the retrieval
    * tiers (lexical, vector) arrive as a stream, and each query's
    * fused leaderboard is maintained incrementally. Per-qid state is a
    * cand → (best lex rank, best vec rank) map — bounded by tiers × k
    * rows per query since each upstream retriever only ever emits its
    * top-k, so state is O(queries × 2k) regardless of stream length.
    * Each micro-batch merges its hits (min rank per tier wins, exactly
    * the semantics of re-running the retriever) and re-emits the
    * query's refreshed fused top-5 in Update mode (downstream sinks
    * upsert by (qid, rank)). Contributions use the same exact-integer
    * `1000000 div (60 + rank)` as the batch operator, so a drained
    * stream converges to the batch result bit-for-bit — StreamingSpec
    * pins stream == batch on the sf0.001 corpus.
    */
  def streamingRrf(hits: Dataset[TierHit]): Dataset[FusedHit] = {
    import hits.sparkSession.implicits._
    hits.groupByKey(_.qid)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (qid: Long, batch: Iterator[TierHit],
            state: GroupState[Map[Long, (Option[Int], Option[Int])]]) => {
          var m = state.getOption.getOrElse(Map.empty[Long, (Option[Int], Option[Int])])
          batch.foreach { h =>
            val (l, v) = m.getOrElse(h.cand, (None, None))
            m = m.updated(h.cand,
              if (h.tier == "lex")
                (Some(l.fold(h.rank)(math.min(_, h.rank))), v)
              else (l, Some(v.fold(h.rank)(math.min(_, h.rank)))))
          }
          state.update(m)
          def contrib(r: Option[Int]): Long =
            r.map(x => 1000000L / (60L + x)).getOrElse(0L)
          m.toSeq.map { case (cand, (l, v)) => (cand, contrib(l) + contrib(v)) }
            .sortBy { case (cand, rrf) => (-rrf, cand) }
            .take(5).zipWithIndex
            .map { case ((cand, rrf), i) => FusedHit(qid, i + 1, cand, rrf) }
            .iterator
        })
  }

  /** Streaming frequent items — the live twin of
    * [[graft.etl.Skew.heavyHitters]]'s sketch pass. Keys are sharded by
    * hash and each shard's group state is a running Misra-Gries summary
    * ([[graft.functions.MisraGries]]) folded forward across
    * micro-batches, so state is O(shards × [[graft.etl.Skew.Capacity]])
    * REGARDLESS of stream length or key cardinality — the property that makes
    * frequent-items safe on an unbounded stream where an exact
    * streaming groupBy-count would grow state per distinct key.
    *
    * Guarantee composition: a key lives wholly in one shard, and the
    * shard's stream is a sub-stream of the whole (N_s <= N), so every
    * key with global count > N/(Capacity+1) survives ITS shard's
    * sketch. The union of shard candidate sets therefore contains every
    * global heavy hitter, and a recount over the candidates equals the
    * batch answer exactly — StreamingSpec pins stream == batch through
    * that recount.
    *
    * Each micro-batch re-emits the shard's refreshed candidate list
    * (Update mode; downstream upserts by shard).
    */
  def streamingHeavyHitters(rows: Dataset[String]): Dataset[ShardSketch] = {
    import rows.sparkSession.implicits._
    val mg = new graft.functions.MisraGries(graft.etl.Skew.Capacity)
    rows.groupByKey(k => math.floorMod(k.hashCode, SketchShards))
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (shard: Int, batch: Iterator[String], state: GroupState[Map[String, Long]]) => {
          val merged = batch.foldLeft(state.getOption.getOrElse(mg.zero))(mg.reduce)
          state.update(merged)
          Iterator.single(ShardSketch(shard, merged.keysIterator.toSeq.sorted))
        })
  }

  /** Streaming Count-Min sketch build: the unbounded-stream twin of
    * [[graft.etl.CorpusStats.cmsFrequency]]'s cell construction. Each
    * word hashes into its d=4 cells (the SAME
    * [[graft.etl.CorpusStats.cmsBuckets]] expression, so stream and
    * batch sketches are bit-identical by construction) and an
    * update/complete-mode aggregation maintains the running cell
    * counts — state is exactly d × w = 1024 longs REGARDLESS of
    * stream length or vocabulary size, the property that makes
    * frequency counting safe on an unbounded stream where an exact
    * per-word groupBy-count grows state per distinct key (the same
    * constant-state argument as [[streamingHeavyHitters]], traded
    * differently: MG keeps exact candidates for the head, CMS keeps
    * one-sided estimates for EVERY key). StreamingSpec pins
    * stream == batch cell-for-cell.
    */
  def streamingCmsCells(words: DataFrame): DataFrame =
    words.select(explode(graft.etl.CorpusStats.cmsBuckets).as("rb"))
      .select(col("rb.rw").as("rw"), col("rb.bucket").as("bucket"))
      .groupBy(col("rw"), col("bucket"))
      .agg(count(lit(1)).as("cell"))

  /** Streaming HLL register build — [[streamingCmsCells]]'s twin for
    * the cardinality sketch: per register index, the running MAX rho,
    * maintained by an update/complete-mode aggregation whose state is
    * bounded at 4096 rows regardless of stream length (max is
    * monotone, so late/replayed data can only agree). The (idx, rho)
    * derivation is the ENGINE-PORTABLE decomposition of
    * [[graft.functions.HllSketch.indexAndRho]] in pure SQL: md5 hex
    * chars 1-3 are the top p = 12 index bits; chars 4-16 are the
    * 52-bit payload, whose leading-zero count is 52 − bit_length —
    * rho = 53 − length(bin(payload)), 53 when the payload is all
    * zeros. StreamingSpec + OpUnitSpec pin stream == batch == native
    * aggregate register-for-register.
    */
  def streamingHllRegisters(words: DataFrame): DataFrame =
    words
      .select(
        conv(substring(md5(col("word")), 1, 3), 16, 10)
          .cast("int").as("idx"),
        conv(substring(md5(col("word")), 4, 13), 16, 10)
          .cast("bigint").as("rest"))
      .withColumn("rho",
        when(col("rest") === 0L, lit(53))
          .otherwise(lit(53) - length(bin(col("rest")))).cast("int"))
      .groupBy(col("idx"))
      .agg(max(col("rho")).as("rho"))

  /** Streaming KMV bottom-k build — completes the streaming sketch
    * symmetry (CMS cells for frequency, HLL registers for cardinality,
    * now the set-algebra tier): each shard's group state is the
    * running bottom-k hash set of ITS substream, folded forward across
    * micro-batches by the SAME [[graft.functions.KmvSketch]] core the
    * native aggregate runs — state is ≤ k longs per shard REGARDLESS
    * of stream length or cardinality. Correctness composes exactly
    * like the batch merge: the k smallest of a union are each among
    * the k smallest of a part, so [[graft.functions.KmvSketch
    * .mergeSketches]] over the latest shard emissions IS the global
    * sketch — StreamingSpec pins stream-merge == batch == native
    * array-for-array. This is the streaming half of the cross-snapshot
    * story: a live ingest keeps per-shard bottom-k state, and
    * `kmv_union`/`kmv_diff` answer novelty against yesterday's 8 KB
    * sketch without touching either corpus.
    */
  def streamingKmvSketch(words: Dataset[String]): Dataset[KmvShard] = {
    import words.sparkSession.implicits._
    import graft.functions.{HllSketch, KmvSketch}
    words.groupByKey(w => math.floorMod(w.hashCode, SketchShards))
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (shard: Int, batch: Iterator[String], state: GroupState[Array[Long]]) => {
          val buf = KmvSketch.newBuffer()
          state.getOption.foreach(_.foreach(h => KmvSketch.add(buf, h)))
          batch.foreach(w => KmvSketch.add(buf, HllSketch.hash64(w)))
          val out = KmvSketch.toArray(buf)
          state.update(out)
          Iterator.single(KmvShard(shard, out.toSeq))
        })
  }

  /** Streaming q-digest build — the quantile tier's unbounded-stream
    * twin (CMS cells / HLL registers / KMV bottom-k / now
    * distribution): each shard's group state is the running q-digest
    * of ITS substream, folded forward across micro-batches by the SAME
    * [[graft.functions.QdigestSketch]] core the native aggregate runs;
    * state is ≤ 3k nodes per shard REGARDLESS of stream length (the
    * digest compresses against its own running mass). Merging the
    * latest shard emissions answers any global quantile within the
    * same guaranteed rank band (mergeable-summaries composition:
    * per-shard ε·nᵢ errors sum to ≤ ε·n) — the live "what is today's
    * p99 document length so far" gauge a streaming ingest keeps
    * without storing values. StreamingSpec pins band + exact mass.
    */
  def streamingQdigest(values: Dataset[Long]): Dataset[QdigestShard] = {
    import values.sparkSession.implicits._
    import graft.functions.QdigestSketch
    values.groupByKey(v => QdigestSketch.clamp(v) % SketchShards)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (shard: Int, batch: Iterator[Long], state: GroupState[Array[Long]]) => {
          val buf = QdigestSketch.newBuffer()
          state.getOption.foreach { arr =>
            var i = 0
            while (i < arr.length) {
              buf.update(arr(i), buf.getOrElse(arr(i), 0L) + arr(i + 1))
              i += 2
            }
          }
          batch.foreach(v => QdigestSketch.add(buf, v))
          val out = QdigestSketch.toArray(buf)
          state.update(out)
          Iterator.single(QdigestShard(shard, out.toSeq))
        })
  }

  /** Streaming NEAR-DUP — the live twin of
    * [[graft.etl.Dedup.dedupIncremental]] (round 14, VERDICT r13 item
    * 4): production ingest dedups incrementally, and the batch form's
    * "band the batch, probe the standing corpus" IS a keyed-state
    * computation — the standing corpus per band key is exactly the
    * state a stream keeps. Each arriving document is MinHash-signed
    * and band-keyed RELATIONALLY (the same
    * [[graft.etl.Dedup.minhashSignatureFast]] + xxhash64 band keys as
    * the batch fast tier — map-side, no shuffle before the state op),
    * then flatMapGroupsWithState keyed by (band, bkey) holds the
    * band's signatures and flags each new doc against every band-mate,
    * with the signature match fraction as its Jaccard estimate — the
    * batch candidate semantics exactly, which is what StreamingSpec
    * pins against [[graft.etl.Dedup.minhashLshFast]]. The banding is
    * the batch tier's own ([[graft.etl.Dedup.TestNumHashes]]/
    * [[graft.etl.Dedup.TestBandSize]]).
    *
    * State is BOUNDED two ways: a band key only ever holds
    * [[graft.etl.Dedup.MaxPerBand]] signatures (first-seen wins — the
    * canonical-keeper rule; later docs are still flagged against the
    * kept set, so recall on "is this new doc a dup of the standing
    * corpus" survives the cap, only dup-vs-dup pairs beyond it are
    * dropped), and TestNumHashes longs per entry. Per-band occupancy
    * in a real near-dup graph is tiny (the LSH sparsity argument) —
    * the cap is a backstop against adversarial band collisions, not a
    * working limit. Emission order within a micro-batch is
    * doc_id-sorted, so replays are deterministic.
    *
    * OUTPUT MULTIPLICITY: a pair sharing k bands is flagged up to k
    * times (once per band — band-keyed state cannot see its
    * siblings). The batch twin's `.distinct()` has no bounded-state
    * streaming equivalent (exact pair dedup needs pair-keyed state),
    * so consumers treat flags as idempotent (the production dedup
    * ACTION — drop/canonicalize — is naturally so) or chain a
    * watermarked dropDuplicates on (new_doc, match_doc) when
    * exactly-once flagging matters. StreamingSpec pins set-parity
    * with the batch pairs AND bounds the per-pair multiplicity at
    * the band count.
    *
    * TOTAL-STATE bound (ADVICE r14): the per-key cap bounds each
    * band's LIST, but the NUMBER of (band, bkey) keys grows with the
    * distinct band keys ever seen — under `NoTimeout` an unbounded
    * stream accretes keys forever. This form is therefore for BOUNDED
    * replays (snapshot dedup, backfills, the StreamingSpec parity
    * harness); a long-running production ingest uses
    * [[streamingNearDupTtl]], whose per-entry TTL expires idle keys
    * and bounds total state by the arrival rate × horizon.
    */
  def streamingNearDup(docs: DataFrame): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    bandedDocs(docs)
      .groupByKey(r => (r.band, r.bkey))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: (Int, Long), rows: Iterator[BandDoc],
            state: GroupState[List[BandSigEntry]]) => {
          val (hits, merged) = NearDupProbe.probe(
            state.getOption.getOrElse(Nil), rows.toSeq)
          state.update(merged)
          hits.iterator
        })
  }

  /** Incremental connected components over the arriving candidate-pair
    * stream — the capstone of the streaming dedup story (round 15,
    * VERDICT r14 stretch 8): [[streamingNearDup]] flags the pairs,
    * this folds them into the SAME closure the batch family computes
    * (graft.etl.Dedup.dedupComponentsFrom — component id = the MIN
    * doc_id of the component, the oracle-pinned convention).
    *
    * Mechanism: a union-find with union-by-min and full path
    * compaction per micro-batch, held in one flatMapGroupsWithState
    * group. Each batch emits the (doc_id, component) assignments that
    * CHANGED; because union-by-min makes a doc's root non-increasing
    * over the stream, the final assignment of any doc is the MINIMUM
    * component it ever emitted — consumers (and the StreamingSpec
    * parity test) reduce with min instead of needing ordered reads.
    *
    * State honesty: the closure is GLOBAL, so the state lives under a
    * single group key — one executor holds the union-find. That is
    * the same pair-graph-sized invariant as the batch family's
    * checkpoint (never corpus-sized; 1.45 MB at the 100× tier,
    * BASELINE.md r14) — the pair GRAPH is sparse even when the corpus
    * is not, which is the entire LSH argument. A pair stream whose
    * graph outgrows one executor's state needs the batch closure on a
    * compaction cadence (or range-sharded union-find with periodic
    * reconciliation) — documented boundary, same as the fMGWS
    * near-dup form's bounded-replay scope.
    */
  def streamingComponents(pairs: DataFrame): Dataset[CompAssign] = {
    import pairs.sparkSession.implicits._
    pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: Int, rows: Iterator[(Long, Long)],
            state: GroupState[Map[Long, Long]]) => {
          val before = state.getOption.getOrElse(Map.empty[Long, Long])
          val parent = scala.collection.mutable.HashMap.empty[Long, Long]
          parent ++= before
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x
            while (parent.getOrElse(c, c) != r) {
              val n = parent(c); parent(c) = r; c = n
            }
            r
          }
          rows.foreach { case (a, b) =>
            if (!parent.contains(a)) parent(a) = a
            if (!parent.contains(b)) parent(b) = b
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          // full per-batch compaction: every doc points at its root, so
          // the stored state is the assignment itself and change
          // detection is a map diff
          val compacted = parent.keysIterator
            .map(k => k -> find(k)).toMap
          state.update(compacted)
          compacted.iterator
            .filter { case (doc, root) => !before.get(doc).contains(root) }
            .map { case (doc, root) => CompAssign(doc, root) }
            .toSeq.sortBy(_.doc_id).iterator
        })
  }

  /** Streaming FIRST-OCCURRENCE paragraph registry — the streaming
    * twin of [[graft.etl.Dedup.paragraphDedup]]'s winner rule. Input:
    * a streaming documents frame (doc_id, text); paragraphs segment
    * map-side via the batch family's shared
    * [[graft.etl.Dedup.paragraphFrame]], then a digest-keyed
    * flatMapGroupsWithState keeps the smallest (doc_id, p_idx) seen
    * and emits the winner whenever it IMPROVES. Because min is
    * order-free, the registry CONVERGES to the batch winner set
    * exactly, regardless of arrival order or batching — a consumer
    * takes the last (equivalently min) emission per digest
    * (StreamingSpec proves exact parity on an out-of-order replay).
    *
    * State: one (doc_id, p_idx) pair per DISTINCT paragraph — the
    * registry is corpus-scale like [[visitedFirstSeen]]'s url set, so
    * the NoTimeout form is for bounded replays/backfills; a production
    * ingest bounds it the same ways (TTL horizon, or periodic
    * compaction against the batch winner table). Emission count per
    * digest is bounded by the number of micro-batches (the winner can
    * only improve once per batch).
    */
  def streamingParagraphWinners(docs: DataFrame): Dataset[ParaWin] = {
    import docs.sparkSession.implicits._
    graft.etl.Dedup.paragraphFrame(docs, graft.etl.Dedup.ParagraphWords)
      .select(col("dg"), col("doc_id"), col("p_idx"))
      .as[(Long, Long, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (dg: Long, rows: Iterator[(Long, Long, Int)],
            state: GroupState[(Long, Int)]) => {
          val incoming = rows.map(r => (r._2, r._3))
            .reduceOption(Ordering[(Long, Int)].min(_, _))
          val prior = state.getOption
          (incoming, prior) match {
            case (Some(in), p) if p.forall(Ordering[(Long, Int)].lt(in, _)) =>
              state.update(in)
              Iterator(ParaWin(dg, in._1, in._2))
            case _ => Iterator.empty
          }
        })
  }

  /** STREAMING CURATION FUNNEL (round 16, VERDICT r15 item 4) — the
    * ingest twin of [[graft.etl.CorpusPipeline.curationFunnel]]'s
    * stages 0-4: per arriving document, the level at which it leaves
    * the pipeline (0 = gopher-rejected raw, 1 = language unknown, 2 =
    * below the quality bar, 3 = exact-duplicate loser, 4 = survivor),
    * emitted per doc so a stage histogram is one aggregation away.
    *
    * Stage composition from the existing primitives: the per-doc
    * SCALARS (tokens, quality_bp, lang marker prediction, text md5)
    * are the SAME column expressions the batch funnel uses
    * ([[graft.etl.TextAnalysis.qualityAnnotated]]/withLangPredicted —
    * a pure map, streaming-safe); the gopher gate runs as the per-row
    * scala form [[graft.etl.TextAnalysis.gopherPass]] (the relational
    * form's word aggregations would shuffle every micro-batch);
    * exact dedup is a digest-keyed first-seen registry
    * ([[visitedFirstSeen]]'s shape, keyed on md5(text), won only by
    * m3 survivors — the batch window's (h, m3) partition). Stage 5
    * (near-dup canonical) rides [[streamingComponents]], whose
    * assignments converge only across the whole stream — per-arrival
    * level-5 verdicts would be revisionist (a late edge merges
    * components and demotes a canonical doc), so the live funnel
    * reports stages 0-4 and [[funnelCanonicalReconcile]] composes the
    * level-4 survivors with the twin's assignments on its cadence
    * (StreamingSpec: full 6-row parity with batch `curation_funnel`).
    *
    * Parity contract (StreamingSpec): on a replay ordered by doc_id,
    * the cumulative (docs, tokens) histogram over these levels equals
    * the batch funnel's stage 0-4 rows EXACTLY. Arrival order matters
    * only within a digest (first m3 survivor wins — the same
    * first-wins semantics the batch expresses as rn=1 by doc_id), so
    * rows within each micro-batch fold in doc_id order.
    *
    * State: one boolean per DISTINCT m3-surviving text digest —
    * bounded by distinct corpus texts, the [[visitedFirstSeen]]
    * NoTimeout replay form; production bounds it with the TTL twin's
    * horizon exactly like the visited set.
    */
  def streamingCurationFunnel(docs: DataFrame): Dataset[FunnelLevel] = {
    import docs.sparkSession.implicits._
    val annotated = graft.etl.TextAnalysis.withLangPredicted(
        graft.etl.TextAnalysis.qualityAnnotated(
          docs.select(col("doc_id"), col("text"))))
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        col("tokens"), col("quality_bp"), col("predicted"),
        md5(coalesce(col("text"), lit(""))).as("h"))
      .as[FunnelDoc]
    annotated
      .groupByKey(_.h)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: String, rows: Iterator[FunnelDoc], state: GroupState[Boolean]) => {
          var taken = state.getOption.getOrElse(false)
          val out = rows.toSeq.sortBy(_.doc_id).map { d =>
            val m1 = graft.etl.TextAnalysis.gopherPass(d.text)
            val m2 = m1 && d.predicted != "unknown"
            val m3 = m2 &&
              d.quality_bp >= graft.etl.CorpusPipeline.FunnelQualityBp
            val m4 = m3 && !taken
            if (m4) taken = true
            val lvl = if (!m1) 0 else if (!m2) 1 else if (!m3) 2
              else if (!m4) 3 else 4
            FunnelLevel(d.doc_id, lvl, d.tokens)
          }
          if (taken) state.update(true)
          out.iterator
        })
  }

  /** Stage-5 RECONCILIATION (round 17, VERDICT r16 item 4): compose
    * the funnel's level-4 survivors with the components twin's
    * min-folded assignments → the full 6-level per-doc verdicts, so
    * the streaming histogram covers levels 0-5.
    *
    * Why stage 5 cannot be a per-arrival append emission like stages
    * 0-4: those verdicts are FINAL on arrival (first-wins within a
    * digest), but a component's canonical doc is the min over a set a
    * LATE EDGE can still merge — a micro-batch that joins two
    * components demotes one previously-canonical doc, so any
    * append-mode level-5 emission is revisionist by construction. The
    * correct streaming shape is [[streamingComponents]]'s own
    * contract: assignment emissions CONVERGE (a doc's component only
    * decreases) and the consumer reconciles on the twin's cadence —
    * this function IS that reconciliation, runnable per micro-batch
    * (foreachBatch) or at stream end, over (funnel level rows,
    * min-folded [[CompAssign]] rows). StreamingSpec proves the
    * reconciled histogram equals batch `curation_funnel`'s full 6
    * rows EXACTLY on a 3-batch replay.
    *
    * Semantics mirror the batch `m5` window verbatim: among level-4
    * docs sharing a component, min doc_id keeps level 5; unclustered
    * docs are their own singleton — always canonical. The window
    * partitions on coalesce(component, doc_id) — high-cardinality,
    * no null-key funnel, the batch funnel's own key.
    */
  def funnelCanonicalReconcile(levels: DataFrame,
      assignments: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w5 = Window
      .partitionBy(coalesce(col("component"), col("doc_id")))
      .orderBy(col("doc_id"))
    // lvl >= 4, not === 4 (ADVICE r17): an ALREADY-RECONCILED frame
    // carries level-5 rows, which are level-4 survivors whose verdict
    // this pass re-derives — filtering them to exactly 4 would silently
    // DROP every canonical doc on re-application. Folding 5s back in as
    // survivors makes the reconcile idempotent (StreamingSpec pins it),
    // which is what a foreachBatch caller re-running per micro-batch
    // needs.
    val lvl4 = levels.filter(col("lvl") >= 4)
      .join(assignments.select(col("doc_id"), col("component")),
        Seq("doc_id"), "left")
      .withColumn("lvl",
        when(col("component").isNull || row_number().over(w5) === 1, 5)
          .otherwise(4))
      .select(col("doc_id"), col("lvl"), col("toks"))
    levels.filter(col("lvl") < 4).unionByName(lvl4)
  }

  /** Map-side banding shared by both streaming near-dup forms: fast
    * signatures + the full signature array, banded by the batch tier's
    * own [[graft.etl.Dedup.bandRows]] over
    * [[graft.etl.Dedup.bandStructs]], so stream and batch can never
    * drift.
    */
  private def bandedDocs(docs: DataFrame): Dataset[BandDoc] = {
    import docs.sparkSession.implicits._
    import graft.etl.Dedup
    val sig = Dedup.minhashSignatureFast(docs).withColumn("sig",
      array((0 until Dedup.TestNumHashes).map(i => col(s"mh_$i")): _*))
    Dedup.bandRows(sig, Dedup.bandStructs(Dedup.fastBandKey), "sig").as[BandDoc]
  }

  /** [[streamingNearDup]] with PRODUCTION-HORIZON state expiry — the
    * transformWithState form (the Spark 4 StatefulProcessor API that
    * supersedes flatMapGroupsWithState, same migration as
    * [[visitedFirstSeenTtl]] vs [[visitedFirstSeen]]): each band's
    * signature list lives in a TTL'd ListState, so a signature stops
    * matching `ttl` after it was written — the crawl-horizon semantics
    * a long-running ingest wants (yesterday's snapshot ages out of the
    * dedup window on its own; the fMGWS form's state lives forever or
    * needs hand-rolled timeout bookkeeping). Same banding, same
    * flagging rule, same first-seen cap; requires the RocksDB state
    * store provider (the only one implementing the TWS state format),
    * which StreamingSpec runs.
    */
  def streamingNearDupTtl(docs: DataFrame, ttl: Duration): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    bandedDocs(docs)
      .groupByKey(r => (r.band, r.bkey))
      .transformWithState(new NearDupTtlProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Streaming IVM: the stateful twin of `Changelog.ivmUpdate`. A
    * keyed stream of signed deltas (+1/+cents insert, −1/−cents
    * retraction; update = retract+insert) maintained by an update-mode
    * aggregation — the state store holds the running per-group sums
    * and each micro-batch touches only its delta's groups, which is
    * exactly the O(|delta| + |touched groups|) refresh the batch
    * operator does per run, kept continuously. SUM/COUNT are
    * retraction-safe; StreamingSpec pins that the maintained rollup
    * equals the batch recompute over every delta ever streamed.
    */
  def deltaRollup(deltas: DataFrame): DataFrame =
    deltas.groupBy(col("month"))
      .agg(sum(col("dn")).as("n_orders"), sum(col("dc")).as("rev_cents"))

  /** Spark 4 arbitrary-state form of the visited map (U2/F4):
    * `transformWithState` — the StatefulProcessor API that supersedes
    * flatMapGroupsWithState — with per-key state TTL. A URL emits the
    * first time it is seen; repeats inside `ttl` are swallowed; the
    * state store then expires the flag on its own, giving the crawler
    * the production revisit-after-TTL semantics WITHOUT hand-rolled
    * timeout bookkeeping (the fMGWS version needs explicit timeout
    * state; here expiry is a state-store property). Requires the
    * RocksDB state store provider — the only provider implementing the
    * TWS state format — which StreamingSpec already runs.
    */
  def visitedFirstSeenTtl(visits: Dataset[PageVisit],
      ttl: Duration): Dataset[PageVisit] = {
    import visits.sparkSession.implicits._
    visits
      .groupByKey(_.url)
      .transformWithState(new VisitedTtlProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }
}

/** StatefulProcessor behind [[StreamingOps.visitedFirstSeenTtl]]: one
  * TTL'd ValueState flag per URL. State lives in the store (RocksDB at
  * scale), is keyed implicitly by the grouping key, and self-expires
  * `ttl` after its last update.
  */
class VisitedTtlProcessor(ttl: Duration)
    extends StatefulProcessor[String, PageVisit, PageVisit] {
  @transient private var seen: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getValueState[Boolean]("seen",
      Encoders.scalaBoolean, TTLConfig(ttl))

  override def handleInputRows(url: String, rows: Iterator[PageVisit],
      timers: TimerValues): Iterator[PageVisit] =
    if (seen.exists()) Iterator.empty
    else { seen.update(true); rows.take(1) }
}

/** StatefulProcessor behind [[StreamingOps.streamingNearDupTtl]]: one
  * TTL'd ListState of first-seen signatures per (band, bkey). Each
  * element expires `ttl` after it was appended (per-element TTL — the
  * state store ages out old snapshots' signatures without a timer in
  * sight), so the cap only bounds SIMULTANEOUSLY-live band mates.
  */
class NearDupTtlProcessor(ttl: Duration)
    extends StatefulProcessor[(Int, Long), BandDoc, NearDupHit] {
  @transient private var seen: ListState[BandSigEntry] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getListState[BandSigEntry]("seen",
      Encoders.product[BandSigEntry], TTLConfig(ttl))

  override def handleInputRows(key: (Int, Long), rows: Iterator[BandDoc],
      timers: TimerValues): Iterator[NearDupHit] = {
    val live = seen.get().toList // oldest-first, TTL-filtered by the store
    val (hits, merged) = NearDupProbe.probe(live, rows.toSeq)
    // per-element TTL: append only the NEW entries (re-putting the
    // whole list would refresh old elements' clocks)
    merged.drop(live.size).foreach(seen.appendValue)
    hits.iterator
  }
}

/** The probe/flag/append loop shared VERBATIM by both state backends
  * (fMGWS closure and [[NearDupTtlProcessor]]) — one implementation,
  * so a flagging change cannot desynchronize them.
  * doc_id-sorted processing keeps replays deterministic; returns the
  * hits plus the band's merged first-seen list (capped).
  */
private[streaming] object NearDupProbe {
  def probe(live0: List[BandSigEntry], rows: Seq[BandDoc])
      : (Seq[NearDupHit], List[BandSigEntry]) = {
    var live = live0
    val out = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
    rows.sortBy(_.doc_id).foreach { r =>
      live.foreach { e =>
        if (e.doc_id != r.doc_id) {
          val matches = e.sig.iterator.zip(r.sig.iterator)
            .count { case (a, b) => a == b }.toLong
          out += NearDupHit(r.doc_id, e.doc_id,
            10000L * matches / graft.etl.Dedup.TestNumHashes)
        }
      }
      if (live.size < graft.etl.Dedup.MaxPerBand && !live.exists(_.doc_id == r.doc_id))
        live = live :+ BandSigEntry(r.doc_id, r.sig)
    }
    (out.toSeq, live)
  }
}

/** One crawl fetch observation on the stream. */
case class PageVisit(url: String, ts: Long)

/** Signed IVM delta: dn = ±row count, dc = ±cents. */
case class RollupDelta(month: String, dn: Long, dc: Long)

/** A page body arriving on the extract stream (J3's left side). */
case class PageEvent(url: String, ts: Long, body: String)

/** An image resolution arriving on the media stream (J3's right side). */
case class ImageEvent(url: String, ts: Long, img: String)

/** A scored item on the stream (key = group, e.g. lang or domain). */
case class ScoredItem(key: String, id: Long, score: Long)

/** A ranked retrieval hit arriving from one tier ("lex" | "vec"). */
case class TierHit(qid: Long, cand: Long, tier: String, rank: Int)

/** One row of a query's fused RRF leaderboard. */
case class FusedHit(qid: Long, rank: Int, cand: Long, rrf: Long)

/** A current leaderboard row emitted by [[StreamingOps.streamingTopK]]. */
case class RankedItem(key: String, rn: Int, id: Long, score: Long)

/** One shard's current frequent-item candidates
  * ([[StreamingOps.streamingHeavyHitters]]).
  */
case class ShardSketch(shard: Int, cands: Seq[String])

/** One shard's live bottom-k hash set (unsigned-ascending, ≤ k). */
case class KmvShard(shard: Int, hashes: Seq[Long])

/** A band-keyed signature row feeding [[StreamingOps.streamingNearDup]]. */
case class BandDoc(doc_id: Long, band: Int, bkey: Long, sig: Seq[Long])

/** An annotated document entering the streaming curation funnel. */
case class FunnelDoc(doc_id: Long, text: String, tokens: Long,
  quality_bp: Long, predicted: String, h: String)

/** A document's funnel exit level (0-4) + its token mass. */
case class FunnelLevel(doc_id: Long, lvl: Int, toks: Long)

/** One doc's signature held in a band's bounded state. */
case class BandSigEntry(doc_id: Long, sig: Seq[Long])

/** A flagged near-dup: the arriving doc, its standing band-mate, and
  * the signature-agreement Jaccard estimate in basis points.
  */
case class NearDupHit(new_doc: Long, match_doc: Long, est_bp: Long)

/** One changed closure assignment from [[StreamingOps.streamingComponents]];
  * a doc's component is non-increasing over the stream, so the final
  * assignment is the min over its emitted rows.
  */
case class CompAssign(doc_id: Long, component: Long)

/** Current first-occurrence winner of paragraph digest `dg`. */
case class ParaWin(dg: Long, doc_id: Long, p_idx: Int)

/** One shard's live q-digest ([id, count, …] pairs, ids ascending). */
case class QdigestShard(shard: Int, digest: Seq[Long])
