package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.{Dedup, Events, Shingles, Similarity}

class OpUnitSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("Shingles: k=3 yields max(0, words-2) shingles; blanks dropped") {
    val df = Seq(
      (1L, "a b c d e"),
      (2L, "a  b   c"), // double spaces => empty words filtered
      (3L, "a b"),
      (4L, "")).toDF("doc_id", "text")
    val got = Shingles.wordShingles(df, 3)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 1L)) // docs 3 and 4: no rows
    val s2 = Shingles.wordShingles(df.filter(col("doc_id") === 2), 3)
      .select("shingle").as[String].head()
    assert(s2 == "a b c")
  }

  test("applyChangelog: latest-per-key wins, deletes drop, reapply is a no-op") {
    import graft.etl.Changelog
    val base = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("key", "value")
    val changes = Seq(
      (1L, 1L, "upsert", 11L), (1L, 2L, "upsert", 12L), // latest seq wins
      (2L, 1L, "upsert", 99L), (2L, 2L, "delete", 0L),  // delete wins over base
      (4L, 1L, "upsert", 40L),                          // insert
      (5L, 1L, "delete", 0L))                           // delete of absent key
      .toDF("key", "seq", "op", "value")
    val applied = Changelog.applyChangelog(base, changes)
    val state = applied.select("key", "value").as[(Long, Long)].collect().toMap
    assert(state == Map(1L -> 12L, 3L -> 30L, 4L -> 40L))
    val srcs = applied.select("key", "src").as[(Long, String)].collect().toMap
    assert(srcs == Map(1L -> "updated", 3L -> "base", 4L -> "inserted"))
    // idempotence on the state: re-applying the same changelog to its
    // own output changes nothing (provenance aside)
    val again = Changelog.applyChangelog(applied.select("key", "value"), changes)
      .select("key", "value").as[(Long, Long)].collect().toMap
    assert(again == state)
  }

  test("Sessionize: 30-min gap starts a new session per user") {
    val us = 1000000L
    val min = 60L * us
    // user 1: events at 0, 10min, 45min (gap 35 => break), 50min
    // user 2: single event
    val df = Seq(
      (1L, 1L, 0L * min), (1L, 2L, 10L * min), (1L, 3L, 45L * min),
      (1L, 4L, 50L * min), (2L, 5L, 0L * min))
      .toDF("user_id", "event_id", "ts") // ts in nanos-as-long domain: use ns
      .withColumn("ts", col("ts") * 1000) // min->us above, *1000 => ns
    val got = Events.sessionAssign(df)
      .select(col("user_id"), col("event_id"), col("session_seq"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 5L, 1L)))
  }

  test("SimHash: identical texts hash identically; disjoint vocab differs") {
    // exercises the PRODUCTION operator (not a re-implementation — a
    // copy would stay green when Dedup.simhash regresses)
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "zork quux fnord blarg")).toDF("doc_id", "text")
    val out = Dedup.simhashFrom(df)
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
  }

  test("DedupComponents: transitive closure over pairs, min-id keeper") {
    // chain 1-2, 2-3 (one component, keeper 1), isolated pair 10-11,
    // and a 4-cycle 20-21, 21-22, 22-23, 23-20 (pointer-jump must not
    // oscillate on cycles)
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (20L, 23L)
    ).toDF("doc_a", "doc_b")
    val got = Dedup.dedupComponentsFrom(pairs)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L),
      (20L, 20L, 4L), (21L, 20L, 4L), (22L, 20L, 4L), (23L, 20L, 4L)))
  }

  test("GroupTopK native operator: ranks, short groups, determinism on ties") {
    val df = Seq(
      ("a", 1L, 30), ("a", 2L, 50), ("a", 3L, 50), ("a", 4L, 10), // tie at 50
      ("b", 5L, 7),                                               // short group
      ("c", 6L, 1), ("c", 7L, 2), ("c", 8L, 3), ("c", 9L, 4)
    ).toDF("g", "id", "score")
    val got = graft.plans.GroupTopK.topK(df, 2, "rn", Seq("g"),
        col("score").desc, col("id").asc)
      .select("g", "rn", "id", "score")
      .as[(String, Int, Long, Int)].collect().toSet
    assert(got == Set(
      ("a", 1, 2L, 50), ("a", 2, 3L, 50), // tie broken by id asc
      ("b", 1, 5L, 7),
      ("c", 1, 9L, 4), ("c", 2, 8L, 3)))
    // agrees with the window formulation on every group
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      .orderBy(col("score").desc, col("id").asc)
    val viaWindow = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2).select("g", "rn", "id", "score")
      .as[(String, Int, Long, Int)].collect().toSet
    assert(got == viaWindow)
  }

  test("mergeRollup: cancellation kills a group, delta births one, empty delta is identity") {
    import graft.etl.Changelog
    val base = Seq(("a", 2L, 300L), ("b", 1L, 50L)).toDF("month", "bn", "bc")
    val delta = Seq(("a", -2L, -300L), ("c", 3L, 75L)).toDF("month", "dn", "dc")
    val got = Changelog.mergeRollup(base, delta)
      .as[(String, Long, Long)].collect().toSet
    // "a" cancels to zero and is dropped; "b" untouched; "c" born
    assert(got == Set(("b", 1L, 50L), ("c", 3L, 75L)))
    val empty = Seq.empty[(String, Long, Long)].toDF("month", "dn", "dc")
    val id = Changelog.mergeRollup(base, empty)
      .as[(String, Long, Long)].collect().toSet
    assert(id == Set(("a", 2L, 300L), ("b", 1L, 50L)))
  }

  test("Cosine: self-similarity is 1, orthogonal is 0") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 2.0f)),
      (2L, Array(0.0f, 3.0f, 0.0f))).toDF("id", "v")
    val self = df.filter(col("id") === 1)
      .select(Similarity.cosine(col("v"), col("v"))).as[Double].head()
    assert(math.abs(self - 1.0) < 1e-12)
    val cross = df.as("a").join(df.as("b"),
        col("a.id") === 1 && col("b.id") === 2)
      .select(Similarity.cosine(col("a.v"), col("b.v"))).as[Double].head()
    assert(math.abs(cross) < 1e-12)
  }

  test("Exact-dup grouping keys on content hash; null text groups with empty") {
    val df = Seq((1L, "same"), (2L, "same"), (3L, "other"),
      (4L, null.asInstanceOf[String]), (5L, ""))
      .toDF("doc_id", "text")
    val groups = Dedup.dedupExactFrom(df)
      .filter(col("n_copies") >= 2)
      .select("canonical_doc", "n_copies")
      .as[(Long, Long)].collect().toSet
    // "same" pair + the null/empty pair (coalesce(text,'') normalizes)
    assert(groups == Set((1L, 2L), (4L, 2L)))
  }

  test("tsMotif: a perfect rising ramp scores d2=0 at rank 1") {
    val hourNs = 3600L * 1000000L * 1000L
    // cohort 1 (user 1): hourly counts [1,2,3,4,1,1] over hours 0-5 —
    // the window at hour 0 is exactly the centered ramp pattern
    val rows = (0 to 5).flatMap { h =>
      val c = Seq(1, 2, 3, 4, 1, 1)(h)
      (1 to c).map(i => (1L, h.toLong * 10 + i, h * hourNs + i * 1000L))
    }
    val d = java.nio.file.Files.createTempDirectory("graft_motif_")
    rows.toDF("user_id", "event_id", "ts")
      .write.mode("overwrite").parquet(d.resolve("events.parquet").toString)
    val got = Events.tsMotif(spark, d.toString)
      .as[(Long, Int, Long, Long)].collect()
    assert(got.head == ((1L, 1, 0L, 0L)), s"best window wrong: ${got.toSeq}")
    assert(got.forall(_._4 >= 0) && got.length == 3) // 3 windows, all ranked
  }

  test("tsAnomaly: a spike hour is flagged against median/MAD, flat hours are not") {
    val hourNs = 3600L * 1000000L * 1000L
    // type "a": ten hours of 2 events, hour 10 has 50 → med=2, mad=0→1,
    // dev=48 > 3 flags exactly that hour
    val rows = ((0 to 9).flatMap(h => (1 to 2).map(i =>
        ("a", h * hourNs + i * 1000L))) ++
      (1 to 50).map(i => ("a", 10 * hourNs + i * 1000L)))
    val d = java.nio.file.Files.createTempDirectory("graft_anom_")
    rows.toDF("event_type", "ts")
      .write.mode("overwrite").parquet(d.resolve("events.parquet").toString)
    val got = Events.tsAnomaly(spark, d.toString)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq(("a", 10L, 50L, 2L, 0L, 48L)), got.toSeq.toString)
  }

  test("cusumChangepoint: a level shift is located at the shift hour") {
    val hourNs = 3600L * 1000000L * 1000L
    // type "a": hours 0-4 at 2 events/hour, hours 5-9 at 10 events/hour
    // → the CUSUM peak must sit at the LAST pre-shift hour (hr=4):
    // m=10, total=60, cum(4)=10 → stat=|10·10−5·60|=200, the max.
    // pre rate 200 c/h, post rate (60−10)·100/5 = 1000 c/h.
    val rows = (0 to 4).flatMap(h => (1 to 2).map(i => ("a", h * hourNs + i * 1000L))) ++
      (5 to 9).flatMap(h => (1 to 10).map(i => ("a", h * hourNs + i * 1000L)))
    val d = java.nio.file.Files.createTempDirectory("graft_cusum_")
    rows.toDF("event_type", "ts")
      .write.mode("overwrite").parquet(d.resolve("events.parquet").toString)
    val got = Events.cusumChangepoint(spark, d.toString)
      .select("event_type", "n_hours", "n_events", "cp_hr", "cp_idx",
        "cusum_peak", "pre_rate_c", "post_rate_c")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq(("a", 10L, 60L, 4L, 5L, 200L, 200L, 1000L)),
      got.toSeq.toString)
  }

  test("events ts encoding drift: BIGINT-nanos, timestamp[us] NTZ, and " +
       "timestamp[us] UTC all sessionize identically") {
    // r7 lesson: the driver regenerated events.parquet with ts as
    // timestamp[us] instead of INT64-nanos and 20 temporal queries died
    // at analysis for a whole round. Tables.withNanosTs normalizes at
    // the reader edge; this pins all three encodings to identical rows.
    val us = 1000000L
    val rows = Seq(
      (1L, 1L, 0L, 1.50), (1L, 2L, 600L * us, 2.25),
      (1L, 3L, 2700L * us, 0.75), (2L, 4L, 100L * us, 3.00))
    val base = rows.toDF("user_id", "event_id", "ts_us", "value")
    def stage(ts: org.apache.spark.sql.Column): String = {
      val d = java.nio.file.Files.createTempDirectory("graft_tsenc_")
      base.select(col("user_id"), col("event_id"), ts.as("ts"), col("value"))
        .write.mode("overwrite").parquet(d.resolve("events.parquet").toString)
      d.toString
    }
    val asNanos = stage(col("ts_us") * 1000)                       // plain INT64
    val asNtz   = stage(timestamp_micros(col("ts_us")).cast("timestamp_ntz"))
    val asUtc   = stage(timestamp_micros(col("ts_us")))            // TIMESTAMP (UTC session)
    val expect = Events.sessionize(spark, asNanos).collect().toSeq
    assert(expect.nonEmpty)
    assert(Events.sessionize(spark, asNtz).collect().toSeq == expect)
    assert(Events.sessionize(spark, asUtc).collect().toSeq == expect)
  }

  test("survivalHazard: censoring keeps active users out of the deaths, " +
       "hazards truncate per day and accumulate") {
    val dayNs = 86400L * 1000000L * 1000L
    // u1: days 0..2 (life 2, dies: last event 8 days before corpus end)
    // u2: day 0 only (life 0, dies)
    // u3: days 0..10 (life 10, last event AT the end → censored)
    val rows = Seq(
      (1L, 0L * dayNs), (1L, 2L * dayNs),
      (2L, 0L * dayNs),
      (3L, 0L * dayNs), (3L, 10L * dayNs))
    val d = java.nio.file.Files.createTempDirectory("graft_surv_")
    rows.toDF("user_id", "ts")
      .write.mode("overwrite").parquet(d.resolve("events.parquet").toString)
    val got = Events.survivalHazard(spark, d.toString)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // day 0: at_risk 3, u2 dies → 3333 bp; day 2: at_risk 2, u1 dies
    // → 5000 bp, cum 8333; day 10: u3 exits CENSORED → hazard 0
    assert(got == Seq(
      (0L, 3L, 1L, 0L, 3333L, 3333L),
      (2L, 2L, 1L, 0L, 5000L, 8333L),
      (10L, 1L, 0L, 1L, 0L, 8333L)), got.toString)
  }

  test("conversionLag: purchase before the first view never converts; " +
       "lags land in their power-of-2 buckets with cumulative share") {
    val minNs = 60L * 1000000L * 1000L
    val rows = Seq(
      // u1: view then purchase 30 s later → lag 0 min → bucket 0
      (1L, "view", 0L), (1L, "purchase", minNs / 2),
      // u2: view then purchase 5 min later → bucket 3 (< 8)
      (2L, "view", 0L), (2L, "purchase", 5L * minNs),
      // u3: purchase BEFORE its only view → no conversion
      (3L, "purchase", 0L), (3L, "view", 10L * minNs))
    val d = java.nio.file.Files.createTempDirectory("graft_clag_")
    rows.toDF("user_id", "event_type", "ts")
      .write.mode("overwrite").parquet(d.resolve("events.parquet").toString)
    val got = Events.conversionLag(spark, d.toString)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0, 1L, 5000L, 5000L), (3, 1L, 5000L, 10000L)),
      got.toString)
  }

  test("interpJoin: interior events interpolate between hour anchors, " +
       "the tail holds the last anchor") {
    val secNs = 1000000L * 1000L
    // hour 0 anchor: mean(100c, 200c) = 150c; hour 1 anchor: 300c
    val rows = Seq(
      (1L, "a", 0L * secNs, 1.00),
      (2L, "a", 60L * secNs, 2.00),
      (3L, "a", 3600L * secNs, 3.00))
    val d = java.nio.file.Files.createTempDirectory("graft_interp_")
    rows.toDF("event_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(d.resolve("events.parquet").toString)
    val got = Events.interpJoin(spark, d.toString)
      .as[(Long, String, Long, Long, Option[Long], Long)].collect().toSeq
    // t=0: pure v0; t=60s: (150*3540 + 300*60) div 3600 = 152;
    // t=3600s is the last anchor's own hour -> hold 300
    assert(got == Seq(
      (1L, "a", 0L, 150L, Some(300L), 150L),
      (2L, "a", 60000000L, 150L, Some(300L), 152L),
      (3L, "a", 3600000000L, 300L, None, 300L)), got.toString)
  }

  test("watermarkSweep: a 50s-late event is dropped below a 60s " +
       "watermark and kept at or above it") {
    val secNs = 1000000L * 1000L
    // arrival order = event_id: id2 arrives after id1 but carries an
    // EARLIER event time (50 s late vs the running max of 100 s)
    val rows = Seq(
      (1L, "a", 100L * secNs),
      (2L, "a", 50L * secNs),
      (3L, "a", 200L * secNs))
    val d = java.nio.file.Files.createTempDirectory("graft_wm_")
    rows.toDF("event_id", "event_type", "ts")
      .write.mode("overwrite").parquet(d.resolve("events.parquet").toString)
    val got = Events.watermarkSweep(spark, d.toString)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 3L, 1L, 3333L), (1L, 3L, 1L, 3333L), (10L, 3L, 1L, 3333L),
      (60L, 3L, 0L, 0L), (300L, 3L, 0L, 0L)), got.toString)
  }

  test("hitsScores: a pure hub concentrates hub mass, its targets " +
       "split authority by in-degree") {
    // 10 customers -> ids mod 10; orders craft edges 0->1, 0->2, 3->1
    // (o_custkey % 10 -> o_orderkey % 10, self-loops excluded).
    // Hand-unrolled two rounds: a2 = {1: 1000, 2: 600},
    // h2 = {0: 1000, 3: 625} (integer (1000*s) div max at each step).
    val d = java.nio.file.Files.createTempDirectory("graft_hits_")
    (0 to 9).map(i => Tuple1(i.toLong)).toSeq.toDF("c_custkey")
      .write.mode("overwrite").parquet(d.resolve("customer.parquet").toString)
    Seq((0L, 1L), (0L, 2L), (3L, 1L))
      .map { case (s, t) => (s, t + 10L) } // orderkey%10 = t, unique keys
      .toDF("o_custkey", "o_orderkey")
      .write.mode("overwrite").parquet(d.resolve("orders.parquet").toString)
    val got = graft.etl.Crawl.hitsScores(spark, d.toString)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 0L, 1000L), (1L, 1000L, 0L), (2L, 600L, 0L),
      (3L, 0L, 625L)), got.toString)
  }

  test("bleuEval: clipping caps repeated-gram credit; identical pair " +
       "scores 10000; short docs are excluded") {
    // pair (0, 1): candidate "a a a b" vs ref "a b c" — clipped
    // 1-gram matches = min(3,1)[a] + min(1,1)[b] = 2 of 4 → 5000 bp;
    // 2-grams: cand {a a, a a, a b} ref {a b, b c} → clip(a b)=1 of 3
    // → 3333 bp; bleu2 = floor(sqrt(5000*3333)) = floor(4082.2) = 4082.
    // pair (2, 3): identical docs → 10000/10000/10000.
    // pair (4, 5): ref has 1 word → excluded.
    val d = java.nio.file.Files.createTempDirectory("graft_bleu_")
    Seq(
      (0L, "a a a b"), (1L, "a b c"),
      (2L, "x y z"), (3L, "x y z"),
      (4L, "p q r"), (5L, "p"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(d.resolve("documents.parquet").toString)
    val got = graft.etl.TextAnalysis.bleuEval(spark, d.toString)
      .select("doc_id", "ref_id", "n1_match", "p1_bp", "p2_bp", "bleu2_bp")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 1L, 2L, 5000L, 3333L, 4082L),
      (2L, 3L, 3L, 10000L, 10000L, 10000L)), got.toString)
  }

  test("rougeEval: recall divides by REFERENCE totals; f1 is the exact " +
       "integer harmonic mean of unigram precision/recall bp") {
    // same fixture as bleuEval. pair (0, 1): matches are symmetric
    // (m1 = 2, m2 = 1) but denominators flip to the ref side:
    // r1 = 20000/3 -> 6666 bp, r2 = 1 of 2 -> 5000 bp; p1 = 5000 bp,
    // f1 = (2*5000*6666) div 11666 = 5714. Identical pair (2, 3):
    // 10000 everywhere. (4, 5): ref has 1 word -> excluded.
    val d = java.nio.file.Files.createTempDirectory("graft_rouge_")
    Seq(
      (0L, "a a a b"), (1L, "a b c"),
      (2L, "x y z"), (3L, "x y z"),
      (4L, "p q r"), (5L, "p"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(d.resolve("documents.parquet").toString)
    val got = graft.etl.TextAnalysis.rougeEval(spark, d.toString)
      .select("doc_id", "ref_id", "n1_match", "r1_bp", "r2_bp", "f1_bp")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 1L, 2L, 6666L, 5000L, 5714L),
      (2L, 3L, 3L, 10000L, 10000L, 10000L)), got.toString)
  }

  test("tCloseness: a one-band class sits at half the two-band EMD " +
       "scale; a globally-proportioned class scores 0") {
    // global bands {0: 3 rows, 1: 3 rows}, N = 6, K = 2.
    // nation 0 / segment A: both rows in band 0 -> prefix |2*6 - 3*2| =
    // 6 -> t = 60000 div (1*2*6) = 5000 bp (breach at the 2000 cut);
    // segment B mirrors it in band 1 -> 5000. nation 1 / segment A:
    // one row per band = the global distribution exactly -> 0 bp.
    val d = java.nio.file.Files.createTempDirectory("graft_tclose_")
    Seq(
      (0L, "A", 0.0), (0L, "A", 500.0),
      (0L, "B", 1000.0), (0L, "B", 1500.0),
      (1L, "A", 0.0), (1L, "A", 1000.0))
      .toDF("c_nationkey", "c_mktsegment", "c_acctbal")
      .write.mode("overwrite").parquet(d.resolve("customer.parquet").toString)
    val got = graft.etl.Observability.tCloseness(spark, d.toString)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 4L, 5000L, 5000L, 2L, 4L),
      (1L, 1L, 2L, 0L, 0L, 0L, 0L)), got.toString)
  }

  test("chrfEval: identity pair scores 10000, disjoint pair 0 via the " +
       "guard, clipping caps repeated chars, whitespace is removed, " +
       "unpaired/short docs are excluded") {
    // pair (0,1) identical "abab" -> every precision/recall 10000;
    // pair (2,3) disjoint alphabets -> 4p+r = 0 guard -> 0;
    // pair (4,5): cand "a aa" -> "aaa" (whitespace delete), ref
    // "aabbbb": m1 = min(3,2) = 2, m2 = min(2,1) = 1, m3 = min(1,0) = 0
    //   p = (6666+5000+0) div 3 = 3888, r = (3333+2000+0) div 3 = 1777,
    //   chrf2 = (5*3888*1777) div (4*3888+1777) = 1993;
    // doc 6 has no ref; pair (8,9) has a <3-char side -> both excluded
    val d = java.nio.file.Files.createTempDirectory("graft_chrf_")
    Seq(
      (0L, "abab"), (1L, "ab ab"),
      (2L, "abcd"), (3L, "wxyz"),
      (4L, "a aa"), (5L, "aabbbb"),
      (6L, "abcdef"),
      (8L, "ab"), (9L, "abcd"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(d.resolve("documents.parquet").toString)
    val got = graft.etl.TextAnalysis.chrfEval(spark, d.toString)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq(
      (0L, 1L, 4L, 4L, 4L, 3L, 2L, 10000L, 10000L, 10000L),
      (2L, 3L, 4L, 4L, 0L, 0L, 0L, 0L, 0L, 0L),
      (4L, 5L, 3L, 6L, 2L, 1L, 0L, 3888L, 1777L, 1993L)), got.toString)
  }

  test("werEval: substitution/deletion/insertion counted at the word " +
       "level, identity is 0, insertions push wer past 10000, the " +
       "40-word slice truncates, unpaired/empty docs are excluded") {
    // (0,1) one substitution in 3 ref words -> 3333 bp;
    // (2,3) identical -> 0; (4,5) cand "a" vs ref "b c" -> dist 2,
    // wer 10000; (6,7) 4 cand words vs 1 ref word -> dist 3, wer
    // 30000 (beyond-ref insertions, standard WER > 1); doc 10 has no
    // ref; (12,13) empty cand -> excluded; (14,15): 41 identical
    // words slice to 40 -> dist 39 vs the 1-word ref
    val d = java.nio.file.Files.createTempDirectory("graft_wer_")
    Seq(
      (0L, "a b c"), (1L, "a x c"),
      (2L, "hello world"), (3L, "hello world"),
      (4L, "a"), (5L, "b c"),
      (6L, "a b c d"), (7L, "b"),
      (10L, "lonely"),
      (12L, ""), (13L, "ref"),
      (14L, Seq.fill(41)("w").mkString(" ")), (15L, "w"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(d.resolve("documents.parquet").toString)
    val got = graft.etl.TextAnalysis.werEval(spark, d.toString)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 1L, 3L, 3L, 1L, 3333L),
      (2L, 3L, 2L, 2L, 0L, 0L),
      (4L, 5L, 1L, 2L, 2L, 10000L),
      (6L, 7L, 4L, 1L, 3L, 30000L),
      (14L, 15L, 40L, 1L, 39L, 390000L)), got.toString)
  }

  test("int8Quant: truncating quantizer against the per-vector amax, " +
       "saturation only at |x| = amax, zero vector guarded, null " +
       "embedding excluded") {
    // [0.5, -1.0, 0.25]: x_bp [5000, -10000, 2500], amax 10000,
    // q [63, -127, 31] (trunc toward zero), e [5000, 0, 7500]
    val d = java.nio.file.Files.createTempDirectory("graft_i8_")
    Seq(
      (0L, Some(Seq(0.5f, -1.0f, 0.25f)), 1),
      (1L, Some(Seq(0.0f, 0.0f)), 2),
      (2L, None, 3))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(d.resolve("embeddings.parquet").toString)
    val got = graft.etl.Similarity.int8Quant(spark, d.toString)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 1L, 10000L, 12500L, 7500L, 1L),
      (1L, 2L, 1L, 0L, 0L, 0L)), got.toString)
  }

  test("rbo weights: 960 is the exact common denominator of 1/(d*2^d) " +
       "for d <= 5, and the CASE suffix sums match the definition") {
    // per-depth weights 960/(d*2^d) must all be integral...
    val perDepth = (1 to 5).map(d => (960.0 / (d * math.pow(2, d)), d))
    perDepth.foreach { case (w, d) =>
      assert(w == math.floor(w), s"depth $d weight $w not integral") }
    // ...and the operator's hard-coded suffix sums S(m) = sum_{d>=m} w_d
    val w = perDepth.map(_._1.toLong)
    val suffix = (0 until 5).map(m => w.drop(m).sum)
    assert(suffix == Seq(661L, 181L, 61L, 21L, 6L), suffix.toString)
    // perfect head-5 agreement = sum of d * w_d = 930 (tail mass 30)
    assert(w.zipWithIndex.map { case (x, i) => x * (i + 1) }.sum == 930L)
  }

  test("cmsFrequency: exact column matches independent counting, " +
       "estimates are one-sided (est >= exact), order is exact desc") {
    val d = java.nio.file.Files.createTempDirectory("graft_cms_")
    // word counts by construction: a=5, b=3, c=2, rest 1
    Seq((0L, "a a a b b c"), (1L, "a b c a d e"), (2L, "f g"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(d.resolve("documents.parquet").toString)
    val got = graft.etl.CorpusStats.cmsFrequency(spark, d.toString)
      .as[(String, Long, Long, Long)].collect().toSeq
    val exact = got.map(r => r._1 -> r._2).toMap
    assert(exact == Map("a" -> 5L, "b" -> 3L, "c" -> 2L, "d" -> 1L,
      "e" -> 1L, "f" -> 1L, "g" -> 1L), exact.toString)
    got.foreach { case (w, ex, est, over) =>
      assert(est >= ex && over == est - ex, s"$w: est $est < exact $ex") }
    assert(got.map(_._2) == got.map(_._2).sorted.reverse, got.toString)
  }

  test("cms_lookup: point estimates match a hand-built buffer through " +
       "the same static bucket hash (one-sided by construction)") {
    import graft.functions.CmsSketch
    import graft.functions.CmsSketchFunctions.{cmsLookup, cmsSketch}
    val corpus = Seq("a", "b", "a", "c", "a", "b")
    val got = corpus.toDF("word").agg(cmsSketch(col("word")).as("s"))
      .select(cmsLookup(col("s"), lit("a")), cmsLookup(col("s"), lit("b")),
        cmsLookup(col("s"), lit("c")), cmsLookup(col("s"), lit("zzz")))
      .as[(Long, Long, Long, Long)].head()
    val buf = new Array[Long](4 * 256)
    corpus.foreach { w =>
      (1 to 4).foreach(j => buf((j - 1) * 256 + CmsSketch.bucket(j, w)) += 1L) }
    def expect(w: String): Long =
      (1 to 4).map(j => buf((j - 1) * 256 + CmsSketch.bucket(j, w))).min
    assert(got == ((expect("a"), expect("b"), expect("c"), expect("zzz"))),
      got.toString)
    // one-sided: every estimate >= the exact count (0 for "zzz")
    assert(got._1 >= 3L && got._2 >= 2L && got._3 >= 1L && got._4 >= 0L)
  }

  test("evalSignificance: hand pairs — full-vs-half precision deltas " +
       "feed the deterministic Poisson replicates exactly") {
    val d = java.nio.file.Files.createTempDirectory("graft_sig_")
    // pair (0,1): sa = 2/4, sb = 2/2 -> delta -5000 (B wins);
    // pair (2,3): sa = 3/4, sb = 1/2 -> delta +2500 (A wins);
    // pair (4,5): candidate has 1 word -> excluded
    Seq((0L, "a b a b"), (1L, "a b"), (2L, "x x y z"), (3L, "x y z w"),
        (4L, "solo"), (5L, ""))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(d.resolve("documents.parquet").toString)
    val got = graft.etl.TextAnalysis.evalSignificance(spark, d.toString)
      .as[(Int, Long, Long, Boolean)].collect().toSeq
    assert(got.map(_._1) == (0 until 16), got.toString)
    // replicate weights recomputed through the same md5 draw
    val md = java.security.MessageDigest.getInstance("MD5")
    def cnt(id: Long, b: Int): Long = {
      val h = md.digest(s"$id:$b".getBytes("UTF-8"))
      val u = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      if (u < 1580030168L) 0L else if (u < 3160060337L) 1L
      else if (u < 3950075421L) 2L else if (u < 4213413783L) 3L
      else if (u < 4279248373L) 4L else 5L
    }
    got.foreach { case (b, nEff, sumW, aBetter) =>
      val c0 = cnt(0L, b); val c2 = cnt(2L, b)
      assert(nEff == c0 + c2, s"b=$b")
      assert(sumW == c0 * -5000L + c2 * 2500L, s"b=$b got $sumW")
      assert(aBetter == (sumW > 0), s"b=$b")
    }
  }

  test("HllSketch: hash64 replicates the SQL md5 analog; merge is " +
       "elementwise max; registers are partitioning-invariant; " +
       "estimate lands inside the band on known cardinality") {
    import graft.functions.{HllSketch, HllSketchAgg}
    import graft.functions.HllSketchFunctions.{hllEstimate, hllSketch}
    // hash64 bits == conv(substring(md5(w), 1, 16), 16, 10)
    val fromSql = spark.sql(
      "SELECT conv(substring(md5('spark'), 1, 16), 16, 10)")
      .head().getString(0)
    assert(java.lang.Long.compareUnsigned(HllSketch.hash64("spark"),
      java.lang.Long.parseUnsignedLong(fromSql)) == 0)
    // merge = elementwise max + serialization round-trip
    val agg = HllSketchAgg(org.apache.spark.sql.catalyst.expressions.Literal("x"))
    val b1 = agg.createAggregationBuffer(); b1(0) = 3; b1(5) = 1
    val b2 = agg.createAggregationBuffer(); b2(0) = 2; b2(5) = 4; b2(4095) = 7
    val m = agg.merge(b1, b2)
    assert(m(0) == 3 && m(5) == 4 && m(4095) == 7)
    assert(agg.deserialize(agg.serialize(m)).toSeq == m.toSeq)
    // registers identical across partitionings (merge-order invariance)
    val vals = (1 to 2000).map(i => s"v$i").toDF("w")
    val r1 = vals.coalesce(1).agg(hllSketch(col("w"))).as[Seq[Byte]].head()
    val r7 = vals.repartition(7).agg(hllSketch(col("w"))).as[Seq[Byte]].head()
    assert(r1 == r7)
    // estimate: 10k distinct sits in the linear-counting regime — well
    // inside the 10% verified band (assert 5% for slack vs the contract)
    val n = 10000
    val est = (1 to n).map(i => s"v$i").toDF("w")
      .agg(hllEstimate(hllSketch(col("w")))).as[Long].head()
    assert(math.abs(est - n) * 100 <= 5 * n, s"est=$est")
  }

  test("WordEdit.distance: identity 0, single sub/del/ins are 1, " +
       "whole-word equality only (no substring credit), blank-safe") {
    import graft.functions.WordEdit
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    assert(WordEdit.distance(u("the cat sat"), u("the cat sat")) == 0L)
    assert(WordEdit.distance(u("the cat sat"), u("the dog sat")) == 1L)
    assert(WordEdit.distance(u("the cat sat"), u("the cat")) == 1L)
    assert(WordEdit.distance(u("the cat"), u("the cat sat")) == 1L)
    // word-level, not char-level: 'cats' vs 'cat' is one substitution
    assert(WordEdit.distance(u("cats"), u("cat")) == 1L)
    // blanks dropped by the split (doubled spaces)
    assert(WordEdit.distance(u("a  b"), u("a b")) == 0L)
    assert(WordEdit.distance(u(""), u("a b c")) == 3L)
  }

  test("werInRow == werEval row-for-row at sf0.001 (the in-row DP " +
       "computes exactly the re-encoded byte levenshtein)") {
    val dir = "/root/testdata/sf0.001"
    val a = graft.etl.TextAnalysis.werEval(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val b = graft.etl.TextAnalysis.werInRow(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(a.nonEmpty && a == b,
      s"first drift: ${a.zip(b).find(p => p._1 != p._2)}")
  }

  test("cms_join_size == the hand-computed inner-product estimate at " +
       "sf0.001 (independent cell build via CmsSketch.bucket); the " +
       "estimate is one-sided high and exact_pairs is the true join " +
       "size") {
    import graft.functions.CmsSketch
    val dir = "/root/testdata/sf0.001"
    val liKeys = graft.Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").cast("string")).as[String].collect()
    val osKeys = graft.Tables(spark, dir, "orders")
      .select(col("o_orderkey").cast("string")).as[String].collect()
    def cells(keys: Array[String]): Array[Long] = {
      val c = new Array[Long](4 * 256)
      for (k <- keys; j <- 1 to 4) c((j - 1) * 256 + CmsSketch.bucket(j, k)) += 1L
      c
    }
    val (a, b) = (cells(liKeys), cells(osKeys))
    val est = (1 to 4).map { j =>
      (0 until 256).map(t => a((j - 1) * 256 + t) * b((j - 1) * 256 + t)).sum
    }.min
    val ca = liKeys.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val exact = osKeys.groupBy(identity).map { case (k, v) =>
      ca.getOrElse(k, 0L) * v.length }.sum
    val row = graft.etl.CorpusStats.cmsJoinSize(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].head()
    assert(row == ((liKeys.length.toLong, osKeys.length.toLong, exact, est,
      est - exact, 2L * liKeys.length * osKeys.length / 256,
      est - exact <= 2L * liKeys.length * osKeys.length / 256)), row.toString)
    assert(est >= exact, s"inner product must be one-sided high: $est < $exact")
  }

  test("KmvSketch: bottom-k is partitioning-invariant; un-full " +
       "sketches make estimate and common EXACT; full-sketch estimate " +
       "lands inside the band") {
    import graft.functions.KmvSketchFunctions.{kmvCommon, kmvEstimate, kmvSketch}
    // un-full: the sketch IS the set
    val small = Seq("a", "b", "c", "a").toDF("w")
      .agg(kmvSketch(col("w")).as("sk"))
      .select(size(col("sk")), kmvEstimate(col("sk")))
      .as[(Int, Long)].head()
    assert(small == ((3, 3L)), small.toString)
    // un-full intersection is exact: {a,b,c} ∩ {b,c,d} = 2
    val en = Seq("a", "b", "c").toDF("w").agg(kmvSketch(col("w")).as("a"))
    val fr = Seq("b", "c", "d").toDF("w").agg(kmvSketch(col("w")).as("b"))
    val common = en.crossJoin(fr)
      .select(kmvCommon(col("a"), col("b"))).as[Long].head()
    assert(common == 2L)
    // partitioning invariance at n >> k: identical sorted arrays
    val vals = (1 to 20000).map(i => s"v$i").toDF("w")
    val s1 = vals.coalesce(1).agg(kmvSketch(col("w"))).as[Seq[Long]].head()
    val s7 = vals.repartition(7).agg(kmvSketch(col("w"))).as[Seq[Long]].head()
    assert(s1.length == 1024 && s1 == s7)
    // full-sketch estimate: 20k distinct within 10% (contract is ~3%)
    val est = vals.agg(kmvEstimate(kmvSketch(col("w")))).as[Long].head()
    assert(math.abs(est - 20000L) * 10 <= 20000L, s"est=$est")
  }

  test("KmvSketch: merge of partial sketches is array-identical to the " +
       "direct bottom-k of the union at n >> k (lossless rollup)") {
    import graft.functions.KmvSketchFunctions.{kmvMerge, kmvSketch}
    val all = (1 to 30000).map(i => s"v$i")
    val (h1, h2) = all.splitAt(17000)
    val a = h1.toDF("w").agg(kmvSketch(col("w")).as("a"))
    val b = h2.toDF("w").agg(kmvSketch(col("w")).as("b"))
    val merged = a.crossJoin(b)
      .select(kmvMerge(col("a"), col("b"))).as[Seq[Long]].head()
    val direct = all.toDF("w").agg(kmvSketch(col("w"))).as[Seq[Long]].head()
    assert(merged == direct)
  }

  test("kmvNovelty: hand corpus — arrival-order halves, exact " +
       "union/difference, lossless-merge flag certain (un-full)") {
    val d = java.nio.file.Files.createTempDirectory("graft_kmvn_")
    // mid = max(3) div 2 = 1: snapshot A = docs 0-1 {a,b,c},
    // B = docs 2-3 {b,c,d,e} -> union 5, new = 2
    Seq((0L, "a b"), (1L, "b c"), (2L, "b c d"), (3L, "d e"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(d.resolve("documents.parquet").toString)
    val got = graft.etl.CorpusStats.kmvNovelty(spark, d.toString)
      .as[(Long, Long, Long, Long, Boolean, Boolean, Boolean)]
      .collect().toSeq
    assert(got == Seq((3L, 4L, 5L, 2L, true, true, true)), got.toString)
  }

  test("QdigestSketch: exact when un-compressed; compressed digest " +
       "stays within the guaranteed rank band under skew, " +
       "repartitioning, and merge; mass is conserved") {
    import graft.functions.QdigestSketchFunctions._
    import graft.functions.QdigestSketch
    // (1) n <= K: digest IS the histogram — quantiles exact
    val small = (1 to 100).map(_.toLong).toDF("v")
    val sEx = small.agg(qdigestSketch(col("v")).as("sk"))
      .select(qdigestQuantile(col("sk"), lit(5000)),
        qdigestQuantile(col("sk"), lit(9900)),
        qdigestN(col("sk"))).as[(Long, Long, Long)].head()
    assert(sEx == ((50L, 99L, 100L)), sEx.toString)
    // (2) 200k skewed values (Zipf-ish powers + a heavy spike at 7):
    // compression engages; every estimate is a valid ε-approx quantile
    val vals: Seq[Long] = (0 until 200000).map { i =>
      if (i % 3 == 0) 7L else (1L << (i % 14)) + i % 37
    }
    val sorted = vals.sorted
    val n = vals.length.toLong
    val slack = QdigestSketch.rankSlack(n)
    def bandOk(est: Long, qBp: Int): Boolean = {
      val target = math.max(1L, (qBp.toLong * n + 9999L) / 10000L)
      val ltc = sorted.count(_ < est).toLong
      val lec = sorted.count(_ <= est).toLong
      ltc < target + slack && lec >= target - slack
    }
    val df = vals.toDF("v")
    for (parts <- Seq(1, 7)) {
      val row = df.repartition(parts).agg(qdigestSketch(col("v")).as("sk"))
        .select(size(col("sk")), qdigestN(col("sk")),
          qdigestQuantile(col("sk"), lit(100)),
          qdigestQuantile(col("sk"), lit(2500)),
          qdigestQuantile(col("sk"), lit(5000)),
          qdigestQuantile(col("sk"), lit(9000)),
          qdigestQuantile(col("sk"), lit(9999)))
        .as[(Int, Long, Long, Long, Long, Long, Long)].head()
      assert(row._1 <= 6 * QdigestSketch.K,
        s"digest exceeded the 3k-node size bound: ${row._1 / 2} nodes")
      assert(row._2 == n, s"mass not conserved: ${row._2}")
      for ((est, q) <- Seq(row._3 -> 100, row._4 -> 2500, row._5 -> 5000,
          row._6 -> 9000, row._7 -> 9999))
        assert(bandOk(est, q), s"parts=$parts q=$q est=$est out of band")
    }
    // (3) heavy single value straddling the target: p50 must report the
    // spike (two-sided band; a one-sided |rank-target| check would fail)
    val heavy = (Seq.fill(180000)(7L) ++ (1 to 20000).map(_.toLong)).toDF("v")
    val h = heavy.repartition(5).agg(qdigestSketch(col("v")).as("sk"))
      .select(qdigestQuantile(col("sk"), lit(5000))).as[Long].head()
    assert(h == 7L, s"p50 of the 90%-mass spike must be the spike: $h")
    // (4) merge: three part digests folded = band-valid global answers
    val parts3 = Seq(vals.slice(0, 70000), vals.slice(70000, 140000),
      vals.slice(140000, 200000))
    val sks = parts3.map(p =>
      p.toDF("v").agg(qdigestSketch(col("v"))).as[Seq[Long]].head())
    def ad(s: Seq[Long]) =
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(s.toArray)
    val merged = sks.map(ad).reduce(QdigestSketch.mergeSketches)
    assert(QdigestSketch.total(merged) == n)
    for (q <- Seq(2500, 5000, 9000))
      assert(bandOk(QdigestSketch.quantile(merged, q), q),
        s"merged digest out of band at q=$q")
  }

  test("rboInRow == rboOverlap row-for-row (the suffix-weight identity: " +
       "in-row prefix intersects total exactly the keyed S(max) sum)") {
    val dir = "/root/testdata/sf0.001"
    val keyed = graft.etl.TfIdf.rboOverlap(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    val inrow = graft.etl.TfIdf.rboInRow(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(keyed.nonEmpty && inrow == keyed,
      s"inrow=$inrow\nkeyed=$keyed")
  }

  test("sketches survive a parquet round trip and merge across runs — " +
       "the stored-snapshot production story (today's sketch table + " +
       "tomorrow's batch == one direct build)") {
    import graft.functions.HllSketchFunctions.hllSketch
    import graft.functions.KmvSketchFunctions.{kmvMerge, kmvSketch}
    import graft.functions.QdigestSketchFunctions.{qdigestMerge, qdigestN, qdigestSketch}
    val store = java.nio.file.Files.createTempDirectory("graft_snap_")
      .resolve("sketches.parquet").toString
    val day1 = (1 to 3000).map(i => (s"w${i % 700}", (i % 500).toLong))
    val day2 = (1 to 2000).map(i => (s"w${300 + i % 900}", (200 + i % 800).toLong))
    // run 1: build and STORE the sketch row
    day1.toDF("word", "len")
      .agg(kmvSketch(col("word")).as("kmv"), hllSketch(col("word")).as("hll"),
        qdigestSketch(col("len")).as("qd"))
      .write.mode("overwrite").parquet(store)
    // run 2 (a fresh lineage): read the snapshot, merge today's batch
    val prev = spark.read.parquet(store)
    val today = day2.toDF("word", "len")
      .agg(kmvSketch(col("word")).as("kmv2"), hllSketch(col("word")).as("hll2"),
        qdigestSketch(col("len")).as("qd2"))
    val merged = prev.crossJoin(today).select(
      kmvMerge(col("kmv"), col("kmv2")).as("kmv_u"),
      zip_with(col("hll"), col("hll2"), (a, b) => greatest(a, b)).as("hll_u"),
      qdigestMerge(col("qd"), col("qd2")).as("qd_u"))
    val direct = (day1 ++ day2).toDF("word", "len")
      .agg(kmvSketch(col("word")).as("kmv_d"), hllSketch(col("word")).as("hll_d"),
        qdigestSketch(col("len")).as("qd_d"))
    val row = merged.crossJoin(direct).select(
      (col("kmv_u") === col("kmv_d")).as("kmv_eq"),
      (col("hll_u") === col("hll_d")).as("hll_eq"),
      qdigestN(col("qd_u")).as("qd_mass"))
      .as[(Boolean, Boolean, Long)].head()
    // KMV and HLL merges are lossless — array-identical to the direct
    // build even THROUGH storage; q-digest conserves mass exactly (its
    // band guarantee is pinned elsewhere — contents are merge-order-
    // dependent by design)
    assert(row == ((true, true, (day1.size + day2.size).toLong)), row.toString)
  }

  test("kmvOverlap: hand corpus — exact overlap counts per lang pair, " +
       "zero-overlap pairs present, all flags certain (un-full)") {
    val d = java.nio.file.Files.createTempDirectory("graft_kmv_")
    Seq((0L, "en", "a b c b"), (1L, "fr", "b c d"), (2L, "de", "x"))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(d.resolve("documents.parquet").toString)
    val got = graft.etl.CorpusStats.kmvOverlap(spark, d.toString)
      .as[(String, String, Long, Long, Long, Boolean, Boolean)]
      .collect().toSeq
    assert(got == Seq(
      ("de", "en", 1L, 3L, 0L, true, true),
      ("de", "fr", 1L, 3L, 0L, true, true),
      ("en", "fr", 3L, 3L, 2L, true, true)), got.toString)
  }

  test("hllUnion: hand corpus — per-lang merge equals the direct " +
       "build (flag true), exact distinct counted across langs") {
    val d = java.nio.file.Files.createTempDirectory("graft_hllu_")
    // vocab: en {a,b,c}, fr {b,c,d} -> 4 distinct overall, 2 langs
    Seq((0L, "en", "a b c b"), (1L, "fr", "b c d"), (2L, "fr", ""))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(d.resolve("documents.parquet").toString)
    val got = graft.etl.CorpusStats.hllUnion(spark, d.toString)
      .as[(Long, Long, Boolean, Boolean)].collect().toSeq
    assert(got == Seq((2L, 4L, true, true)), got.toString)
  }

  test("zipfBands: hand corpus — octave by bit length, per-band " +
       "extremes and exact bp shares") {
    val d = java.nio.file.Files.createTempDirectory("graft_zipf_")
    // counts: a=5 (band 2), b=3, c=2 (band 1), d/e/f/g=1 (band 0)
    Seq((0L, "a a a b b c"), (1L, "a b c a d e"), (2L, "f g"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(d.resolve("documents.parquet").toString)
    val got = graft.etl.CorpusStats.zipfBands(spark, d.toString)
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
    // total mass 14: shares 40000/14=2857, 50000/14=3571 (x2)
    assert(got == Seq((0, 4L, 4L, 1L, 1L, 2857L), (1, 2L, 5L, 2L, 3L, 3571L),
      (2, 1L, 5L, 5L, 5L, 3571L)), got.toString)
  }

  test("wassersteinDrift: hand CDFs — half-at-10/half-at-20 vs " +
       "point-at-30 transports exactly 15 chars, symmetric both ways") {
    val d = java.nio.file.Files.createTempDirectory("graft_w1_")
    Seq((0L, "A", 10L), (1L, "A", 20L), (2L, "B", 30L))
      .toDF("doc_id", "lang", "n_chars")
      .write.mode("overwrite").parquet(d.resolve("documents.parquet").toString)
    val got = graft.etl.CorpusStats.wassersteinDrift(spark, d.toString)
      .as[(String, Long, Long, Long)].collect().toSeq
    // W1(A vs rest) = |0.5-0|*10 + |1-0|*10 = 15 -> 15000 thousandths;
    // W1(B vs rest) is the same distance from the other side
    assert(got == Seq(("A", 2L, 1L, 15000L), ("B", 1L, 2L, 15000L)),
      got.toString)
  }

  test("giniConcentration: rank formula matches the Lorenz definition " +
       "(x=(1,3) -> 0.25), single-source slice scores 0") {
    val d = java.nio.file.Files.createTempDirectory("graft_gini_")
    (Seq.fill(1)(("A", "s1")) ++ Seq.fill(3)(("A", "s2")) ++
      Seq.fill(5)(("B", "s9")))
      .zipWithIndex.map { case ((l, s), i) => (i.toLong, l, s) }
      .toDF("doc_id", "lang", "source")
      .write.mode("overwrite").parquet(d.resolve("documents.parquet").toString)
    val got = graft.etl.CorpusStats.giniConcentration(spark, d.toString)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("A", 2L, 4L, 2500L), ("B", 1L, 5L, 0L)),
      got.toString)
  }

  test("unigramSampling: w34 = isqrt(c*isqrt(c)) is the exact 3/4 " +
       "power at perfect fourth powers, ppm shares sum from the " +
       "composed floors") {
    val d = java.nio.file.Files.createTempDirectory("graft_ns_")
    // counts: a=16 (16^(3/4)=8 exactly), b=2 (floor-composed -> 1), c=1
    Seq((0L, (Seq.fill(16)("a") ++ Seq("b", "b", "c")).mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(d.resolve("documents.parquet").toString)
    val got = graft.etl.CorpusStats.unigramSampling(spark, d.toString)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 16L, 8L, 800000L), ("b", 2L, 1L, 100000L),
      ("c", 1L, 1L, 100000L)), got.toString)
  }

  test("GramClip.clipped: clipping at the ref count, order-sensitive " +
       "grams, short sides are 0, non-BMP chars count as ONE code " +
       "point (Spark substring / DuckDB substr semantics)") {
    import graft.functions.GramClip.clipped
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    assert(clipped(u("ab"), u("ab"), 1) == 2L)
    assert(clipped(u("aaa"), u("a"), 1) == 1L)      // clip at ref count
    assert(clipped(u("ab"), u("ba"), 2) == 0L)      // grams are ordered
    assert(clipped(u("ab"), u("ba"), 1) == 2L)
    assert(clipped(u("ab"), u("abc"), 3) == 0L)     // cand too short
    assert(clipped(u("😀😀a"), u("😀"), 1) == 1L)
    assert(clipped(u("a😀b"), u("a😀b"), 3) == 1L)
  }

  test("GramClip.clippedWords: whole-word grams (no substring credit), " +
       "blank-safe split, bigram order matters, clip at ref count") {
    import graft.functions.GramClip.clippedWords
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    assert(clippedWords(u("the cat"), u("the cat"), 2) == 1L)
    assert(clippedWords(u("the cat"), u("the cattle"), 1) == 1L) // no prefix credit
    assert(clippedWords(u("cat the"), u("the cat"), 2) == 0L)   // order matters
    assert(clippedWords(u("a a a"), u("a b"), 1) == 1L)         // ref-clipped
    assert(clippedWords(u("a  b"), u("a b"), 2) == 1L)          // blanks dropped
    assert(clippedWords(u("a"), u("a b"), 2) == 0L)             // short side
  }

  test("apEval: contiguous relevant head scores 10000, zero-relevant " +
       "term guards to 0, R counts ALL relevant docs") {
    // 'spark': docs 0,1 are relevant (tf>=3) and outrank doc 2
    // (saturating tf) -> AP = (prec@1 + prec@2)/2 = 1 -> 10000 bp,
    // sum_prec_x2520 = 2520 + 2520; 'window': present but never
    // tf>=3 -> n_rel = 0 -> guarded 0
    val d = java.nio.file.Files.createTempDirectory("graft_ap_")
    Seq((0L, "spark spark spark"), (1L, "spark spark spark spark"),
      (2L, "spark pad"), (3L, "window pad pad"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(d.resolve("documents.parquet").toString)
    val got = graft.etl.TfIdf.apEval(spark, d.toString)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("spark", 2L, 2L, 5040L, 10000L),
      ("window", 0L, 0L, 0L, 0L)), got.toString)
  }

  test("CmsSketch: bucket replicates the SQL md5 analog exactly; " +
       "merge is elementwise-associative; the aggregate's cells equal " +
       "the relational groupBy build") {
    import graft.functions.{CmsSketch, CmsSketchAgg}
    // bucket == conv(substring(md5(concat(j, word)), 1, 8), 16, 10) % 256
    val fromSql = spark.sql(
      "SELECT CAST(conv(substring(md5(concat('2', 'spark')), 1, 8), 16, 10) " +
        "AS BIGINT) % 256").collect().head.getLong(0)
    assert(CmsSketch.bucket(2, "spark") == fromSql.toInt)
    // merge associativity on hand buffers
    val agg = CmsSketchAgg(org.apache.spark.sql.catalyst.expressions.Literal("x"))
    def buf(pairs: (Int, Long)*): Array[Long] = {
      val b = agg.createAggregationBuffer()
      pairs.foreach { case (i, v) => b(i) = v }; b
    }
    val m = agg.merge(buf(0 -> 1L, 5 -> 2L), buf(5 -> 3L, 1023 -> 4L))
    assert(m(0) == 1L && m(5) == 5L && m(1023) == 4L)
    // round-trip serialization
    assert(agg.deserialize(agg.serialize(m)).toSeq == m.toSeq)
    // aggregate cells == the relational build (streamingCmsCells core)
    import graft.functions.CmsSketchFunctions.cmsSketch
    val words = Seq("a", "b", "a", "c", "a", "b").toDF("word")
    val fromAgg = words.agg(cmsSketch(col("word")).as("cells"))
      .select(posexplode(col("cells")))
      .select(expr("CAST(pos div 256 + 1 AS BIGINT)").as("rw"),
        (col("pos") % 256).cast("long").as("bucket"), col("col").as("cell"))
      .filter(col("cell") > 0)
      .as[(Long, Long, Long)].collect().toSet
    val fromGroupBy = graft.streaming.StreamingOps.streamingCmsCells(words)
      .select(col("rw").cast("long"), col("bucket").cast("long"), col("cell"))
      .as[(Long, Long, Long)].collect().toSet
    assert(fromAgg == fromGroupBy, s"agg=$fromAgg groupBy=$fromGroupBy")
  }

  test("modularity: a single-community graph scores exactly 0 (the " +
       "classic null: 4m*m - (2m)^2), degree_sum = 2*intra = 2m") {
    // identical labels everywhere -> every labeled edge is intra;
    // positive-heavy embeddings cluster in one sign bucket so the
    // mutual-kNN graph has edges
    val d = java.nio.file.Files.createTempDirectory("graft_mod_")
    val vecs = (0L until 8L).map { i =>
      (i, Seq.tabulate(8)(j => 0.5f + 0.01f * (i + j).toFloat), 7)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(d.resolve("embeddings.parquet").toString)
    val got = graft.etl.GraphCuration.modularity(spark, d.toString)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.size == 1, got.toString)
    val (label, _, intra, degSum, m, q) = got.head
    assert(label == 7L && m > 0, got.toString)
    assert(intra == m && degSum == 2 * m && q == 0L, got.toString)
  }

  test("adaptiveBits: floor 3 at the verified scale, grows as " +
       "ceil(log2(n/1000)), caps at 12") {
    import graft.etl.GraphCuration.adaptiveBits
    // the verified-config floor: any corpus up to 8k vectors gets the
    // oracle-matched 8-cell blocking
    assert(Seq(0L, 1L, 500L, 1000L, 8000L).map(adaptiveBits(_)).forall(_ == 3))
    assert(adaptiveBits(8001) == 4)
    assert(adaptiveBits(16000) == 4)
    assert(adaptiveBits(50000) == 6)   // the measured 10x fix (BASELINE.md)
    assert(adaptiveBits(1000000) == 10)
    assert(adaptiveBits(Long.MaxValue) == 12) // production cap, 4096 cells
    // monotone in n: growing a corpus never shrinks the cell count
    val curve = Seq(1L, 1000L, 10000L, 100000L, 10000000L, 1000000000L)
      .map(adaptiveBits(_))
    assert(curve == curve.sorted, curve.toString)
  }

  test("gopherPass: the streaming gate's verdict equals the compiled " +
       "gopher_pass kernel on astral-plane words (code-point lengths)") {
    import graft.etl.TextAnalysis
    import graft.functions.QualityKernelFunctions.gopherPassF
    // 62 words, every rule but mean word length clearly met; each w_i
    // carries five U+1F600, so the mean is 476/62 ≤ 10 in code points
    // (Spark's `length`) but 776/62 > 10 in UTF-16 units
    val emoji = new String(Character.toChars(0x1F600)) * 5
    val text = "the and " + (0 until 60).map(i => s"w$i$emoji").mkString(" ")
    val kernel = Seq(text).toDF("text").select(gopherPassF(col("text")))
      .as[Boolean].head()
    assert(kernel, "gopher_pass counts code points: this text passes")
    assert(TextAnalysis.gopherPass(text) == kernel,
      "the streaming gate diverged from the batch kernel")
  }

  test("RangeJoin.bandCount: band edges are inclusive, bucket-boundary " +
       "neighbors are found via the ±1 fanout, near-misses die in the " +
       "post-filter, other keys excluded") {
    import graft.etl.RangeJoin
    val W = RangeJoin.BandUs
    // event 1 (k=7) at e1 = 10W−1, last µs of bucket 9 → probes 8,9,10
    val e1 = 10L * W - 1
    // event 3 (k=6) at 10W, first µs of bucket 10 → probes 9,10,11
    val e3 = 10L * W
    val events = Seq((1L, 7L, e1), (2L, 8L, 5L * W), (3L, 6L, e3))
      .toDF("event_id", "k", "e_us")
    val orders = Seq(
      (7L, e1 - W),       // exact lower edge, bucket 8: the −1 probe finds it
      (7L, e1 - W - 1),   // bucket 8 too, but 1µs out → post-filter kills
      (7L, e1),           // same instant, same bucket
      (7L, e1 + W),       // exact upper edge, bucket 10: the +1 probe finds it
      (9L, e1),           // wrong key → excluded
      (8L, 5L * W + 1),   // event 2's single neighbor
      (6L, 11L * W),      // bucket 11 via +1 probe, diff exactly W → in
      (6L, 12L * W - 1))  // bucket 11 too, diff 2W−1 → post-filter kills
      .toDF("k", "o_us")
    val got = RangeJoin.bandCount(events, orders)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 1L, 3L -> 1L), got.toString)
  }

  test("moments_profile == BigInt hand-computation at sf0.001 (floor " +
       "mean, binomial-free direct central sums, staged b1 division); " +
       "kurtosis sits in the platykurtic band for every lang") {
    val dir = "/root/testdata/sf0.001"
    val lens = graft.Tables.documents(spark, dir)
      .select(col("lang"), length(col("text")).cast("long"))
      .as[(String, Long)].collect()
    val want = lens.groupBy(_._1).map { case (lang, rows) =>
      val xs = rows.map(r => BigInt(r._2))
      val n = BigInt(xs.length)
      val mu = xs.sum / n // floor mean, matches `div`
      def m(k: Int) = xs.map(x => (x - mu).pow(k)).sum
      val (m2, m3, m4) = (m(2), m(3), m(4))
      val kurt = (10000 * n * m4) / (m2 * m2)
      val skewSign = m3.signum
      val b1x100 = (100 * n * ((m3 * m3) / m2)) / (m2 * m2)
      lang -> ((n.toLong, mu.toLong, m2.toLong, kurt.toLong,
        skewSign, b1x100.toLong))
    }
    val got = graft.etl.CorpusStats.momentsProfile(spark, dir)
      .as[(String, Long, Long, Long, Long, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got == want, s"got=$got\nwant=$want")
    got.values.foreach { case (_, _, _, kurt, _, _) =>
      assert(kurt > 10000 && kurt < 30000,
        s"kurtosis out of the sane band for synthetic lengths: $kurt")
    }
  }

  test("llr_collocations == a from-scratch G² computation at sf0.001 " +
       "(independent bigram tally, 2x2 contingency cells, double " +
       "arithmetic in the same shape); G² is non-negative") {
    val dir = "/root/testdata/sf0.001"
    val bigrams = graft.Tables.documents(spark, dir)
      .select(explode(graft.etl.Shingles.shingleArray(col("text"), 2)))
      .as[String].collect()
      .map { bg => val i = bg.indexOf(' '); (bg.substring(0, i), bg.substring(i + 1)) }
    val c12 = bigrams.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val c1 = bigrams.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val c2 = bigrams.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val n = bigrams.length.toLong
    def g2(w1: String, w2: String): Double = {
      val (k11, r, c) = (c12((w1, w2)), c1(w1), c2(w2))
      def t(k: Long, rt: Long, ct: Long): Double =
        if (k == 0) 0.0 else k * math.log((k.toDouble * n) / (rt.toDouble * ct))
      val raw = 2 * (t(k11, r, c) + t(r - k11, r, n - c) +
        t(c - k11, n - r, c) + t(n - r - c + k11, n - r, n - c))
      BigDecimal(raw).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = graft.etl.TextAnalysis.llrCollocations(spark, dir)
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(got.length == 20, got.length.toString)
    got.foreach { case (w1, w2, k, r, c, llr) =>
      assert(k == c12((w1, w2)) && r == c1(w1) && c == c2(w2),
        s"counts drifted for ($w1,$w2)")
      assert(math.abs(llr - g2(w1, w2)) < 5e-4,
        s"llr($w1,$w2): $llr != ${g2(w1, w2)}")
      assert(llr >= 0.0, s"G² must be non-negative: $llr")
    }
    // the list is the global top-20: no excluded pair with c12 >= 5
    // scores above the list's minimum
    val floor = got.map(_._6).min
    val inList = got.map(t => (t._1, t._2)).toSet
    c12.filter(_._2 >= 5).keys.filterNot(inList).foreach { case (w1, w2) =>
      assert(g2(w1, w2) <= floor + 5e-4,
        s"excluded pair ($w1,$w2) scores ${g2(w1, w2)} above floor $floor")
    }
  }

  test("benford_deviation == hand-tallied leading digits of integer " +
       "cents at sf0.001; shares sum to ~10000 bp and every digit row " +
       "is present") {
    val dir = "/root/testdata/sf0.001"
    val cents = graft.Tables(spark, dir, "orders")
      .select(round(col("o_totalprice") * 100).cast("long"))
      .as[Long].collect()
    val byDigit = cents.groupBy(_.toString.head.asDigit)
      .map { case (d, v) => d -> v.length.toLong }
    val total = cents.length.toLong
    val benford = Map(1 -> 3010L, 2 -> 1761L, 3 -> 1249L, 4 -> 969L,
      5 -> 792L, 6 -> 669L, 7 -> 580L, 8 -> 512L, 9 -> 458L)
    val got = graft.etl.Observability.benfordDeviation(spark, dir)
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq == (1 to 9), got.mkString(","))
    got.foreach { case (d, n, share, bbp, dev) =>
      assert(n == byDigit(d), s"digit $d count: $n != ${byDigit(d)}")
      assert(share == 10000 * n / total, s"digit $d share")
      assert(bbp == benford(d) && dev == share - bbp, s"digit $d dev")
    }
    val shareSum = got.map(_._3).sum
    assert(shareSum > 9990 && shareSum <= 10000,
      s"floor shares must sum just under 10000 bp: $shareSum")
  }

  test("paragraphDedup: first occurrence wins globally (later doc AND " +
       "later position drop), partial tails segment, reassembly keeps " +
       "order") {
    val w = (1 to 10).map(i => s"w$i").mkString(" ") // one full paragraph
    val u = (1 to 10).map(i => s"u$i").mkString(" ")
    val df = Seq(
      // doc 1: [w..] [u..] [tail a b c]
      (1L, s"$w $u a b c"),
      // doc 2: [w..] again (cross-doc repeat) + its own tail
      (2L, s"$w x y"),
      // doc 3: [u..] [u..] — within-doc repeat, first copy survives
      (3L, s"$u $u"),
      // doc 4: tail-only doc, unique
      (4L, "solo words here")).toDF("doc_id", "text")
    val got = Dedup.paragraphDedupFrom(df)
      .select("doc_id", "n_paras", "n_kept", "n_dropped", "clean_text")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, 3L, 0L, s"$w $u a b c")),
      s"doc 1 owns every first occurrence: ${got(1L)}")
    assert(got(2L) == ((2L, 2L, 1L, 1L, "x y")),
      s"doc 2 must lose the repeated full window, keep its tail: ${got(2L)}")
    assert(got(3L) == ((3L, 2L, 0L, 2L, "")),
      s"doc 3 repeats doc 1's window twice — both drop: ${got(3L)}")
    assert(got(4L) == ((4L, 1L, 1L, 0L, "solo words here")),
      s"unique tail-only doc passes through: ${got(4L)}")
    // re-running on the reconstructed survivors drops nothing further
    // (drop-only semantics; exact idempotence holds when re-segmentation
    // boundaries realign, as they do here)
    val again = Dedup.paragraphDedupFrom(
      Dedup.paragraphDedupFrom(df).filter(length(col("clean_text")) > 0)
        .select(col("doc_id"), col("clean_text").as("text")))
      .agg(sum("n_dropped")).as[Long].head()
    assert(again == 0L, s"paragraph dedup must be idempotent: $again")
  }

  test("paragraphSweep: per-width instance/distinct counts on a hand " +
       "fixture; paragraphAttribution: dropped copies credited to the " +
       "(winner_source, loser_source) edge") {
    val w = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, w, "A"),              // owns w (earliest doc)
      (2L, s"$w $w", "B"),       // repeats w twice -> 2 copies lost to A
      (3L, w, "A"))              // repeats w once -> within-A edge
      .toDF("doc_id", "text", "source")
    // k=5: w splits into 2 distinct half-windows, 4 total copies each;
    // k=10: one distinct window, 4 copies
    val sweep = Dedup.paragraphSweepFrom(
      df.select(col("doc_id"), col("text")), Seq(5, 10))
      .select("k", "n_paras", "n_distinct", "n_dropped")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(sweep == Set((5L, 8L, 2L, 6L), (10L, 4L, 1L, 3L)),
      s"sweep counts: $sweep")
    val attr = Dedup.paragraphAttributionFrom(df)
      .as[(String, String, Long)].collect().toSet
    assert(attr == Set(("A", "B", 2L), ("A", "A", 1L)),
      s"attribution edges: $attr")
  }
}
