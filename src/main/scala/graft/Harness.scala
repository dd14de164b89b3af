package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the timing and dump mains (Bench, TimeQuery, ScaleCheck,
  * Verify, PlanDump) share: the name check, the between-query scrub,
  * the noop-sink materialization, the GC settle and the rep loop.
  */
object Harness {

  /** Fail before any work when a name is not a `SparkEntry.queries`
    * key (`extra` admits a caller's own pseudo-queries). A typo used to
    * surface as a NoSuchElementException mid-run, after earlier names
    * had already run and printed (TimeQuery, ADVICE r13; PlanPeek), or
    * to filter everything away and report success on an empty run
    * (Verify's "all dumped queries succeeded", Bench's `total 0`).
    */
  def requireKnown(names: Iterable[String], extra: Set[String] = Set.empty): Unit = {
    val unknown = names.filterNot(n => SparkEntry.queries.contains(n) || extra(n))
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} — " +
        "names must match SparkEntry.queries keys")
  }

  /** Release EVERYTHING a query may have pinned in the block manager:
    * clearCache() only empties the SQL CacheManager (Dataset.persist/
    * cache); `localCheckpoint()` blocks — the fixpoint queries' lineage
    * rule — live at the RDD level and survive it. Without this scrub a
    * whole-surface loop accumulates checkpoint blocks, and queries that
    * happen to run after the crawl/dedup fixpoints (alphabetically:
    * cube_sales right after crawl_*) recorded 20×-steady-state spikes
    * in BENCH_r05 from the resulting memory/GC pressure.
    *
    * Unless `keepMemo`, the session memos go too (`Memos.clearAll()`):
    * reps over a warm memo (components closure, LSH pairs,
    * quality-train artifact) would time only the downstream aggregate
    * (the CLAUDE.md warm-memo trap; the shared frame is the production
    * shape — measured in BASELINE.md rounds 13/17), so isolated pricing
    * pays the full build each rep.
    */
  def scrub(spark: SparkSession, keepMemo: Boolean): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    if (!keepMemo) graft.etl.Memos.clearAll()
  }

  /** Materialize every output column of `df`, defeating the two ways
    * `count()` lies about map-only queries: Catalyst prunes unreferenced
    * project columns and eliminates sorts under a bare count, so a
    * pure-projection query (url_slug, text_normalize, ...) degenerates
    * to a parquet-footer row count. The noop sink consumes each row
    * fully (all columns evaluated, codegen exercised) without write I/O
    * skewing the timing.
    */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** GC-weather control for timed reps: a full collection + brief
    * settle drains the garbage the cold rep (and earlier queries) left
    * behind, so a concurrent GC cycle doesn't land mid-rep. BENCH_r09
    * recorded token_chunk at 6.2s (steady 0.8s) because BOTH of its
    * min-of-2 reps absorbed collections triggered by neighbors' heaps.
    */
  def settle(): Unit = { System.gc(); Thread.sleep(100) }

  /** Wall seconds of one `body`, after its own scrub: each rep pays its
    * own persists (and, unless `keepMemo`, its own memo builds).
    */
  def timed(spark: SparkSession, keepMemo: Boolean)(body: => Unit): Double = {
    scrub(spark, keepMemo)
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** The rep loop: `reps` [[timed]] runs of `body`, every sample in run
    * order. Callers pick the statistic (Bench the min, ScaleCheck the
    * median or min).
    */
  def timedReps(spark: SparkSession, reps: Int, keepMemo: Boolean)(body: => Unit): Seq[Double] =
    Seq.fill(reps)(timed(spark, keepMemo)(body))

  /** A fresh temp directory, deleted recursively at JVM exit. Its users
    * write files that outlive every in-run clear and would otherwise
    * fill /tmp over repeated runs: Fixpoint's fallback checkpoint dir,
    * TimeQuery's instrumented checkpoint dir (the final rep's memoized
    * checkpoint files — clears happen at rep START), and
    * StreamStateCheck's pair dumps and stream checkpoints (multi-GB at
    * the 30×/100× tiers, ADVICE r15).
    */
  def tempDirRemovedOnExit(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(d)))
    d.toString
  }

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively)); f.delete(); ()
  }
}
