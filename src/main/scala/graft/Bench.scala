package graft

import org.apache.spark.sql.SparkSession

object Bench {
  /** Extract the flat `"queries":{"name":sec,...}` map from a prior
    * BENCH.json without a JSON dependency — input to the outlier rerun
    * guard. Tolerates any leading fields (metric, errors, reran);
    * returns empty on missing/malformed input (guard disabled).
    */
  private[graft] def parsePriorQueries(txt: String): Map[String, Double] = {
    val qsec = txt.indexOf("\"queries\":{")
    if (qsec < 0) Map.empty
    else {
      val end = txt.indexOf('}', qsec)
      if (end < 0) Map.empty
      else {
        val body = txt.substring(qsec + 11, end)
        """"([A-Za-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional filter for local iteration (comma-separated names);
    // unset = the full driver-contract run.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    Harness.requireKnown(only)
    val spark = GraftSession.local()
    // Warmup: pay one-time JVM/codegen/parquet-footer costs outside the
    // timed loop so they don't land on whichever query runs first.
    // A warmup failure is NOT swallowed silently: a broken table read
    // must be attributed here, not to whichever timed query fails
    // first (the timed loop fails loudly on its own).
    try {
      Tables.names.foreach(t => Tables(spark, sfDir, t).count())
      SparkEntry.queries.get("q1_agg").foreach(_(spark, sfDir).count())
    } catch {
      case e: Throwable =>
        System.err.println(s"BENCH WARMUP FAIL: ${e.getClass.getName}: ${e.getMessage}")
    }
    // SPARK_GRAFT_KEEP_MEMO=1 (round 18, VERDICT r17 item 2): keep the
    // session memos WARM across the whole run — the full-surface
    // deployment shape, where one session computes the closure / pair
    // frame / trainer artifact once and every consumer reads it. The
    // default (unset) stays the isolated per-query pricing the driver
    // bench contract requires.
    val keepMemo = sys.env.get("SPARK_GRAFT_KEEP_MEMO").contains("1")
    def scrub(): Unit = Harness.scrub(spark, keepMemo)
    // One warm execution per query, then the timed run: the first
    // execution pays Janino/JIT compilation of the generated code
    // (measured 5-30s spikes vs 0.5-1.5s steady state) — compile cost,
    // not query throughput. Timed value = steady-state wall seconds;
    // the cold (first-rep) seconds are kept as a separate map in the
    // file output so regressions in compile cost stay visible too.
    // A query that throws is a FAILURE, not a fast run: r7 recorded 20
    // analysis-failing queries as 0.05-0.35s "times" because the old
    // catch-all here discarded the exception. Failures now land in an
    // `errors` map (name → exception class+message), are excluded from
    // the timings, printed to stderr as they happen, and counted in the
    // final summary line so the driver's tail capture always shows them.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def errMsg(e: Throwable): String = {
      val m = Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(160)
      s"${e.getClass.getSimpleName}: $m"
    }
    // Prior committed steady-state timings, read BEFORE this run
    // overwrites the file: input to the outlier rerun guard below.
    // The map is a flat {"name":sec,...} inside "queries":{...}; a tiny
    // regex extract avoids a JSON dependency. Missing/unreadable prior
    // (fresh checkout, renamed queries) just disables the guard.
    val priorPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", "BENCH.json")
    val prior: Map[String, Double] =
      try parsePriorQueries(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(priorPath)),
        java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: Throwable => Map.empty }
    def timedMin(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                 reps: Int): Double = {
      Harness.settle()
      Harness.timedReps(spark, reps, keepMemo)(Harness.materialize(fn(spark, sfDir))).min
    }
    // Weather canary (VERDICT r16 item 2): the SAME fixed physical
    // probe — q1_agg, scrubbed/settled like a timed rep — measured at
    // loop START, MIDDLE and END of every run and emitted as
    // "canary":[a,b,c]. Cross-run comparisons normalize a mover's
    // ratio by the canary ratio BEFORE calling it structural: r15 and
    // r16 each burned an arbitration cycle deciding whether an
    // all-board +10-12% on unchanged code was run-level weather; the
    // canary makes that a one-line read (normalization rule in
    // BASELINE.md). One unrecorded warm call first — the canary's noop
    // materialization has its own one-time codegen cost, which is
    // compile weather, not run weather.
    def canary(): Double = timedMin(SparkEntry.queries("q1_agg"), reps = 1)
    // FIXED 3-slot array (ADVICE r17): the canary is positional
    // ([start, mid, end]), so a failed probe must leave a null
    // PLACEHOLDER, not shrink the array — a consumer applying the
    // BASELINE.md normalization rule to [mid, end] as if it were
    // [start, mid] would mis-correct every ratio.
    val canarySlots = Array.fill[Option[Double]](3)(None)
    try { canary(); canarySlots(0) = Some(canary()) }
    catch { case e: Throwable =>
      System.err.println(s"BENCH CANARY FAIL: ${errMsg(e)}") }
    val toRun = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    val midIdx = toRun.size / 2
    var results = toRun.zipWithIndex.flatMap { case ((name, fn), idx) =>
      if (idx == midIdx && idx > 0)
        try canarySlots(1) = Some(canary()) catch { case _: Throwable => () }
      scrub()
      val c0 = System.nanoTime()
      val coldOk =
        try { Harness.materialize(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          errors(name) = errMsg(e)
          System.err.println(s"BENCH FAIL $name: ${errMsg(e)}")
          false
        }
      val cold = (System.nanoTime() - c0) / 1e9
      if (!coldOk) None else {
        // best-of-3 timed runs: single-run numbers swing 2-3× from GC /
        // scheduler noise at sf0.1; the min is the honest steady-state
        // (every rep does full noop-sink materialization). A throw here
        // (cold run succeeded, rep failed — transient OOM/GC death) is
        // recorded as this query's error, NOT allowed to kill the whole
        // bench: the other 200+ timings still reach the driver.
        try {
          val dt = timedMin(fn, reps = 3)
          scrub()
          Some((name, dt, cold))
        } catch { case e: Throwable =>
          errors(name) = errMsg(e)
          System.err.println(s"BENCH FAIL $name (timed rep): ${errMsg(e)}")
          scrub()
          None
        }
      }
    }
    // Outlier rerun guard: a steady min >3× the prior committed value
    // for the same query name is, on this box, a GC/scheduler artifact
    // far more often than a real regression (BENCH_r09 committed two >5×
    // phantoms on unchanged code). Rerun those queries once at the END
    // of the loop — a different heap neighborhood — and keep the min of
    // the two attempts. A REAL regression survives the rerun and is
    // still reported at its (regressed) rerun time.
    val reran = scala.collection.mutable.ArrayBuffer.empty[String]
    results = results.map { case r @ (name, dt, cold) =>
      prior.get(name) match {
        case Some(p) if p > 0 && dt > 3 * p =>
          System.err.println(f"BENCH OUTLIER $name: $dt%.3fs > 3x prior $p%.3fs — rerunning")
          reran += name
          val dt2 = try timedMin(SparkEntry.queries(name), reps = 2)
                    catch { case _: Throwable => dt }
          scrub()
          (name, math.min(dt, dt2), cold)
        case _ => r
      }
    }
    // end-of-run canary AFTER the outlier reruns — it brackets
    // everything the run timed
    try canarySlots(2) = Some(canary()) catch { case _: Throwable => () }
    // 3-decimal (millisecond) precision: full-precision doubles made the
    // 97-query line ~5 KB, which overflowed the driver's stdout tail
    // capture and left BENCH_r02's `parsed` null. ~2.5 KB fits.
    def fmt(v: Double): String =
      java.math.BigDecimal.valueOf(v).setScale(3, java.math.RoundingMode.HALF_UP).toPlainString
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val colds = results.map { case (k, _, c) => s"\"" + k + "\":" + fmt(c) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    def jstr(s: String): String = JsonOut.quote(s)
    val errs = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val reranJson = reran.map(jstr).mkString("[", ",", "]")
    val canaryJson =
      canarySlots.map(_.map(fmt).getOrElse("null")).mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_errors":${errors.size},"errors":$errs,"reran":$reranJson,"canary":$canaryJson,"queries":$qs,"cold":$colds,"sf":"$sfDir"}"""
    println(json)
    // Land the full line in a file: the driver's stdout capture keeps
    // only the LAST ~2000 chars (measured from its round-3 artifact),
    // which beheads a 130-query JSON line — its `parsed` stayed null in
    // rounds 1-3 for exactly this reason.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // ...and print a compact summary LAST so the tail window always
    // holds one complete parseable JSON object (slowest 8 stand in for
    // the full per-query map, which lives in the file above).
    val slowest = results.sortBy(-_._2).take(8)
      .map { case (k, v, _) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val failed = errors.keys.take(8).map(jstr).mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"failed":$failed,"canary":$canaryJson,"slowest":$slowest,"sf":"$sfDir"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
