package graft

/** Repeat-timer for a single query: separates plan cost from JVM/JIT
  * warmup and run-to-run noise.
  * Usage: runMain graft.TimeQuery <sfDir> <query[,query...]> [reps]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 3
    Harness.requireKnown(names)
    val spark = GraftSession.local()
    // SPARK_GRAFT_CODEGEN_LOG=1: surface Janino compile events ("Code
    // generated in N ms") so a cold-rep spike can be attributed to (or
    // cleared of) generated-code compilation — the r9 verdict item 6
    // instrument.
    if (sys.env.contains("SPARK_GRAFT_CODEGEN_LOG"))
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
        org.apache.logging.log4j.Level.INFO)
    // comma-separated names time a SEQUENCE per rep (the instrument for
    // shared-state questions like the components memo). By default the
    // memo clears between queries, pricing each standalone;
    // SPARK_GRAFT_KEEP_MEMO=1 leaves it warm WITHIN a rep (the
    // production fan-out shape) — each rep still starts cold.
    // SPARK_GRAFT_CKPT_REPORT=1: pin the checkpoint dir and report its
    // disk usage after every query (peak across the run printed last) —
    // the instrument for the production fan-out capstone (wall + peak
    // checkpoint disk, VERDICT r13 item 6) and for the memo
    // file-release behavior at realistic scale (item 3).
    val ckptReport = sys.env.get("SPARK_GRAFT_CKPT_REPORT").contains("1")
    if (ckptReport) {
      spark.sparkContext.setCheckpointDir(Harness.tempDirRemovedOnExit("graft-tq-ckpt"))
      println(s"[timequery] checkpoint dir: ${spark.sparkContext.getCheckpointDir}")
    }
    var ckptPeak = 0L
    // the ContextCleaner (cleanCheckpoints=true) deletes released rdd-N
    // dirs CONCURRENTLY with this walk — a raced-away dir lists as null
    // and a raced-away file has length 0, so it is skipped, never a
    // crash mid-run
    def ckptBytes(): Long = {
      def size(f: java.io.File): Long =
        Option(f.listFiles()).fold(f.length())(_.map(size).sum)
      spark.sparkContext.getCheckpointDir
        .fold(0L)(p => size(new java.io.File(p.stripPrefix("file:"))))
    }
    val keepMemo = sys.env.get("SPARK_GRAFT_KEEP_MEMO").contains("1")
    for (i <- 1 to reps) {
      graft.etl.Memos.clearAll()
      var total = 0.0
      for (n <- names) {
        val s = Harness.timed(spark, keepMemo)(
          Harness.materialize(SparkEntry.queries(n)(spark, dir)))
        total += s
        if (ckptReport) {
          val b = ckptBytes()
          ckptPeak = math.max(ckptPeak, b)
          println(f"[timequery] $n rep $i: $s%.2f s  ckpt=${b / 1024.0}%.1f KB")
        } else println(f"[timequery] $n rep $i: $s%.2f s")
      }
      if (names.length > 1)
        println(f"[timequery] TOTAL(${names.mkString("+")}) rep $i: $total%.2f s")
    }
    if (ckptReport)
      println(f"[timequery] ckpt peak: ${ckptPeak / 1024.0}%.1f KB")
    spark.stop()
  }
}
