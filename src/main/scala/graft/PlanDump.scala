package graft

import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}

/** Plan inspector: prints the physical plan of each named query (all
  * queries if none named) to stdout, for iterating on PlanSpec pins
  * without driving a whole suite.
  *
  *   runMain graft.PlanDump [--simple|--plan-only] <sfDir> [query...]
  *
  *  - default: FormattedMode.
  *  - `--simple`: SimpleMode, one line per node with its arguments —
  *    string-match physical properties (SinglePartition, partitioning)
  *    here, since FormattedMode prints them on separate lines.
  *  - `--plan-only`: FormattedMode under `Fixpoint.planOnly`: eager
  *    operators (reliable-checkpoint finishers) show their full lazy
  *    twin instead of a checkpoint-scan leaf — the same view PlanSpec
  *    pins read. Also accepts "quality_train_loopbody", the trainer's
  *    one-round update frame (VERDICT r18 item 5: the artifact
  *    queries' own dumps only show the memoized artifact scan, so the
  *    loop body gets its own lazy twin).
  */
object PlanDump {
  private val LoopBody = "quality_train_loopbody"

  def main(args: Array[String]): Unit = {
    val (mode, rest) = args.headOption match {
      case Some(m @ ("--simple" | "--plan-only")) => (m, args.toSeq.tail)
      case _ => ("", args.toSeq)
    }
    require(rest.nonEmpty, "usage: PlanDump [--simple|--plan-only] <sfDir> [query...]")
    val planOnly = mode == "--plan-only"
    val dir = rest.head
    val names = if (rest.length > 1) rest.tail else SparkEntry.queries.keys.toSeq.sorted
    Harness.requireKnown(names, if (planOnly) Set(LoopBody) else Set.empty)
    val spark = GraftSession.local()
    val explainMode = if (mode == "--simple") SimpleMode else FormattedMode
    def plan(n: String): String = {
      val df =
        if (n == LoopBody) graft.etl.QualityTrain.loopBodyForPlan(spark, dir)
        else SparkEntry.queries(n)(spark, dir)
      df.queryExecution.explainString(explainMode)
    }
    var failed = 0
    names.foreach { n =>
      println(s"===== $n =====")
      try println(if (planOnly) graft.etl.Fixpoint.planOnly(plan(n)) else plan(n))
      catch { case e: Throwable =>
        failed += 1
        println(s"explain failed: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
