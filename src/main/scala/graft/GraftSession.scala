package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. Every main, the test
  * base and the child-JVM test scenarios start their session here, so
  * a setting the engine depends on cannot be missing from one of them.
  */
object GraftSession {

  /** `local[cpus]` width and shuffle partitions: `SPARK_GRAFT_CPUS`,
    * 4 when unset. This is the only read of the variable.
    */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** Build (or return the live) session. `conf` adds settings on top of
    * the shared ones; the test base uses it for its app name and temp
    * warehouse.
    */
  def local(cpus: Int = envCpus, conf: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts has shipped as TIMESTAMP(NANOS) and as timestamp[us];
      // this flag covers the nanos encoding (reads as BIGINT) and
      // Tables.withNanosTs canonicalizes whichever one is on disk.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Fixpoint.reliably writes per-call checkpoint files; let the
      // ContextCleaner delete them when the frames are GC'd so a
      // long-lived session doesn't accumulate temp-dir state
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
