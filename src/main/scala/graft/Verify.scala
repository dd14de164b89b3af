package graft
import java.nio.file.{Files, Paths}

/** JSON string escaping shared by the harness mains (Verify, Bench):
  * backslash, quote, and ALL control chars (<0x20) — a tab, CR, or
  * stray ESC in builder-authored SQL or an exception message would
  * otherwise make the driver's json.load fail and silently zero the
  * round's artifact.
  */
private[graft] object JsonOut {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val (sfDir, outDir) = (args(0), args(1))
    // optional filter: dump only the named queries (fast iteration loop);
    // no names = the full driver-contract dump
    val only = args.drop(2).toSet
    Harness.requireKnown(only)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name FAILED: ${failures(name)}")
      }
      // nothing here is timed, so memo consumers may share one build
      finally Harness.scrub(spark, keepMemo = true)
    }
    def q(s: String): String = JsonOut.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A query that fails to dump simply VANISHES from the downstream
    // compare (that is how r7's 20-query break shrank CORRECTNESS
    // silently). Make the skip impossible to miss: a summary on stderr
    // as the last output plus a machine-readable marker in outDir.
    // rc stays 0 so a partial dump still reaches the oracle compare —
    // 195 recorded rows beat 0 — the LOUD failure signal for red
    // queries is sbt test (AnalysisGuardSpec) and Bench's non-zero exit.
    if (failures.nonEmpty) {
      Files.writeString(Paths.get(s"$outDir/_verify_errors.json"),
        failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
      System.err.println(
        s"[verify] ${failures.size} of ${SparkEntry.queries.size} queries FAILED to dump: " +
        failures.keys.mkString(", "))
    } else System.err.println(s"[verify] all dumped queries succeeded")
    spark.stop()
  }
}
