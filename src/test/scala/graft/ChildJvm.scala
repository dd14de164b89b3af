package graft

import scala.jdk.CollectionConverters._

/** Runs a graft main in a fresh JVM on the test classpath, with this
  * JVM's own flags (the JDK 17 --add-opens set Spark needs). For
  * scenarios the suite's shared session cannot host (a stopped
  * context) and for mains whose contract includes their exit code and
  * environment variables.
  */
object ChildJvm {
  /** (exit code, stdout and stderr interleaved). */
  def run(mainClass: String, args: Seq[String], env: (String, String)*): (Int, String) = {
    val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++ jvmFlags ++
      Seq("-Xmx4g", "-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd, None, env: _*)
      .!(scala.sys.process.ProcessLogger(l => out.synchronized { out.append(l).append('\n'); () }))
    (code, out.toString)
  }

  /** The last lines of a child's output, for assertion messages. */
  def tail(out: String): String = out.linesIterator.toSeq.takeRight(30).mkString("\n")
}
