package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Cumulative Spark execution counters, fed only by listener events.
  * `maxTaskMs` is a maximum, not a sum: a difference keeps the left one.
  */
final case class Exec(jobs: Long = 0, stages: Long = 0, oneTaskStages: Long = 0,
    tasks: Long = 0, taskMs: Long = 0, gcMs: Long = 0, shuffleWriteB: Long = 0,
    spillB: Long = 0, maxTaskMs: Long = 0) {
  def -(b: Exec): Exec = Exec(jobs - b.jobs, stages - b.stages,
    oneTaskStages - b.oneTaskStages, tasks - b.tasks, taskMs - b.taskMs,
    gcMs - b.gcMs, shuffleWriteB - b.shuffleWriteB, spillB - b.spillB, maxTaskMs)
}

/** Counts jobs, stages and tasks and sums task metrics. Events arrive on
  * the listener-bus thread; readers take a [[snapshot]] after draining
  * the bus. `maxTaskMs` is the longest task since the last [[resetMax]].
  */
final class ExecListener extends SparkListener {
  private var c = Exec()

  def snapshot(): Exec = synchronized(c)
  def resetMax(): Unit = synchronized { c = c.copy(maxTaskMs = 0) }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1,
      oneTaskStages = c.oneTaskStages + (if (e.stageInfo.numTasks == 1) 1 else 0))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = c.copy(tasks = c.tasks + 1, maxTaskMs = math.max(c.maxTaskMs, e.taskInfo.duration))
    if (m != null) c = c.copy(
      taskMs = c.taskMs + m.executorRunTime,
      gcMs = c.gcMs + m.jvmGCTime,
      shuffleWriteB = c.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
      spillB = c.spillB + m.memoryBytesSpilled + m.diskBytesSpilled)
  }
}

/** One timed call: `parent` is the enclosing span's id (-1 at top level)
  * and `op` the workload operation it ran under (-1 outside operations).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** The layer is the module part of the name: `Dedup.lsh` → `Dedup`. */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. Disabled, it only runs the body. */
final class Tracer(val on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  var op: Int = -1
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, op, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Seconds per layer not spent in a child span. */
  def selfSeconds: Map[String, Double] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum
    }
  }

  def json: String = {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val rows = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"op":${s.op},""" +
        s""""start_s":${(s.startNs - t0) / 1e9},"end_s":${(s.endNs - t0) / 1e9}}"""
    }
    val self = selfSeconds.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}:$v" }
    s"""{"spans":[${rows.mkString(",\n")}],\n"self_s":{${self.mkString(",")}}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
