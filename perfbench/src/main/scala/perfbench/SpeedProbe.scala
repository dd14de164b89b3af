package perfbench

import scala.collection.mutable.ArrayBuffer

/** Samples how fast the machine runs a fixed single-threaded loop: while a
  * window is open, it times one pass over a 512 KB array every 50 ms. The
  * loop runs no Spark or library code and takes under a millisecond on an
  * idle 4-core host, so it loads the run by about 2% of one core.
  */
final class SpeedProbe extends Thread("perfbench-speed-probe") {
  setDaemon(true)

  private val data = Array.tabulate(65536)(i => i * 2654435761L)
  private val samples = ArrayBuffer.empty[Long]
  @volatile private var open = false
  @volatile private var sink = 0L

  private def pass(): Long = {
    var h = 0L
    var r = 0
    while (r < 8) {
      var i = 0
      while (i < data.length) { h = h * 31 + (data(i) ^ (h >>> 7)); i += 1 }
      r += 1
    }
    h
  }

  // Compiled before the first window, so no sample times the JIT.
  (1 to 300).foreach(_ => sink += pass())

  override def run(): Unit = while (true) {
    if (open) {
      val t0 = System.nanoTime()
      sink += pass()
      val dt = System.nanoTime() - t0
      samples.synchronized(samples += dt)
    }
    Thread.sleep(50)
  }

  /** Runs `body` with the window open; returns its result and the seconds
    * per pass sampled meanwhile (at least one sample).
    */
  def during[A](body: => A): (A, Seq[Double]) = {
    samples.synchronized(samples.clear())
    open = true
    val r = try body finally open = false
    samples.synchronized {
      if (samples.isEmpty) {
        val t0 = System.nanoTime()
        sink += pass()
        samples += System.nanoTime() - t0
      }
      (r, samples.map(_ / 1e9).toList)
    }
  }
}
