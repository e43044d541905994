package perfbench

/** The host's speed right now, timed in a JVM of its own so that no
  * work of the program (its JIT, GC or Spark threads) can slow the loop.
  *
  *   perfbench.Calib <n>
  *
  * Runs a fixed integer loop that shares no code with the program on
  * nproc threads at once, so that it feels contention on every core the
  * program uses. After two untimed rounds that let the JIT compile the
  * loop, prints `n` lines, each the seconds until all copies of one
  * round have finished. */
object Calib {
  def loop(): Unit = {
    var x = 88172645463325252L; var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println(x) // keeps the loop from being optimized away
  }

  def round(threads: Int): Double = {
    val t = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => loop()))
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val threads = Runtime.getRuntime.availableProcessors
    round(threads); round(threads)
    (1 to args(0).toInt).foreach(_ => println(round(threads)))
  }
}
