package perfbench

/** A fixed amount of CPU work, independent of the program under test:
  * SHA-256 over a 1 MB buffer, 8 rounds, on each of `threads` threads at
  * once. Its wall time tracks how fast the machine runs right now. On a
  * shared machine that speed drifts by up to 2x from minute to minute,
  * and the program's wall times drift with it. So a run takes a sample
  * before each query or ETL phase and reports its times at the reference
  * speed: raw seconds × [[ReferenceS]] / (mean of the run's samples).
  * The run-wide mean, not each operation's neighbouring samples: single
  * samples jitter by ±20% even on a quiet machine, and the mean still
  * follows bursts of load that a median would discard.
  */
object Calibration {
  /** One sample on an idle 4-vCPU VM with 4 threads. */
  val ReferenceS = 0.14

  private val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)

  private def work(): Unit = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var i = 0
    while (i < 8) { md.update(buf); md.digest(); i += 1 }
  }

  /** Wall seconds of one sample on `threads` threads. */
  def sample(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => work()))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}

/** The calibration samples of one run, with the intervals they took on
  * the tracer's clock (a traced run leaves them out of the operations
  * that contain them).
  */
final class Speed(threads: Int, tracer: Tracer) {
  val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
  val intervals = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
  (1 to 3).foreach(_ => Calibration.sample(threads)) // leaves the interpreter

  def mark(): Unit = {
    val start = tracer.now()
    samples += Calibration.sample(threads)
    intervals += ((start, tracer.now()))
  }

  /** Runs `body` after taking a sample; returns its result and raw seconds. */
  def timed[T](body: => T): (T, Double) = {
    mark()
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Multiplier from raw seconds to seconds at the reference speed. */
  def factor: Double = Calibration.ReferenceS * samples.size / samples.sum
}
