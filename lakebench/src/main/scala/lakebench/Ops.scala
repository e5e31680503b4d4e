package lakebench

import scala.collection.mutable.ArrayBuffer

/** Failure accounting for timed operations: an operation that throws
  * is counted and named, never timed. */
final class Ops {
  private val failures = ArrayBuffer.empty[(String, String)]
  private var attempts = 0L

  def attempted: Long = attempts
  def failed: Seq[(String, String)] = failures.toSeq

  /** Runs `body`, returning its result and wall milliseconds, or None
    * (and a recorded failure) if it throws. */
  def timed[A](name: String)(body: => A): Option[(A, Double)] = {
    attempts += 1
    val t0 = System.nanoTime()
    try {
      val a = body
      Some((a, (System.nanoTime() - t0) / 1e6))
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        failures += name -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }
}
