package lakebench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** A timed request of a trace run. */
final case class Req(key: String, traced: Boolean, ms: Double, startMs: Long, endMs: Long)

/** State shared by a workload run: the session, the tracer and the
  * listener (trace runs only), failure accounting, latency samples, and
  * the facts the run hands to `run.py` for checking and reporting. */
final class Ctx(val spark: SparkSession, val seconds: Double,
    val trace: Boolean, val seed: Long) {
  val tracer = new Tracer
  val ops = new Ops
  val listener: Option[JobListener] =
    if (trace) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
  val cores: Int = spark.sparkContext.defaultParallelism

  var firstOpMs: Long = -1L
  /** Wall ms of the last successful request. */
  var lastMs: Double = 0.0
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Scalar facts for the report (build seconds, counters, ...). */
  val facts = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Every timed request of a trace run, traced or not: for the
    * traced-against-untraced overhead and per-request job counts. */
  val requests = ArrayBuffer.empty[Req]

  /** Seconds of each named set-up step, for the report. */
  val setup = mutable.LinkedHashMap.empty[String, Double]

  def setupStep[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally setup(name) = setup.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** Whether a measuring loop that started at `t0Ns` and has run `done`
    * units, the last taking `lastNs`, runs another: it stops at the unit
    * count whose end is nearest to `seconds`, so that the count does not
    * flip between runs when a unit takes about `seconds`. */
  def another(done: Int, t0Ns: Long, lastNs: Long): Boolean =
    done == 0 || (System.nanoTime() - t0Ns + lastNs / 2) / 1e9 < seconds

  def sample(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, ArrayBuffer.empty) += ms

  /** One timed request. In a trace run only the requests with
    * `traced` set record spans; the others time the same work without
    * them. A throwing request is counted as failed and not sampled. */
  def request[A](kind: String, name: String, traced: Boolean = true)(body: => A): Option[A] = {
    if (firstOpMs < 0) firstOpMs = System.currentTimeMillis()
    tracer.enabled = trace && traced
    val startMs = System.currentTimeMillis()
    val r = try ops.timed(s"$kind:$name")(tracer.request("bench", s"$kind:$name")(body))
      finally tracer.enabled = false
    r.map { case (a, ms) =>
      lastMs = ms
      sample(kind, ms)
      if (trace) requests += Req(s"$kind:$name", traced, ms, startMs, System.currentTimeMillis())
      a
    }
  }

  def span[A](layer: String, name: String)(body: => A): A = tracer.span(layer, name)(body)

  /** Untimed work traced in a trace run as its own request (set-up
    * builds, probes); a plain call otherwise. */
  def traced[A](layer: String, name: String)(body: => A): A = {
    tracer.enabled = trace
    try tracer.request(layer, name)(body) finally tracer.enabled = false
  }

  /** Waits until the listener has seen every submitted job end. */
  def drainListener(): Unit = listener.foreach { l =>
    var last = -1
    var stable = 0
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val jobs = l.snapshot
      val n = jobs.size
      if (n == last && jobs.forall(_.endMs >= 0)) stable += 1 else stable = 0
      last = n
    }
  }
}
