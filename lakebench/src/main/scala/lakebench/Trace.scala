package lakebench

import scala.collection.mutable.ArrayBuffer

/** One traced call into a layer. `request` groups the spans of one
  * request (a query, a cycle or an api call); `parent` is
  * the enclosing span's id, -1 for a request's root. Times are
  * `System.nanoTime`; `startMs`/`endMs` are the same instants on the
  * wall clock, which is the clock Spark stamps its job events with. */
final case class Span(id: Int, parent: Int, request: Int, layer: String,
    name: String, startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def durNs: Long = endNs - startNs
}

/** Records spans in memory while enabled; when disabled a span is just
  * a call, so the timed runs carry no tracing cost. Single-threaded:
  * the benchmark is one closed-loop client. */
final class Tracer(clock: Tracer.Clock = Tracer.SystemClock) {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[(Int, String, String, Long)] = Nil
  private var nextId = 0
  private var nextRequest = 0
  private var currentRequest = -1
  var enabled = false

  def spans: Seq[Span] = done.toSeq

  /** A request root: spans opened inside share its request id. */
  def request[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val saved = currentRequest
      currentRequest = nextRequest
      nextRequest += 1
      try span(layer, name)(body) finally currentRequest = saved
    }

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      open = (id, layer, name, clock.nanos()) :: open
      try body
      finally {
        val (_, _, _, start) = open.head
        open = open.tail
        add(id, layer, name, start, clock.nanos())
      }
    }

  private def add(id: Int, layer: String, name: String, start: Long, end: Long): Unit = {
    val parent = open.headOption.map(_._1).getOrElse(-1)
    done += Span(id, parent, currentRequest, layer, name, start, end,
      clock.toWallMs(start), clock.toWallMs(end))
  }
}

object Tracer {
  trait Clock {
    def nanos(): Long
    def toWallMs(nanos: Long): Long
  }

  object SystemClock extends Clock {
    // one fixed offset, so span wall times are exactly ordered like
    // their nanoTime
    private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    def nanos(): Long = System.nanoTime()
    def toWallMs(nanos: Long): Long = Math.floorDiv(nanos + offsetNs, 1000000L)
  }

  /** Self time: a span's duration minus its direct children's. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val childNs = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.durNs)(_ + _)
    spans.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** Self time summed per layer. */
  def layerSelfNs(spans: Seq[Span]): Map[String, Long] = {
    val self = selfNs(spans)
    spans.groupMapReduce(_.layer)(s => self(s.id))(_ + _)
  }
}
