package lakebench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  /** A clock the test advances by hand: 1 ms of wall per 1 ms of nanos. */
  final class ManualClock extends Tracer.Clock {
    var now = 0L
    def nanos(): Long = now
    def toWallMs(n: Long): Long = n / 1000000L
    def advance(ms: Long): Unit = now += ms * 1000000L
  }

  test("self time is a span's duration minus its direct children") {
    val c = new ManualClock
    val t = new Tracer(c)
    t.enabled = true
    t.request("bench", "cycle") {
      c.advance(2)
      t.span("jobs", "scan") {
        c.advance(3)
        t.span("core", "commit") { c.advance(4) }
        c.advance(1)
      }
      t.span("api", "read") { c.advance(5) }
      c.advance(1)
    }
    val byName = t.spans.map(s => s.name -> s).toMap
    val self = Tracer.selfNs(t.spans).map { case (id, ns) => id -> ns / 1000000L }
    assert(byName("cycle").durNs == 16000000L)
    assert(self(byName("cycle").id) == 3)   // 2 + 1 outside any child
    assert(self(byName("scan").id) == 4)    // 3 + 1 around the commit
    assert(self(byName("commit").id) == 4)
    assert(self(byName("read").id) == 5)
    val layers = Tracer.layerSelfNs(t.spans).map { case (l, ns) => l -> ns / 1000000L }
    assert(layers == Map("bench" -> 3, "jobs" -> 4, "core" -> 4, "api" -> 5))
    assert(layers.values.sum == 16)        // self times add up to the request wall
    assert(t.spans.map(_.request).distinct == Seq(0))
    assert(byName("commit").parent == byName("scan").id)
    assert(byName("cycle").parent == -1)
  }

  test("a disabled tracer records nothing and still runs the body") {
    val t = new Tracer(new ManualClock)
    var ran = 0
    assert(t.request("bench", "q") { t.span("queries", "exec") { ran += 1; 7 } } == 7)
    assert(ran == 1 && t.spans.isEmpty)
  }

  test("a throwing body still closes its span") {
    val c = new ManualClock
    val t = new Tracer(c)
    t.enabled = true
    intercept[IllegalStateException] {
      t.request("bench", "q") { t.span("queries", "exec") { c.advance(2); throw new IllegalStateException("x") } }
    }
    assert(t.spans.map(_.name).toSet == Set("q", "exec"))
    assert(t.span("api", "next") { 1 } == 1)
    assert(t.spans.find(_.name == "next").get.parent == -1)
  }
}
