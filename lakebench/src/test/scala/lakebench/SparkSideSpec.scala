package lakebench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class SparkSideSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit =
    spark = graft.core.Sessions.local("lakebench-spec", cores = 2)

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def span(id: Int, parent: Int, start: Long, end: Long, name: String = "") =
    Span(id, parent, 0, "bench", name, start * 1000000L, end * 1000000L, start, end)

  test("jobs go to the innermost span open at submission") {
    val spans = Seq(span(0, -1, 100, 200, "root"), span(1, 0, 110, 150, "a"),
      span(2, 1, 120, 130, "a.inner"), span(3, 0, 150, 190, "b"))
    val jobs = Seq(JobStats(0, 105), JobStats(1, 125), JobStats(2, 140),
      JobStats(3, 150), JobStats(4, 195), JobStats(5, 250))
    assert(JobListener.attribute(jobs, spans) ==
      Map(0 -> 0, 1 -> 2, 2 -> 1, 3 -> 3, 4 -> 0, 5 -> -1))
  }

  test("the listener counts real jobs and attributes them to their spans") {
    val ctx = new Ctx(spark, 1.0, trace = true, seed = 1L)
    ctx.request("query", "two_actions") {
      ctx.span("queries", "exec") {
        spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
      }
      ctx.span("api", "read") { spark.range(10).collect() }
    }
    ctx.drainListener()
    val jobs = ctx.listener.get.snapshot
    val spans = ctx.tracer.spans
    val owner = JobListener.attribute(jobs, spans)
    val names = spans.map(s => s.id -> s.name).toMap
    val byName = jobs.groupBy(j => names.getOrElse(owner(j.id), "none")).map { case (k, v) => k -> v.size }
    assert(byName.keySet == Set("exec", "read"))
    assert(byName("read") == 1)
    assert(jobs.forall(_.endMs >= 0))
    assert(jobs.map(_.tasks).sum > 0)
    val groups = Layers.jobGroups(jobs, spans)
    assert(groups.values.toSet == Set("queries", "api"))
    val m = Layers.spark(jobs, spans, 2)
    assert(m("spark.api.jobs") == 1.0)
    assert(m("spark.queries.stages") >= 1.0)
    assert(Layers.jobsPerRequest(jobs, ctx.requests.toSeq) ==
      Seq("query:two_actions" -> jobs.size))
  }

  test("a throwing operation is counted and named, never timed") {
    val ctx = new Ctx(spark, 1.0, trace = false, seed = 1L)
    assert(ctx.request("query", "ok") { spark.range(3).count() }.contains(3L))
    val r = ctx.request("query", "boom") {
      spark.sql("SELECT * FROM lakebench_no_such_table").collect()
    }
    assert(r.isEmpty)
    assert(ctx.ops.attempted == 2)
    assert(ctx.ops.failed.map(_._1) == Seq("query:boom"))
    assert(ctx.ops.failed.head._2.contains("lakebench_no_such_table"))
    assert(ctx.samples("query").size == 1)
  }

  test("a measuring loop stops at the unit count that ends nearest to its seconds") {
    val ctx = new Ctx(spark, 1.0, trace = false, seed = 1L)
    val t0 = System.nanoTime() - 400000000L // 0.4 s measured so far
    assert(ctx.another(0, System.nanoTime(), 0L))
    assert(ctx.another(1, t0, 400000000L))   // a second unit would end at 0.8 s
    assert(!ctx.another(1, t0, 1400000000L)) // a second unit would end at 1.8 s
  }

  test("digests ignore row order and match the oracle-side canonical form") {
    val cols = Seq("b", "a")
    val rows = Array(Row(1.5, "x"), Row(null, "y"), Row(0.1 + 0.2, "z"))
    val d = Digest.of(cols, rows)
    assert(d == Digest.of(cols, rows.reverse))
    // the value tests/test_oracle.py pins for the same rows in DuckDB's
    // Python types: both sides canonicalize alike
    assert(d == "3:a09a87bda88ac5cd")
    assert(Digest.canon(java.sql.Date.valueOf("1970-01-02")) == "t86400000000")
    assert(Digest.canon(new java.math.BigDecimal("12.500")) == "n125e-1")
    assert(Digest.canon(Seq(1L, 2L)) == "[n1e0,n2e0]")
  }
}
