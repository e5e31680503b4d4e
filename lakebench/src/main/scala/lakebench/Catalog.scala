package lakebench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.queries._

/** The `catalog` workload: a fixed sample of the `SparkEntry.queries`
  * catalog ([[Catalog.sample]]), each query forced by `collect()`, in an
  * order the seed permutes. The persisted ext indexes, sketch stores
  * and tx tables the sample reads are built cold in set-up by each
  * such query's first run; a discarded warm-up pass follows; then
  * whole passes run for about `seconds` ([[Ctx.another]]). Result
  * digests are taken outside the timed region. */
final class Catalog(ctx: Ctx, dir: String) {
  import ctx.spark

  type Query = (SparkSession, String) => DataFrame
  val selected: Seq[(String, Query)] = Catalog.sample.map(n => n -> SparkEntry.queries(n))
  private val extNames = ExtQueries.queries.keySet
  private val txNames = TxQueries.queries.keySet
  private val digests = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]
  private val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Queries whose first run builds what they read, in set-up. */
  private def builtByFirstRun(name: String): Boolean = txNames(name) || extNames(name)

  private def tablesWarmup(): Unit =
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach(f => spark.read.parquet(f.getPath).foreach(_ => ()))

  /** Cold builds in the fresh tmpdir: the first run of each ext and tx
    * query of the sample, which builds the indexes, sketch stores and
    * tables it probes. */
  private def builds(): Double = {
    val t0 = System.nanoTime()
    ctx.traced("ext", "build") {
      val firstRuns = selected.filter { case (n, _) => builtByFirstRun(n) }
      firstRuns.foreach { case (n, q) =>
        val kind = if (txNames(n)) "tx_prebuild" else "index_build"
        ctx.span("ext", kind) { ctx.span("ext", s"first:$n") { q(spark, dir).collect() } }
      }
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def runQuery(name: String, q: Query, traced: Boolean): Unit = {
    val out = ctx.request("query", name, traced) {
      val df = ctx.span("queries", "build") { q(spark, dir) }
      ctx.span("queries", "plan") { df.queryExecution.executedPlan }
      val rows = ctx.span("queries", "exec") { df.collect() }
      (df.columns.toSeq, rows)
    }
    out.foreach { case (cols, rows) =>
      times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ctx.lastMs
      digests.getOrElseUpdate(name, mutable.LinkedHashSet.empty) += Digest.of(cols, rows)
    }
  }

  def run(): Unit = {
    ctx.setupStep("tables") { tablesWarmup() }
    val tmp = new File(sys.props("java.io.tmpdir"))
    ctx.facts("build_s") = ctx.setupStep("builds") { builds() }
    val order = new scala.util.Random(ctx.seed).shuffle(selected)
    // warm-up pass over the queries the builds did not just run:
    // discarded, and a failure in it is fatal
    ctx.setupStep("warmup_pass") {
      order.filterNot { case (n, _) => builtByFirstRun(n) }.foreach { case (_, q) => q(spark, dir).collect() }
    }
    val t0 = System.nanoTime()
    var pass = 0
    var lastNs = 0L
    while (ctx.another(pass, t0, lastNs) || (ctx.trace && pass < 2)) {
      val p0 = System.nanoTime()
      order.zipWithIndex.foreach { case ((n, q), i) => runQuery(n, q, (i + pass) % 2 == 0) }
      lastNs = System.nanoTime() - p0
      ctx.sample("pass", lastNs / 1e6)
      pass += 1
    }
    ctx.facts("passes") = pass
    ctx.facts("queries") = selected.size
    ctx.facts("digests") = digests.map { case (k, v) => k -> v.toSeq }
    ctx.facts("query_ms") = times
    ctx.facts("oracle_sql") = SparkEntry.oracleSql.filter { case (k, _) => digests.contains(k) }
    val artifacts = Option(tmp.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft-")).map(f => Host.du(f)._2).sum
    val input = Host.du(new File(dir))._2
    ctx.facts("space_amp") = artifacts.toDouble / input
    if (ctx.trace) layers()
  }

  private def layers(): Unit = {
    ctx.drainListener()
    val spans = ctx.tracer.spans
    val jobs = ctx.listener.get.snapshot
    val L = ctx.layers
    L ++= Layers.spark(jobs, spans, ctx.cores)
    Seq("build", "plan", "exec").foreach(p => L(s"queries.${p}_ms") = Layers.meanMs(spans, "queries", p))
    L("queries.eager_jobs") = Layers.meanJobs(jobs, spans, "queries", "build")
    def total(kind: String) = spans.filter(s => s.layer == "ext" && s.name == kind).map(_.durNs).sum / 1e6
    L("ext.index_build_ms") = total("index_build")
    L("ext.tx_prebuild_ms") = total("tx_prebuild")
    L("core.space_amp") = ctx.facts("space_amp").asInstanceOf[Double]
    // jobs per execution of each query, every timed pass (traced or
    // not): a query whose count differs between passes is named
    val perQuery = Layers.jobsPerRequest(jobs, ctx.requests.toSeq)
      .groupMap(_._1.stripPrefix("query:"))(_._2)
    ctx.facts("jobs_per_query") = perQuery
    L("queries.jobs_per_pass") = perQuery.values.map(_.head).sum.toDouble
  }
}

object Catalog {
  /** 16 of the catalog's 251 queries, picked from a measured warm pass
    * over the whole catalog at scale factor 0.1 (4 cores): the queries
    * sorted by wall time and cut into 16 equal-count strata; from each,
    * among the queries nearest the stratum's mean wall, mean Spark jobs
    * and mean share of wall inside the query function, one from the
    * family (relational, analytics, text similarity, ext, tx, graph)
    * furthest below its share of catalog wall. In that pass the sample
    * took 5.8% of the catalog's wall and ran 6.5% of its jobs, with
    * 5.9 jobs per query against 5.8 and the same 18% of wall in eager
    * actions. README.md gives the per-family shares. */
  val sample: Seq[String] = Seq(
    "a_array_agg", "ev_new_vs_returning", "ev_session_funnel", "mv_routed_join_subset",
    "p4_in_list", "p6_text_search", "q_table_diff", "s9_anti_join", "scd2_pit_join",
    "tx_branch_wap", "v1_validation_route", "x1_label_stats", "x1_lsh_buckets",
    "x2_cosine_neardup", "x4_mixture_sample", "x4_tfidf")
}
