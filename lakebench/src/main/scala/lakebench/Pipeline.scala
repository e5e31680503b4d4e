package lakebench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.api.{AnalyticsQueries, Lineage}
import graft.core.Warehouse
import graft.domain.Schemas
import graft.jobs.{MergeJob, ReviewService, RunTracker, ScanJob}
import graft.pipeline.{HashEmbedder, RuleExtractor, RuleMerger}

/** The write path and the dashboard read set of `trickle_mixed`, driven
  * through the public job, service and api entry points: one warehouse
  * grown by small cycles, each followed by the reads. */
final class Pipeline(ctx: Ctx, batchDir: String, term: String) {
  import ctx.spark

  // the generator's clock (gen.NOW): the recency window is exact
  val now: Timestamp = Timestamp.valueOf("2026-01-15 12:00:00")
  private val embedder = new HashEmbedder(64)
  private val tables: Seq[String] = Schemas.tables.keys.toSeq.sorted
  val batches: Seq[File] = new File(batchDir).listFiles()
    .filter(_.getName.startsWith("batch")).sortBy(_.getName).toSeq
  /** Per executed batch: its index and the job counters. */
  val counters = ArrayBuffer.empty[Map[String, Any]]
  private val filesRead = ArrayBuffer.empty[Double]
  /** Candidate bytes ingested into the warehouse. */
  private var inputBytes = 0L

  private def batch(i: Int): DataFrame = spark.read.parquet(batches(i).getPath)

  /** scan → merge → approve the oldest pending review, as the traced
    * `jobs` calls; the counters go to `counters`. */
  def writeHalf(wh: Warehouse, i: Int): Unit = {
    val scanId = f"scan-$i%04d"
    val mergeId = f"merge-$i%04d"
    val sc = ctx.span("jobs", "scan") {
      new RunTracker(wh).create(scanId, "scan", "EU", 30, now)
      ScanJob.run(wh, batch(i),
        ScanJob.Params(scanId, "EU", 30, Int.MaxValue, 0.5, now), RuleExtractor, embedder)
    }
    val mc = ctx.span("jobs", "merge") {
      new RunTracker(wh).create(mergeId, "merge", "EU", 0, now)
      MergeJob.run(wh, MergeJob.Params(mergeId, "EU", 0.5, now), RuleMerger)
    }
    val approved = ctx.span("jobs", "review") {
      wh.domainTable("review_queue").read.filter(col("status") === "pending")
        .orderBy("created_at", "id").limit(1).select("id").collect()
        .headOption.map(r => new ReviewService(wh).approve(r.getString(0), now))
        .getOrElse("none")
    }
    inputBytes += batches(i).length()
    counters += Map("batch" -> i, "discovered" -> sc.discovered, "accepted" -> sc.accepted,
      "review" -> sc.review, "vectors" -> sc.vectorCount, "merged" -> mc.merged,
      "merge_review" -> mc.review, "approved" -> approved)
  }

  /** The dashboard read set of one cycle, each call materialised. */
  def reads(wh: Warehouse, cycle: Int): Seq[(String, () => Seq[DataFrame])] = {
    val api = new AnalyticsQueries(wh)
    val lineage = new Lineage(wh)
    val runId = f"scan-$cycle%04d"
    Seq(
      "dashboard_stats" -> (() => Seq(api.dashboardStats())),
      "list_items" -> (() => Seq(api.listItems())),
      "list_runs" -> (() => Seq(api.listRuns())),
      "list_review_queue" -> (() => Seq(api.listReviewQueue())),
      "run_logs" -> (() => Seq(api.runLogs(runId))),
      "last_run" -> (() => Seq(api.lastRun())),
      "search_items" -> (() => Seq(api.searchItems(term, jurisdiction = Some("EU")))),
      "display_items" -> (() => Seq(api.displayItems())),
      "vector_stats" -> (() => Seq(api.vectorStats())),
      "vector_documents" -> (() => Seq(api.vectorDocuments())),
      "lineage_graph" -> (() => { val g = lineage.graph(); Seq(g.nodes, g.edges) }),
      "lineage_descendants" -> (() => Seq(lineage.descendants(lineage.graph(), "Run", runId))))
  }

  /** The read set as one dashboard refresh: each call a timed `api`
    * request; the refresh wall (sum of the calls) is sampled when every
    * call succeeded. In a trace run every other call is traced, and
    * `flip` swaps which. */
  def readAll(wh: Warehouse, cycle: Int, flip: Boolean = false): Unit = {
    val calls = reads(wh, cycle)
    val before = ctx.samples.get("api").fold(0)(_.size)
    val results = calls.zipWithIndex.map { case ((name, call), k) =>
      ctx.request("api", name, traced = (k % 2 == 0) != flip) {
        ctx.span("api", name) { call().map { df => df.collect(); df } }
      }
    }
    val ms = ctx.samples.get("api").fold(Seq.empty[Double])(_.drop(before).toSeq)
    if (ms.size == calls.size) ctx.sample("refresh", ms.sum)
    if (ctx.trace) results.flatten.foreach(d => filesRead += d.map(Pipeline.filesRead).sum.toDouble)
  }

  /** Data-file count and bytes the warehouse and every table's
    * current version hold. */
  def state(wh: Warehouse): Map[String, Long] = {
    val (files, bytes) = Host.du(new File(wh.root), parquetOnly = true)
    Map("commits" -> tables.map(t => wh.domainTxTable(t).currentVersion + 1).sum,
      "files" -> files, "data_bytes" -> bytes,
      "live_files" -> tables.map(t => wh.domainTxTable(t).dataFileCount.toLong).sum)
  }

  /** End-state facts `run.py` checks against the generator. */
  def endState(wh: Warehouse): Map[String, Any] = {
    val docs = wh.domainTable("source_documents").read
    val stats = new AnalyticsQueries(wh).dashboardStats().collect().head
    Map("source_documents" -> docs.count(),
      "source_document_ids" -> docs.select("id").distinct().count(),
      "regulation_items" -> wh.domainTable("regulation_items").read.count(),
      "total_items" -> stats.getAs[Long]("total_items"),
      "space_amp" -> Host.du(new File(wh.root))._2.toDouble / math.max(1L, inputBytes))
  }

  /** Traced probe of snapshot resolution: `domainTable(n).read` of
    * every domain table. */
  def readResolve(wh: Warehouse): Unit =
    ctx.traced("core", "probe") {
      tables.foreach(t => ctx.span("core", "read_resolve") { wh.domainTable(t).read })
    }

  /** Per-layer metrics, per measured cycle. */
  def layers(wh: Warehouse, cycles: Int, before: Map[String, Long], after: Map[String, Long]): Unit = {
    ctx.drainListener()
    val spans = ctx.tracer.spans
    val jobs = ctx.listener.get.snapshot
    val L = ctx.layers
    val n = math.max(1, cycles).toDouble
    L ++= Layers.spark(jobs, spans, ctx.cores)
    Seq("seed", "scan", "merge", "review").foreach(p => L(s"jobs.${p}_ms") = Layers.meanMs(spans, "jobs", p))
    val measured = counters.takeRight(cycles)
    val cand = measured.map(c => spark.read.parquet(batches(c("batch").asInstanceOf[Int]).getPath).count()).sum
    val disc = measured.map(_("discovered").asInstanceOf[Long]).sum
    L("jobs.dedup_ratio") = disc.toDouble / math.max(1L, cand)
    L("jobs.accept_ratio") = measured.map(_("accepted").asInstanceOf[Long]).sum.toDouble / math.max(1L, disc)
    L("core.commits") = (after("commits") - before("commits")).toDouble
    L("core.commits_per_cycle") = L("core.commits") / n
    L("core.files_added") = (after("files") - before("files")) / n
    L("core.live_files") = after("live_files").toDouble
    L("core.bytes_written") = (after("data_bytes") - before("data_bytes")) / n
    L("core.read_resolve_ms") = Layers.meanMs(spans, "core", "read_resolve")
    L("core.files_read") = if (filesRead.isEmpty) 0.0 else filesRead.sum / filesRead.size
    L("core.space_amp") = Host.du(new File(wh.root))._2.toDouble / math.max(1L, inputBytes)
    reads(wh, 0).map(_._1).foreach { e =>
      L(s"api.${e}_ms") = Layers.meanMs(spans, "api", e)
      L(s"api.${e}_jobs") = Layers.meanJobs(jobs, spans, "api", e)
    }
  }
}

object Pipeline {
  /** Files the scans of an executed plan read (the scan nodes'
    * `numFiles` metric), through adaptive plans and query stages. */
  def filesRead(df: DataFrame): Long = {
    def walk(p: SparkPlan): Long = {
      val own = p.metrics.get("numFiles").map(_.value).getOrElse(0L)
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      own + (kids ++ p.subqueries).map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }
}
