package lakebench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.core.Warehouse
import graft.domain.Seeder

/** The benchmark's JVM side: runs one workload and writes its raw results
  * (samples, facts, failures, per-layer metrics, run metadata) as one
  * JSON file for `run.py`, which checks and reports them.
  *
  * Usage: lakebench.Main --workload W --data DIR --work DIR --out FILE
  *   --seconds S --trace 0|1 --seed N --term WORD
  */
object Main {
  private implicit val formats: Formats = DefaultFormats

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val (steal0, ticks0) = Host.cpuTicks()
    val calib0 = Host.calibrate()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.core.Sessions.local(cores = Runtime.getRuntime.availableProcessors)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    // the SQL conf the session starts with (queries may set more
    // later), without the per-run warehouse path
    val sqlConf = spark.conf.getAll.toSeq.sorted
      .filter { case (k, _) => k.startsWith("spark.sql.") && k != "spark.sql.warehouse.dir" }
      .map { case (k, v) => s"$k=$v" }.mkString("\n")
    val ctx = new Ctx(spark, a("seconds").toDouble, a("trace") == "1", a("seed").toLong)
    ctx.setup("jvm_and_session") = sessionS
    val work = a("work")
    try {
      workload match {
        case "catalog" => new Catalog(ctx, a("data")).run()
        case "trickle_mixed" => trickleMixed(ctx, new Pipeline(ctx, a("data"), a("term")), work)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val (steal1, ticks1) = Host.cpuTicks()
      if (ctx.trace) {
        ctx.layers ++= Layers.selfShares(ctx.tracer.spans)
        ctx.layers("trace.overhead_pct") = Layers.overheadPct(ctx.requests.toSeq)
      }
      ctx.layers("jvm.gc_ms") = Host.gcMs().toDouble
      ctx.layers("jvm.heap_used_mb") = Host.heapUsedMb()
      ctx.layers("jvm.peak_rss_mb") = Host.peakRssMb()
      val out = Map(
        "workload" -> workload,
        "first_op_ms" -> ctx.firstOpMs,
        "samples" -> ctx.samples,
        "attempted" -> ctx.ops.attempted,
        "failures" -> ctx.ops.failed.map { case (op, err) => Map("op" -> op, "error" -> err) },
        "facts" -> ctx.facts,
        "setup" -> ctx.setup,
        "layers" -> ctx.layers,
        "peak_rss_mb" -> Host.peakRssMb(),
        "spans" -> (if (ctx.trace) ctx.tracer.spans.map(s => Seq(s.id, s.parent, s.request,
          s.layer, s.name, s.startNs, s.endNs)) else Nil),
        "meta" -> Map(
          "sql_conf_sha256" -> MessageDigest.getInstance("SHA-256")
            .digest(sqlConf.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString,
          "steal_ticks" -> (steal1 - steal0),
          "cpu_ticks" -> (ticks1 - ticks0),
          "calib_before_s" -> calib0,
          "calib_after_s" -> Host.calibrate(),
          "cores" -> ctx.cores,
          "spark_version" -> spark.version))
      Files.write(new File(a("out")).toPath, Serialization.write(out).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  /** `trickle_mixed`: one freshly created and seeded warehouse grown
    * cycle by cycle; each cycle is a small batch's scan → merge →
    * approve (the timed write half), then the dashboard read set (each
    * call a timed api request). There is no discarded warm-up cycle:
    * the first cycle carries the JVM's warm-up of the write and read
    * paths, as a freshly started worker's does. A cycle takes longer
    * than 10 s, so a 10 s run measures that first cycle only. */
  def trickleMixed(ctx: Ctx, p: Pipeline, work: String): Unit = {
    val wh = ctx.setupStep("create") {
      val wh = new Warehouse(ctx.spark, s"$work/warehouse")
      wh.createAll()
      wh
    }
    ctx.setupStep("seed") { ctx.traced("jobs", "seed") { Seeder.run(wh, p.now) } }
    val before = if (ctx.trace) p.state(wh) else Map.empty[String, Long]
    val t0 = System.nanoTime()
    var c = 0
    var lastNs = 0L
    while (ctx.another(c, t0, lastNs) && c < p.batches.size) {
      val c0 = System.nanoTime()
      val n = c
      ctx.request("cycle", "cycle", traced = n % 2 == 0)(p.writeHalf(wh, n))
      p.readAll(wh, n)
      if (ctx.trace) {
        // the same reads again with the traced half swapped: every
        // endpoint runs both ways, for the tracing overhead
        p.readAll(wh, n, flip = true)
        p.readResolve(wh)
      }
      lastNs = System.nanoTime() - c0
      c += 1
    }
    ctx.facts("cycles") = c
    ctx.facts("counters") = p.counters
    val end = p.endState(wh)
    ctx.facts("end_states") = Seq(end)
    ctx.facts("space_amp") = end("space_amp")
    if (ctx.trace) p.layers(wh, c, before, p.state(wh))
  }
}
