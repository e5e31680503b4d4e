package lakebench

/** Per-layer metrics of a trace run, from its spans and the Spark jobs
  * the listener saw. */
object Layers {
  /** Span groups whose Spark counters are kept: the catalog queries,
    * each `jobs` phase, the api calls. */
  val SparkGroups: Seq[String] = Seq("queries", "scan", "merge", "review", "api")
  val SelfLayers: Seq[String] = Seq("bench", "queries", "jobs", "api")

  /** The group a span starts, if any: a catalog query request, a call
    * into a `jobs` phase, an `api` call. */
  def groupOf(s: Span): Option[String] = s.layer match {
    case "jobs" => Some(s.name)
    case "api" => Some("api")
    case "bench" if s.name.startsWith("query:") => Some("queries")
    case _ => None
  }

  /** Job id -> group, through the innermost span holding the job. */
  def jobGroups(jobs: Seq[JobStats], spans: Seq[Span]): Map[Int, String] = {
    val byId = spans.map(s => s.id -> s).toMap
    def up(id: Int): Option[String] =
      byId.get(id).flatMap(s => groupOf(s).orElse(up(s.parent)))
    JobListener.attribute(jobs, spans).flatMap { case (j, sid) => up(sid).map(j -> _) }
  }

  /** `spark.<group>.<counter>` per call of the group. */
  def spark(jobs: Seq[JobStats], spans: Seq[Span], cores: Int): Map[String, Double] = {
    val groups = jobGroups(jobs, spans)
    SparkGroups.flatMap { g =>
      val calls = spans.filter(s => groupOf(s).contains(g))
      val js = jobs.filter(j => groups.get(j.id).contains(g))
      val n = math.max(1, calls.size).toDouble
      val wallMs = calls.map(_.durNs).sum / 1e6
      val runMs = js.map(_.taskRunMs).sum.toDouble
      Seq(
        "jobs" -> js.size.toDouble,
        "stages" -> js.map(_.stages).sum.toDouble,
        "tasks" -> js.map(_.tasks).sum.toDouble,
        "task_cpu_ms" -> js.map(_.taskCpuNs).sum / 1e6,
        "task_run_ms" -> runMs,
        "shuffle_read_bytes" -> js.map(_.shuffleReadBytes).sum.toDouble,
        "shuffle_write_bytes" -> js.map(_.shuffleWriteBytes).sum.toDouble,
        "input_bytes" -> js.map(_.inputBytes).sum.toDouble
      ).map { case (k, v) => s"spark.$g.$k" -> v / n } :+
        (s"spark.$g.core_util" -> (if (wallMs > 0) runMs / (wallMs * cores) else 0.0))
    }.toMap
  }

  /** Each layer's share of the timed traced requests' wall (untimed
    * set-up builds and probes excluded), from span self times; `bench` is the request
    * roots' own time, the part no layer call covers (the unattributed
    * remainder). */
  def selfShares(spans: Seq[Span]): Map[String, Double] = {
    val timed = spans.filter(s => s.parent < 0 && s.layer == "bench").map(_.request).toSet
    val traced = spans.filter(s => timed(s.request))
    val wall = traced.filter(_.parent < 0).map(_.durNs).sum.toDouble
    val self = Tracer.layerSelfNs(traced)
    SelfLayers.map(l => s"self.${l}_pct" ->
      (if (wall > 0) 100.0 * self.getOrElse(l, 0L) / wall else 0.0)).toMap
  }

  /** Mean duration in ms of the spans with this layer and name. */
  def meanMs(spans: Seq[Span], layer: String, name: String): Double = {
    val d = spans.filter(s => s.layer == layer && s.name == name).map(_.durNs)
    if (d.isEmpty) 0.0 else d.sum / 1e6 / d.size
  }

  /** Mean count of jobs whose innermost span is a (layer, name) span. */
  def meanJobs(jobs: Seq[JobStats], spans: Seq[Span], layer: String, name: String): Double = {
    val ids = spans.filter(s => s.layer == layer && s.name == name).map(_.id).toSet
    if (ids.isEmpty) 0.0
    else JobListener.attribute(jobs, spans).count { case (_, s) => ids(s) }.toDouble / ids.size
  }

  /** Jobs submitted inside each request (by time), per request key in
    * request order. */
  def jobsPerRequest(jobs: Seq[JobStats], reqs: Seq[Req]): Seq[(String, Int)] =
    reqs.map(r => r.key -> jobs.count(j => r.startMs <= j.startMs && j.startMs <= r.endMs))

  /** Traced against untraced wall of the same requests, in percent:
    * per request name the mean of each, summed over the names that ran
    * both ways. */
  def overheadPct(reqs: Seq[Req]): Double = {
    def means(traced: Boolean) = reqs.filter(_.traced == traced)
      .groupMap(_.key)(_.ms).map { case (k, v) => k -> v.sum / v.size }
    val (t, u) = (means(true), means(false))
    val both = t.keySet.intersect(u.keySet).toSeq
    val ut = both.map(u).sum
    if (ut > 0) 100.0 * (both.map(t).sum / ut - 1.0) else 0.0
  }
}
