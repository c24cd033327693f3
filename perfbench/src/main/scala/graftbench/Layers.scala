package graftbench

/** The per-layer metrics of a traced run: spans and Spark events summed
  * over one traced pass, so the counts of a deterministic pass repeat
  * exactly from run to run.
  */
object Layers {

  /** Every per-layer metric with its unit; every traced run prints all
    * of them, 0 for a layer the workload leaves idle.
    */
  val metrics: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.plan_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.cpu_per_run" -> "ratio",
    "spark.task_wait_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.input_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.task_skew" -> "ratio",
    "raster.self_s" -> "s", "raster.viewshed_s" -> "s", "raster.cutline_s" -> "s",
    "raster.terrain_s" -> "s", "raster.los_s" -> "s", "raster.overview_s" -> "s",
    "functions.calc_s" -> "s",
    "trans.plan_s" -> "s", "trans.export_s" -> "s",
    "sources.decode_s" -> "s", "sources.cog_mb" -> "MB", "sources.bytes_per_pixel" -> "B",
    "catalog.route_s" -> "s",
    "llm.build_s" -> "s", "llm.exec_s" -> "s", "llm.jobs" -> "count",
    "llm.cc_s" -> "s", "llm.cc_jobs" -> "count", "llm.pagerank_s" -> "s",
    "llm.pagerank_jobs" -> "count", "llm.bpe_s" -> "s", "llm.bpe_jobs" -> "count",
    "llm.minhash_s" -> "s", "llm.knn_s" -> "s", "llm.quality_s" -> "s",
    "llm.ingest_s" -> "s", "llm.store_files" -> "count",
    "llm.store_bytes_per_input_byte" -> "ratio",
    "llm.lsh_yield" -> "ratio", "llm.dedup_recall" -> "ratio", "llm.ann_recall" -> "ratio",
    "core.leaked_blocks" -> "count", "core.release_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "bench.trace_overhead" -> "ratio")

  private val MB = 1024.0 * 1024.0

  def compute(spans: Seq[Span], ev: Events, extras: Map[String, Double]): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val rootOf = spans.map { s =>
      var r = s
      while (r.parent != 0) r = byId(r.parent)
      s.id -> r
    }.toMap
    val roots = spans.filter(_.parent == 0)
    val jobs = ev.jobs.filter(j => byId.contains(j.span)).toSeq
    val tasks = ev.tasks.filter(t => byId.contains(t.span)).toSeq
    def jobsOf(p: Span => Boolean) = jobs.count(j => p(rootOf(j.span))).toDouble
    def durOf(p: Span => Boolean) = roots.filter(p).map(_.seconds).sum
    def named(n: String)(s: Span) = s.name == n
    def layer(l: String)(s: Span) = s.layer == l
    def phaseOf(l: String, kind: String) =
      spans.filter(s => s.kind == kind && rootOf(s.id).layer == l).map(_.seconds).sum
    // self time: a span minus the nested layer spans inside it
    def self(s: Span) = s.seconds -
      spans.filter(c => c.parent == s.id && c.kind == "layer").map(_.seconds).sum

    // Catalyst phases land on the innermost span whose interval holds them
    val planS = ev.phases.filter { p =>
      spans.exists(s => s.startMs <= p.startMs && p.startMs <= s.endMs)
    }.map(_.seconds).sum

    // serial driver time: a layer call's wall time with no job running
    val gap = roots.map { r =>
      val iv = jobs.filter(j => rootOf(j.span).id == r.id)
        .map(j => (math.max(j.startMs, r.startMs), math.min(math.max(j.endMs, j.startMs), r.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += curB - curA
      math.max(0.0, r.seconds - covered / 1000.0)
    }.sum

    val skew = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val runs = ts.map(t => math.max(t.runMs, 1L).toDouble).sorted
      runs.last / runs(runs.size / 2)
    }.foldLeft(1.0)(math.max)

    val runS = tasks.map(_.runMs).sum / 1000.0
    val cpuS = tasks.map(_.cpuNs).sum / 1e9

    val raw = Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> ev.stages.count { case (sp, _) => byId.contains(sp) }.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.plan_s" -> planS,
      "spark.driver_gap_s" -> gap,
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> cpuS,
      "spark.task_wait_s" -> tasks.map(_.waitMs).sum / 1000.0,
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / MB,
      "spark.input_mb" -> tasks.map(_.input).sum / MB,
      "spark.spill_mb" -> tasks.map(_.spill).sum / MB,
      "raster.self_s" -> roots.filter(layer("raster")).map(self).sum,
      "raster.viewshed_s" -> durOf(named("raster.viewshed")),
      "raster.cutline_s" -> durOf(named("raster.cutline")),
      "raster.terrain_s" -> durOf(named("raster.terrain")),
      "raster.los_s" -> durOf(named("raster.los")),
      "raster.overview_s" -> durOf(named("raster.overview")),
      "functions.calc_s" -> durOf(named("functions.calc")),
      "trans.plan_s" -> durOf(named("trans.plan")),
      "trans.export_s" -> durOf(named("trans.export")),
      "sources.decode_s" -> durOf(named("sources.decode")),
      "catalog.route_s" -> durOf(named("catalog.route")),
      "llm.build_s" -> phaseOf("llm", "build"),
      "llm.exec_s" -> phaseOf("llm", "exec"),
      "llm.jobs" -> jobsOf(layer("llm")),
      "llm.cc_s" -> durOf(named("llm.cc")), "llm.cc_jobs" -> jobsOf(named("llm.cc")),
      "llm.pagerank_s" -> durOf(named("llm.pagerank")),
      "llm.pagerank_jobs" -> jobsOf(named("llm.pagerank")),
      "llm.bpe_s" -> durOf(named("llm.bpe")), "llm.bpe_jobs" -> jobsOf(named("llm.bpe")),
      "llm.minhash_s" -> durOf(named("llm.minhash")),
      "llm.knn_s" -> durOf(named("llm.knn")),
      "llm.quality_s" -> durOf(named("llm.quality")),
      "llm.ingest_s" -> durOf(_.name.startsWith("llm.ingest")),
      "core.release_s" -> durOf(named("core.release")),
      "spark.cpu_per_run" -> (if (runS > 0) cpuS / runS else 0.0),
      "spark.task_skew" -> skew)
    val all = raw ++ extras
    metrics.map { case (k, _) => k -> all.getOrElse(k, 0.0) }.toMap
  }
}
