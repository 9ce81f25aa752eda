package perfbench

/** Per-layer figures of a traced run, computed from the spans the
  * benchmark recorded around its calls into each layer and from the
  * Spark counters those spans carry. A layer a workload does not reach
  * reports 0.
  */
object Layers {
  /** Every per-layer metric a traced run prints, with its unit. */
  val All: Seq[(String, String)] = Seq(
    "server.overhead_ms" -> "ms", "server.queue_ms" -> "ms",
    "server.write_ms" -> "ms", "server.write_inproc_ms" -> "ms",
    "server.overhead_ms.after_writes" -> "ms", "lang.actions_per_query.after_writes" -> "count",
    "catalyst.optimization_ms.after_writes" -> "ms",
    "catalyst.plan_nodes.after_writes" -> "count", "spark.job_ms.after_writes" -> "ms",
    "lang.self_ms" -> "ms", "lang.actions_per_query" -> "count",
    "shape.build_ms" -> "ms", "shape.lower_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.plan_nodes" -> "count",
    "spark.job_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.rows_read_per_result" -> "ratio",
    "spark.cpu_utilization" -> "ratio", "spark.shuffle_write_bytes" -> "B",
    "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B",
    "exec.collect_ms" -> "ms", "exec.json_ms" -> "ms",
    "core.parse_ms" -> "ms", "core.write_ms" -> "ms", "core.append_ms" -> "ms",
    "core.append_scan_bytes" -> "B", "core.read_ms" -> "ms",
    "core.bytes_written_per_input_byte" -> "ratio", "core.files_written" -> "count",
    "analytics.pagerank_ms" -> "ms", "analytics.pagerank.iter_ms" -> "ms",
    "analytics.wcc_ms" -> "ms", "analytics.triangles_ms" -> "ms",
    "analytics.dedup_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "self.server_ms" -> "ms", "self.lang_ms" -> "ms", "self.shape_ms" -> "ms",
    "self.exec_ms" -> "ms", "self.core_ms" -> "ms", "self.analytics_ms" -> "ms",
    "self.bench_ms" -> "ms",
    "trace.wall_ms" -> "ms", "trace.self_sum_ms" -> "ms", "trace.gap_ms" -> "ms",
    "trace.recorder_ms" -> "ms",
    "trace.overhead_pct.primary_ms" -> "%", "trace.overhead_pct.secondary_ms" -> "%",
    "trace.overhead_pct.throughput_per_s" -> "%")

  private def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Run `f` as the traced phase; afterwards record its wall time and how
    * the spans' self times divide it among the layers. Span names start
    * with their layer (`server.http`, `core.write`, ...); root spans
    * without a layer prefix (`read_request`, `cycle`) are the
    * benchmark's own loop plus the recorder's waits.
    */
  def phase[T](ctx: Ctx)(f: => T): T = {
    ctx.startTracing()
    val (r, wall) = Stats.time(f)
    val t = ctx.tracer
    val self = t.selfMs
    def layerSelf(l: String) = self.filter(_._1.startsWith(l + ".")).values.sum
    for (l <- Seq("server", "lang", "shape", "exec", "core", "analytics"))
      ctx.layer(s"self.${l}_ms", layerSelf(l), "ms")
    ctx.layer("self.bench_ms", self.filter(!_._1.contains('.')).values.sum, "ms")
    ctx.layer("trace.wall_ms", wall, "ms")
    ctx.layer("trace.self_sum_ms", self.values.sum, "ms")
    ctx.layer("trace.gap_ms", wall - self.values.sum, "ms")
    ctx.layer("trace.recorder_ms", t.recorderNs.get / 1e6, "ms")
    r
  }

  /** spark.* over the given spans: per-call means, except the ratios. */
  def spark(ctx: Ctx, spans: Seq[Span], calls: Int, resultRows: Double): Unit = {
    val c = spans.map(_.counters)
    val n = math.max(1, calls).toDouble
    def sum(f: Counters => Double) = c.map(f).sum
    ctx.layer("spark.job_ms", sum(_.jobMs.toDouble) / n, "ms")
    ctx.layer("spark.jobs", sum(_.jobs.toDouble) / n, "count")
    ctx.layer("spark.stages", sum(_.stages.toDouble) / n, "count")
    ctx.layer("spark.tasks", sum(_.tasks.toDouble) / n, "count")
    ctx.layer("spark.rows_read_per_result",
      sum(x => (x.inputRecords + x.shuffleReadRecords).toDouble) / math.max(1.0, resultRows),
      "ratio")
    ctx.layer("spark.cpu_utilization",
      sum(_.taskRunMs.toDouble) / math.max(1e-9, spans.map(_.ms).sum * ctx.cores), "ratio")
    ctx.layer("spark.shuffle_write_bytes", sum(_.shuffleWriteBytes.toDouble) / n, "B")
    ctx.layer("spark.shuffle_read_bytes", sum(_.shuffleReadBytes.toDouble) / n, "B")
    ctx.layer("spark.spill_bytes", sum(_.spillBytes.toDouble) / n, "B")
  }

  /** catalyst.* over the given spans, per Spark action. */
  def catalyst(ctx: Ctx, spans: Seq[Span]): Unit = {
    val c = spans.map(_.counters)
    val actions = math.max(1L, c.map(_.actions).sum).toDouble
    ctx.layer("catalyst.analysis_ms", c.map(_.analysisMs).sum / actions, "ms")
    ctx.layer("catalyst.optimization_ms", c.map(_.optimizationMs).sum / actions, "ms")
    ctx.layer("catalyst.planning_ms", c.map(_.planningMs).sum / actions, "ms")
    ctx.layer("catalyst.plan_nodes", c.map(_.planNodes).sum / actions, "count")
  }

  /** Served-query layers from traced requests: each request span holds the
    * HTTP round trip and, in-process, the Gizmo execution, its JSON
    * encoding and the Path-DSL twin split into build, lower and collect.
    */
  def query(ctx: Ctx, results: Seq[Int], tracedMs: Double, untracedMs: Double): Unit = {
    val t = ctx.tracer
    val reqs = t.byName("read_request").map(_.request).toSet
    val spans = t.spans.filter(s => reqs(s.request))
    val byReq = spans.groupBy(_.request)
    def named(n: String) = spans.filter(_.name == n)
    def ms(req: Long, n: String) = byReq(req).filter(_.name == n).map(_.ms).sum
    ctx.layer("server.overhead_ms", med(reqs.toSeq.map(r =>
      ms(r, "server.http") - ms(r, "lang.execute") - ms(r, "exec.json"))), "ms")
    ctx.layer("lang.self_ms", med(reqs.toSeq.map(r => ms(r, "lang.execute") -
      ms(r, "shape.build") - ms(r, "shape.lower") - ms(r, "exec.collect"))), "ms")
    ctx.layer("lang.actions_per_query",
      named("lang.execute").map(_.counters.actions).sum.toDouble / math.max(1, reqs.size),
      "count")
    for (n <- Seq("shape.build", "shape.lower", "exec.collect", "exec.json"))
      ctx.layer(n + "_ms", med(named(n).map(_.ms)), "ms")
    catalyst(ctx, named("shape.lower") ++ named("exec.collect"))
    spark(ctx, named("exec.collect"), reqs.size, results.sum.toDouble)
    overhead(ctx, "primary_ms", tracedMs, untracedMs)
  }

  /** Write-script layers: each write_request span holds one HTTP write,
    * its in-process twin (parse + `Graph.fromQuads` + `addQuads`), and two
    * reads, each with its in-process Gizmo execution and JSON encoding on
    * the server's current graph.
    */
  def writes(ctx: Ctx, tracedReads: Seq[Double], untracedReadMs: Double): Unit = {
    val t = ctx.tracer
    val reqs = t.byName("write_request").map(_.request).toSet
    val spans = t.spans.filter(s => reqs(s.request))
    def named(n: String) = spans.filter(_.name == n)
    def total(n: String) = named(n).map(_.ms).sum
    val reads = math.max(1, named("server.http").size)
    ctx.layer("server.write_ms", med(named("server.write").map(_.ms)), "ms")
    ctx.layer("server.write_inproc_ms", med(named("core.add_quads").map(_.ms)), "ms")
    ctx.layer("server.overhead_ms.after_writes",
      (total("server.http") - total("lang.execute") - total("exec.json")) / reads, "ms")
    val lang = named("lang.execute").map(_.counters)
    val actions = math.max(1L, lang.map(_.actions).sum).toDouble
    ctx.layer("lang.actions_per_query.after_writes", lang.map(_.actions).sum.toDouble / reads,
      "count")
    ctx.layer("catalyst.optimization_ms.after_writes",
      lang.map(_.optimizationMs).sum / actions, "ms")
    ctx.layer("catalyst.plan_nodes.after_writes", lang.map(_.planNodes).sum / actions, "count")
    ctx.layer("spark.job_ms.after_writes", lang.map(_.jobMs).sum.toDouble / reads, "ms")
    overhead(ctx, "secondary_ms", tracedReads.sum / tracedReads.size, untracedReadMs)
  }

  def overhead(ctx: Ctx, metric: String, traced: Double, untraced: Double): Unit =
    ctx.layer(s"trace.overhead_pct.$metric",
      if (untraced == 0) 0.0 else (traced / untraced - 1) * 100, "%")
}
