package perfbench

/** Closed-loop passes for the dedup workload: one client runs a pass,
  * then the next, until the run's measuring time is used up. In a
  * traced run passes alternate untraced and traced (the first, cold,
  * pass untraced), so the tracing overhead is measured in the same
  * process between warm passes. */
object Passes {

  final case class Pass(index: Int, traced: Boolean, startMs: Double, endMs: Double,
                        execs: Seq[Queries.Exec], layers: Map[String, Double]) {
    def wallS: Double = (endMs - startMs) / 1e3
  }

  /** Passes until the deadline, at least `minPasses` (and in a traced
    * run at least one traced pass and one warm untraced pass). */
  def loop(ctx: Ctx, minPasses: Int)(body: Int => Seq[Queries.Exec])
          (layers: (Double, Double, Seq[Queries.Exec]) => Map[String, Double]): Seq[Pass] = {
    val deadline = ctx.deadlineAfter(Clock.nowMs)
    val need = if (ctx.traced) math.max(minPasses, 3) else minPasses
    val out = scala.collection.mutable.ArrayBuffer[Pass]()
    while (out.size < need || Clock.nowMs < deadline) {
      val i = out.size
      val traced = ctx.traced && i % 2 == 1
      val t0 = Clock.nowMs
      val execs = ctx.tracing(traced)(ctx.tracer.span("harness", s"pass $i")(body(i)))
      val t1 = Clock.nowMs
      ctx.spark.catalog.clearCache()
      out += Pass(i, traced, t0, t1, execs, if (traced) layers(t0, t1, execs) else Map.empty)
      Main.log(f"pass $i${if (traced) " traced" else ""} ${(t1 - t0) / 1e3}%.2f s")
    }
    out.toSeq
  }

  /** What one traced pass of oracle queries did at each layer. */
  def queryLayers(ctx: Ctx, startMs: Double, endMs: Double,
                  execs: Seq[Queries.Exec]): Map[String, Double] = {
    val rec = ctx.recorder.get
    def jobsDuring(a: Double, b: Double) = rec.allJobs.filter(j => j.startMs >= math.floor(a) && j.startMs < b)
    val constructJobs = execs.flatMap(e => jobsDuring(e.startMs, e.constructEndMs))
    val actionJobs = execs.flatMap(e => jobsDuring(e.constructEndMs, e.endMs))
    val all = ExecTotals.of(rec.allJobs.filter(j => j.startMs >= math.floor(startMs) && j.startMs < endMs))
    val action = ExecTotals.of(actionJobs)
    val actionWallS = execs.map(_.actionMs).sum / 1e3
    val phases = rec.phaseMs(startMs, endMs)
    Map(
      "sparkentry.construct_ms" -> execs.map(_.constructMs).sum,
      "sparkentry.construct_jobs" -> constructJobs.size.toDouble,
      "catalyst.analysis_ms" -> phases.getOrElse("analysis", 0.0),
      "catalyst.optimization_ms" -> phases.getOrElse("optimization", 0.0),
      "catalyst.planning_ms" -> phases.getOrElse("planning", 0.0),
      "exec.core_busy_frac" -> (if (actionWallS > 0) action.runS / (actionWallS * ctx.cores) else 0.0),
      "exec.result_rows" -> execs.map(_.rows).sum.toDouble) ++ Metrics.exec(all)
  }

  /** Per-layer self time of the traced passes (seconds per pass), the
    * part of each pass no layer span covers, and the tracing overhead:
    * median traced pass wall minus median warm untraced pass wall. */
  def traceSummary(ctx: Ctx, passes: Seq[Pass]): Map[String, Double] = {
    val traced = passes.filter(_.traced)
    val untraced = passes.drop(1).filterNot(_.traced)
    val roots = ctx.spans.filter(s => s.layer == "harness" && s.name.startsWith("pass ")).map(_.id).toSet
    val n = math.max(1, traced.size)
    ctx.selfTimes(roots, n) ++ Map(
      "trace.pass_wall_s" -> traced.map(_.wallS).sum / n,
      "trace.overhead_s" -> (Stats.median(traced.map(_.wallS)) - Stats.median(untraced.map(_.wallS))))
  }

  /** Median over the traced passes of each layer quantity. */
  def medianLayers(passes: Seq[Pass]): Map[String, Double] = {
    val traced = passes.filter(_.traced)
    traced.flatMap(_.layers.keys).distinct.map(k => k -> Stats.median(traced.flatMap(_.layers.get(k)))).toMap
  }

  /** The per-layer metrics of a traced run of query passes. */
  def layerMetrics(ctx: Ctx, passes: Seq[Pass]): Map[String, Double] =
    if (!ctx.traced) Map.empty
    else medianLayers(passes) ++ traceSummary(ctx, passes) ++
      ctx.recorder.map(r => "cache.peak_bytes" -> r.peakBlockBytes.toDouble)
}
