package graft.perfbench

/** The per-layer metrics of a traced run, over the operations of the
  * timed loop. "Per op" divides by the number of those operations. */
object Layers {
  val ReplayCalls = Set("snapshots", "currentSnapshot", "windowSnapshots", "loadTable")
  val Layers = Seq("op", "pipeline", "table", "catalog", "sql", "engine")

  def metrics(t: Tracer, ctx: Ctx, o: Outcome): Seq[Metric] = {
    val rec = ctx.rec
    val window = rec.ops.filter(_.phase == Window)
    val ids = window.map(_.id).toSet
    val n = math.max(1, window.size).toDouble
    val spans = t.spans.filter(s => ids(s.op))
    // ingest is timed outside the loop where the loop has none
    val sampled = rec.ops.filter(o => o.phase == Window || o.phase == Side).map(_.id).toSet
    val sideSpans = t.spans.filter(s => sampled(s.op))
    val self = Tracer.selfNs(spans)
    val byParent = spans.groupBy(_.parent)
    def ms(ns: Long): Double = ns / 1e6
    def dur(s: Span): Long = s.endNs - s.startNs
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

    val catalog = spans.filter(_.layer == "catalog")
    val commits = catalog.filter(_.name == "commit")
    val applies = spans.filter(s => s.layer == "pipeline" && s.name == "applyChanges")
    // applyChanges minus the part of it its catalog calls cover
    val applySelf = applies.map { a =>
      val kids = byParent.getOrElse(a.id, Nil).filter(_.layer == "catalog")
      ms(dur(a) - kids.map(dur).sum)
    }
    val counters = window.map(op => op -> t.counters(op.id))
    val reads = counters.filter(_._1.kind == "read")
    val recordsRead = reads.map(_._2.recordsRead).sum
    val runMs = counters.map(_._2.runMs).sum
    val (compiles, compileMs) = ctx.windowCodegen
    def p50(kind: String) = {
      val xs = rec.samples(kind)
      if (xs.isEmpty) 0.0 else Stats.quantile(xs, 0.5)
    }

    Seq(
      Metric("catalog.commit_ms", mean(commits.map(s => ms(dur(s)))), "ms"),
      Metric("catalog.commit_max_ms", if (commits.isEmpty) 0.0 else commits.map(s => ms(dur(s))).max, "ms"),
      Metric("catalog.calls_per_op", catalog.size / n, "count"),
      Metric("catalog.replay_ms", catalog.filter(s => ReplayCalls(s.name)).map(s => ms(dur(s))).sum / n, "ms"),
      Metric("catalog.log_bytes", o.logBytes.toDouble, "bytes"),
      Metric("catalog.commit_success_share",
        if (commits.isEmpty) 1.0 else commits.count(_.ok).toDouble / commits.size, "share"),
      Metric("pipeline.apply_self_ms", mean(applySelf), "ms"),
      Metric("pipeline.ingest_ms", mean(sideSpans.filter(s => s.layer == "pipeline" && s.name == "ingest")
        .map(s => ms(dur(s)))), "ms"),
      Metric("table.delete_files_live", o.deleteFilesLive.toDouble, "count"),
      Metric("table.files_live", o.filesLive.toDouble, "count"),
      Metric("table.scan_build_ms", mean(spans.filter(s =>
        (s.layer == "table" && s.name == "scan") || (s.layer == "sql" && s.name == "sql"))
        .map(s => ms(dur(s)))), "ms"),
      Metric("table.rows_out_per_row_read",
        if (recordsRead == 0) 0.0 else reads.map(_._1.rowsOut).sum.toDouble / recordsRead, "ratio"),
      Metric("sql.analysis_ms", ctx.windowPhases.getOrElse("analysis", 0.0) / n, "ms"),
      Metric("sql.optimization_ms", ctx.windowPhases.getOrElse("optimization", 0.0) / n, "ms"),
      Metric("sql.planning_ms", ctx.windowPhases.getOrElse("planning", 0.0) / n, "ms"),
      Metric("sql.zero_job_read_share",
        if (reads.isEmpty) 0.0 else reads.count(_._2.jobs == 0).toDouble / reads.size, "share"),
      Metric("engine.jobs_per_op", counters.map(_._2.jobs).sum / n, "count"),
      Metric("engine.tasks_per_op", counters.map(_._2.tasks).sum / n, "count"),
      Metric("engine.codegen_compiles_per_op", compiles / n, "count"),
      Metric("engine.codegen_ms_per_op", compileMs / n, "ms"),
      Metric("engine.task_run_ms_per_op", runMs / n, "ms"),
      Metric("engine.slot_busy_share", runMs / math.max(1.0, rec.windowMs * ctx.cpus), "share"),
      Metric("fs.bytes_written", ctx.windowWritten._1.toDouble, "bytes"),
      Metric("fs.files_written", ctx.windowWritten._2.toDouble, "count"),
      Metric("fs.bytes_read", counters.map(_._2.bytesRead).sum.toDouble, "bytes")
    ) ++ Layers.map { l =>
      Metric(s"self.${l}_ms_per_op", ms(spans.filter(_.layer == l).map(s => self(s.id)).sum) / n, "ms")
    } ++ Seq(
      Metric("traced.write_p50_ms", p50("write"), "ms"),
      Metric("traced.read_p50_ms", p50("read"), "ms"),
      Metric("traced.ops_per_s", window.size / (rec.windowMs / 1000), "1/s"))
  }
}
