package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run (see perfbench/run.py, which builds
  * the classpath and passes the arguments). */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: Path, cpus: Int, traces: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), Paths.get(need("work")).toAbsolutePath,
      need("cpus").toInt, Paths.get(need("traces")).toAbsolutePath)
  }

  def session(a: Args): SparkSession = {
    var b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[graft.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
    graft.util.EngineDefaults.confs.foreach { case (k, v) => b = b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = session(a)
    val tracer = if (a.trace) Some(new Tracer(spark).install()) else None
    val rec = new Recorder(tracer.getOrElse(NoTrace), a.seconds)
    val ctx = new Ctx(spark, a.data, a.work, a.seed, a.seconds, a.cpus, rec, tracer)
    ctx.phase("session ready")
    if (a.workload == "train") {
      try Train.run(ctx) finally spark.stop()
      return
    }
    val out = try {
      val run: Ctx => Outcome = a.workload match {
        case "cdc_merge" => CdcMerge.run
        case "mor_read" => MorRead.run
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val o = run(ctx)
      System.err.println(s"perfbench: ${a.workload} seed ${a.seed} inputs sha256 ${o.inputDigest}")
      System.err.println("perfbench: ops " + rec.ops.map(r =>
        f"${r.kind}/${r.phase}:${r.ms}%.0f${if (r.ok) "" else "!"}").mkString(" "))
      val metrics = tracer match {
        case None => EndToEnd.metrics(rec, o)
        case Some(t) =>
          t.uninstall()
          val ms = Layers.metrics(t, ctx, o)
          val base = a.traces.resolve(s"${a.workload}-seed${a.seed}")
          t.write(Paths.get(base.toString + ".spans.jsonl"))
          Files.write(Paths.get(base.toString + ".layers.json"),
            (Result.json(rec.failed == 0, rec.attempted, rec.failed, ms).stripSuffix("}") +
              s""", "inputs_sha256": "${o.inputDigest}"}""" + "\n").getBytes("UTF-8"))
          ms
      }
      Result.json(rec.failed == 0, rec.attempted, rec.failed, metrics)
    } finally spark.stop()
    ctx.phase("stopped")
    println(out)
  }
}

/** The end-to-end metrics (untraced run). */
object EndToEnd {
  def metrics(rec: Recorder, o: Outcome): Seq[Metric] = {
    def q(kind: String, p: Double): Double = {
      val xs = rec.samples(kind)
      rec.checkRun(xs.nonEmpty, s"no successful $kind operation")
      if (xs.isEmpty) 0.0 else Stats.quantile(xs, p)
    }
    val window = rec.ops.count(_.phase == Window)
    Seq(
      Metric("setup_s", o.setupS, "s"),
      Metric("write_p50_ms", q("write", 0.5), "ms"),
      Metric("write_p90_ms", q("write", 0.9), "ms"),
      Metric("read_p50_ms", q("read", 0.5), "ms"),
      Metric("read_p90_ms", q("read", 0.9), "ms"),
      Metric("maint_p50_ms", q("maint", 0.5), "ms"),
      Metric("ops_per_s", window / (rec.windowMs / 1000), "1/s"),
      Metric("ingest_rows_per_s", rec.ingestRows / (rec.ingestMs / 1000), "1/s"),
      Metric("write_amp", o.writeAmp, "ratio"),
      Metric("space_amp", o.spaceAmp, "ratio"),
      Metric("ok_share", (rec.attempted - rec.failed).toDouble / rec.attempted, "share"))
  }
}
