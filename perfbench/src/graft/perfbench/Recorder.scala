package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Where an operation sits in a run. `Warmup` ops are part of set-up and
  * are not sampled; `Window` ops are the timed closed loop; `Side` ops
  * are sampled but lie outside the loop (a workload whose loop has no op
  * of that kind times it in set-up or after the loop); `After` ops are
  * correctness checks after the loop and are not sampled. */
sealed trait Phase
case object Warmup extends Phase
case object Window extends Phase
case object Side extends Phase
case object After extends Phase

/** One timed operation. `rowsOut` is what a read returned as useful
  * rows (its count(*) column), for the traced run's useful/attempted
  * ratio. */
final case class OpRecord(id: Int, kind: String, phase: Phase, ms: Double,
    ok: Boolean, var rowsOut: Long = 0L)

/** Runs the workload's operations one at a time (a closed loop with one
  * client), times them, counts failures and keeps the samples. */
final class Recorder(val trace: Trace, val seconds: Double) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  private var failures = 0
  private var nextOp = 0
  var ingestRows = 0L
  var ingestMs = 0.0

  def attempted: Int = ops.size
  def failed: Int = failures
  def windowMs: Double = ops.filter(_.phase == Window).map(_.ms).sum
  def windowOver: Boolean = windowMs >= seconds * 1000

  /** Runs `body` as one operation of `kind`. An exception counts the op
    * as failed and yields None. */
  def op[A](kind: String, phase: Phase)(body: => A): Option[A] = {
    nextOp += 1
    val id = nextOp
    trace.beginOp(id)
    val t0 = System.nanoTime()
    val r = try Some(trace.span("op", kind)(body)) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"perfbench: $kind op $id failed: $e")
        e.printStackTrace(System.err)
        None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    trace.beginOp(0)
    if (r.isEmpty) failures += 1
    ops += OpRecord(id, kind, phase, ms, r.isDefined)
    r
  }

  /** Records that the last operation, which succeeded, returned a wrong
    * result. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    System.err.println(s"perfbench: CHECK FAILED: $what")
    failures += 1
    ops(ops.size - 1) = ops.last.copy(ok = false)
  }

  /** Records a failed correctness check that belongs to no operation. */
  def checkRun(ok: Boolean, what: => String): Unit = if (!ok) {
    System.err.println(s"perfbench: CHECK FAILED: $what")
    failures += 1
  }

  def ingest(rows: Long, ms: Double): Unit = { ingestRows += rows; ingestMs += ms }

  def samples(kind: String): Seq[Double] =
    ops.filter(o => o.kind == kind && (o.phase == Window || o.phase == Side) && o.ok).map(_.ms).toSeq
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Byte and file counts of a directory tree. */
object Walk {
  /** path -> size of every regular file under `root`. */
  def sizes(root: Path): Map[String, Long] =
    if (!Files.isDirectory(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(p => Files.isRegularFile(p))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  /** (bytes, files) written between two walks: new files count whole,
    * grown files count their growth. */
  def written(before: Map[String, Long], after: Map[String, Long]): (Long, Int) = {
    var bytes = 0L; var files = 0
    after.foreach { case (p, n) =>
      before.get(p) match {
        case None => bytes += n; files += 1
        case Some(m) if n > m => bytes += n - m
        case _ => ()
      }
    }
    (bytes, files)
  }
}

/** The JSON line the benchmark prints last. */
final case class Metric(name: String, value: Double, unit: String)

object Result {
  def json(correct: Boolean, attempted: Int, failed: Int, ms: Seq[Metric]): String = {
    val body = ms.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) 0.0 else m.value
      s""""${m.name}": {"value": $v, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}
