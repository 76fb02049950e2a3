package graft.perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.Catalog

/** What a workload needs: the session, its inputs, the recorder and,
  * in a traced run, the tracer. */
final class Ctx(val spark: SparkSession, val data: String, val work: Path,
    val seed: Long, val seconds: Double, val cpus: Int,
    val rec: Recorder, val tracer: Option[Tracer]) {

  def trace: Trace = rec.trace

  /** Logs the end of a phase of the run, with seconds since JVM start. */
  def phase(name: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    System.err.println(f"perfbench: $name at $up%.1f s")
  }

  /** The catalog the engine is handed: the real one, or in a traced run
    * the same one behind a [[TracingCatalog]]. */
  def wrap(c: Catalog): Catalog = tracer.fold(c)(t => new TracingCatalog(c, t))

  /** Registers a SQL catalog named `name` over `warehouse` (JdbcCatalog
    * when `url` is given, else Snaplog). */
  def sqlCatalog(name: String, warehouse: String, url: Option[String]): Unit = {
    val cls = if (tracer.isDefined) classOf[TracedSqlCatalog]
      else classOf[graft.sql.GraftSqlCatalog]
    spark.conf.set(s"spark.sql.catalog.$name", cls.getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
    url.foreach(u => spark.conf.set(s"spark.sql.catalog.$name.url", u))
  }

  // ---- the timed window ----------------------------------------------------

  private var walkBefore = Map.empty[String, Long]
  private var codegenAt = (0L, 0L)
  private var phasesAt = Map.empty[String, Double]
  /** Bytes and files the window added to the warehouse. */
  var windowWritten: (Long, Int) = (0L, 0)
  /** Codegen compiles and compile ms during the window. */
  var windowCodegen: (Long, Double) = (0L, 0.0)
  /** QueryPlanningTracker phase ms during the window. */
  var windowPhases: Map[String, Double] = Map.empty

  private def codegen: (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  def windowStart(warehouse: Path): Unit = {
    tracer.foreach(_.drain())
    phasesAt = tracer.fold(Map.empty[String, Double])(t =>
      t.phaseMs.synchronized(t.phaseMs.toMap))
    codegenAt = codegen
    walkBefore = Walk.sizes(warehouse)
  }

  def windowEnd(warehouse: Path): Unit = {
    val (c, ns) = codegen
    windowCodegen = (c - codegenAt._1, (ns - codegenAt._2) / 1e6)
    windowWritten = Walk.written(walkBefore, Walk.sizes(warehouse))
    tracer.foreach { t =>
      t.drain()
      val now = t.phaseMs.synchronized(t.phaseMs.toMap)
      windowPhases = now.map { case (k, v) => k -> (v - phasesAt.getOrElse(k, 0.0)) }
    }
  }

  /** Bytes per row of a source table's parquet file: the compacted size
    * of its rows, which space amplification divides by. */
  def sourceBytesPerRow(table: String, rows: Long): Double =
    java.nio.file.Files.size(Paths.get(s"$data/$table.parquet")).toDouble / math.max(1L, rows)
}

/** What a workload reports besides the recorder's samples. */
final case class Outcome(
    setupS: Double,
    writeAmp: Double,
    spaceAmp: Double,
    filesLive: Int,
    deleteFilesLive: Int,
    logBytes: Long,
    /** SHA-256 of the generated inputs (change batches, query texts). */
    inputDigest: String)

object Digest {
  /** SHA-256 (hex) of the lines, in order. */
  def of(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

object Rows {
  /** Spark's `xxhash64` of one row, computed in this JVM with the same
    * function Spark evaluates (seed 42, columns folded in order), so the
    * checker's model and a Spark aggregate over a table agree. */
  def hash(values: Seq[Any], schema: StructType): Long = {
    var h = 42L
    values.zip(schema.fields).foreach { case (v, f) =>
      if (v != null) h = XxHash64Function.hash(internal(v, f.dataType), f.dataType, h)
    }
    h
  }

  private def internal(v: Any, dt: DataType): Any = (v, dt) match {
    case (s: String, _) => UTF8String.fromString(s)
    case (t: java.time.LocalDateTime, _) => DateTimeUtils.localDateTimeToMicros(t)
    case (t: java.sql.Timestamp, _) => DateTimeUtils.fromJavaTimestamp(t)
    case (d: java.sql.Date, _) => DateTimeUtils.fromJavaDate(d)
    case (d: java.time.LocalDate, _) => DateTimeUtils.localDateToDays(d)
    case _ => v
  }

  /** Column expression for [[logicalBytes]] of a row of `schema`. */
  def logicalBytesCol(schema: StructType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    schema.fields.map { f =>
      val c = col("`" + f.name + "`")
      f.dataType match {
        case StringType => coalesce(octet_length(c), lit(0)).cast(LongType)
        case IntegerType | DateType => when(c.isNotNull, lit(4L)).otherwise(lit(0L))
        case _ => when(c.isNotNull, lit(8L)).otherwise(lit(0L))
      }
    }.reduce(_ + _)
  }

  /** Logical size of a row as user data: 8 bytes per long, double or
    * timestamp, 4 per int, the UTF-8 length of strings, 0 for nulls. */
  def logicalBytes(r: Row): Long = {
    var n = 0L
    var i = 0
    while (i < r.length) {
      n += (r.get(i) match {
        case null => 0L
        case s: String => s.getBytes("UTF-8").length.toLong
        case _: Int | _: java.time.LocalDate | _: java.sql.Date => 4L
        case _ => 8L
      })
      i += 1
    }
    n
  }
}
