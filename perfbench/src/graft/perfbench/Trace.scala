package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.util.QueryExecutionListener

import graft.catalog.{Catalog, DataFileEntry, Snapshot, SnapshotRef, TableMetadata}

/** One traced interval. `parent` is the id of the span that was open on
  * the calling thread when this one started (0 = none); `op` is the
  * benchmark operation it belongs to. Times are `System.nanoTime`. */
final case class Span(id: Int, layer: String, name: String,
    startNs: Long, endNs: Long, parent: Int, op: Int, ok: Boolean)

/** Span recording around calls into the engine's layers. The untraced
  * run uses [[NoTrace]], whose `span` only runs its body. */
trait Trace {
  def span[A](layer: String, name: String)(body: => A): A
  /** Marks the start of benchmark operation `op` (0 = between ops). */
  def beginOp(op: Int): Unit
}

object NoTrace extends Trace {
  def span[A](layer: String, name: String)(body: => A): A = body
  def beginOp(op: Int): Unit = ()
}

/** In-memory span recorder plus the Spark-side listeners. Spans are
  * kept in memory and written out once, when the run ends. */
final class Tracer(spark: SparkSession) extends Trace {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val recorded = mutable.ArrayBuffer.empty[Span]
  @volatile private var op = 0
  // nanoTime = epoch millis * 1e6 - offset, for listener timestamps
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def spans: Seq[Span] = recorded.synchronized(recorded.toList)

  private def record(s: Span): Unit = recorded.synchronized { recorded += s; () }

  def beginOp(id: Int): Unit = {
    op = id
    sc.setLocalProperty(OpProp, id.toString)
  }

  def span[A](layer: String, name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val outer = stack.get
    val parent = outer.headOption.getOrElse(0)
    stack.set(id :: outer)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val t1 = System.nanoTime()
      stack.set(outer)
      sc.setLocalProperty(SpanProp, parent.toString)
      record(Span(id, layer, name, t0, t1, parent, op, ok))
    }
  }

  // ---- Spark listeners ---------------------------------------------------

  /** Per-operation engine counters, filled from listener events. */
  final class OpCounters {
    var jobs = 0; var tasks = 0; var runMs = 0L
    var bytesRead = 0L; var recordsRead = 0L
  }
  private val byOp = mutable.Map.empty[Int, OpCounters]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Long, Int, Int)]
  /** Summed QueryPlanningTracker phase time (ms) since the last reset. */
  val phaseMs: mutable.Map[String, Double] = mutable.Map.empty

  def counters(op: Int): OpCounters = byOp.synchronized(byOp.getOrElse(op, new OpCounters))
  private def countersFor(op: Int): OpCounters = byOp.getOrElseUpdate(op, new OpCounters)

  private def propInt(p: java.util.Properties, k: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(k))).flatMap(_.toIntOption).getOrElse(0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = byOp.synchronized {
      val o = propInt(e.properties, OpProp)
      countersFor(o).jobs += 1
      jobStart(e.jobId) = (e.time, propInt(e.properties, SpanProp), o)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val started = byOp.synchronized(jobStart.remove(e.jobId))
      started.foreach { case (t0, parent, o) =>
        record(Span(ids.incrementAndGet(), "engine", "job",
          t0 * 1000000L - offsetNs, e.time * 1000000L - offsetNs, parent, o,
          e.jobResult == org.apache.spark.scheduler.JobSucceeded))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = byOp.synchronized {
      stageOp(e.stageInfo.stageId) = propInt(e.properties, OpProp)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = byOp.synchronized {
      val c = countersFor(stageOp.getOrElse(e.stageId, 0))
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.bytesRead += m.inputMetrics.bytesRead
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phaseMs.synchronized {
        qe.tracker.phases.foreach { case (phase, s) =>
          phaseMs(phase) = phaseMs.getOrElse(phase, 0.0) + s.durationMs
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Completes pending listener events. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def install(): Tracer = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    Tracer.active = this
    this
  }

  def uninstall(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    sc.setLocalProperty(OpProp, null)
    sc.setLocalProperty(SpanProp, null)
    Tracer.active = null
  }

  /** Writes the spans as JSON lines (one span per line). */
  def write(path: Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"layer":"${s.layer}","name":"${s.name}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},""" +
        f""""op":${s.op},"ok":${s.ok}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    ()
  }
}

object Tracer {
  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"
  /** The tracer of a traced run, for catalogs Spark instantiates itself. */
  @volatile var active: Tracer = _

  /** Self time of each span: its duration minus the part of it that its
    * children (spans whose parent it is) cover. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var sum = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      covered.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) sum += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) sum += curB - curA
      s.id -> math.max(0L, (s.endNs - s.startNs) - sum)
    }.toMap
  }
}

/** A [[Catalog]] that forwards every call to `delegate` inside a
  * `catalog` span. The engine takes the catalog as a parameter
  * (`LakehouseTable.load`, `Ingest`), so the traced run hands it this
  * wrapper and times the catalog layer from outside. */
final class TracingCatalog(val delegate: Catalog, tr: Trace) extends Catalog {
  private def sp[A](name: String)(body: => A): A = tr.span("catalog", name)(body)

  override def checkpointInterval: Int = delegate.checkpointInterval

  def createNamespace(ns: String): Unit = sp("createNamespace")(delegate.createNamespace(ns))
  def namespaceExists(ns: String): Boolean = sp("namespaceExists")(delegate.namespaceExists(ns))
  def listNamespaces(): Seq[String] = sp("listNamespaces")(delegate.listNamespaces())
  def tableExists(ns: String, t: String): Boolean = sp("tableExists")(delegate.tableExists(ns, t))
  def createTable(ns: String, name: String, schema: StructType,
      partitionColumns: Seq[String], properties: Map[String, String],
      ifNotExists: Boolean): TableMetadata =
    sp("createTable")(delegate.createTable(ns, name, schema, partitionColumns,
      properties, ifNotExists))
  def loadTable(ns: String, t: String): TableMetadata = sp("loadTable")(delegate.loadTable(ns, t))
  def dropTable(ns: String, t: String): Unit = sp("dropTable")(delegate.dropTable(ns, t))
  def listTables(ns: String): Seq[String] = sp("listTables")(delegate.listTables(ns))
  def renameTable(ns: String, t: String, newName: String): TableMetadata =
    sp("renameTable")(delegate.renameTable(ns, t, newName))
  def dataDir(ns: String, t: String): Path = delegate.dataDir(ns, t)
  def updateSchema(ns: String, t: String, schema: StructType): TableMetadata =
    sp("updateSchema")(delegate.updateSchema(ns, t, schema))
  def updateProperties(ns: String, t: String, set: Map[String, String],
      unset: Seq[String]): TableMetadata =
    sp("updateProperties")(delegate.updateProperties(ns, t, set, unset))
  def updatePartitionSpec(ns: String, t: String,
      partitionColumns: Seq[String]): TableMetadata =
    sp("updatePartitionSpec")(delegate.updatePartitionSpec(ns, t, partitionColumns))
  def snapshots(ns: String, t: String): Seq[Snapshot] = sp("snapshots")(delegate.snapshots(ns, t))
  override def currentSnapshot(ns: String, t: String): Option[Snapshot] =
    sp("currentSnapshot")(delegate.currentSnapshot(ns, t))
  override protected[graft] def windowSnapshots(ns: String, t: String,
      asOf: Option[Long]): Seq[Snapshot] =
    sp("windowSnapshots")(delegate.windowSnapshots(ns, t, asOf))
  def commit(ns: String, t: String, operation: String, files: Seq[DataFileEntry],
      summary: Map[String, String], expectedSnapshotId: Option[Long],
      parentIdOverride: Option[Long]): Snapshot =
    sp("commit")(delegate.commit(ns, t, operation, files, summary,
      expectedSnapshotId, parentIdOverride))
  def refs(ns: String, t: String): Map[String, SnapshotRef] = sp("refs")(delegate.refs(ns, t))

  // The three storage hooks below are protected in Catalog; the JVM sees
  // them as public, so they forward by reflection.
  private def forward(name: String, args: AnyRef*): AnyRef = {
    val m = delegate.getClass.getMethods.find(m =>
      m.getName == name && m.getParameterCount == args.size).getOrElse(
      throw new NoSuchMethodException(s"${delegate.getClass.getName}.$name"))
    try m.invoke(delegate, args: _*)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
  }
  protected def writeRefs(ns: String, t: String, all: Map[String, SnapshotRef]): Unit =
    sp("writeRefs") { forward("writeRefs", ns, t, all); () }
  protected def replaceLog(ns: String, t: String, kept: Seq[Snapshot]): Unit =
    sp("replaceLog") { forward("replaceLog", ns, t, kept); () }
  override protected def withTableMutex[A](ns: String, t: String)(body: => A): A =
    forward("withTableMutex", ns, t, () => body).asInstanceOf[A]
}

/** The SQL catalog of the traced run: the engine's [[graft.sql.GraftSqlCatalog]]
  * whose backing catalog is wrapped in a [[TracingCatalog]] once Spark has
  * initialized it. */
class TracedSqlCatalog extends graft.sql.GraftSqlCatalog {
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    super.initialize(name, options)
    val f = classOf[graft.sql.GraftSqlCatalog].getDeclaredField("backing")
    f.setAccessible(true)
    val tr: Trace = Option(Tracer.active).getOrElse(NoTrace)
    f.set(this, new TracingCatalog(f.get(this).asInstanceOf[Catalog], tr))
  }
}
