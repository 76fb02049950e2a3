package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.Snaplog
import graft.pipeline.{Ingest, Upsert}
import graft.table.LakehouseTable

/** `cdc_merge`: keyed change batches (updates, deletes, new lines) go
  * through `Upsert.applyChanges` into a Snaplog table seeded from
  * lineitem; every [[BatchesPerCycle]] batches a `rewriteDeleteFiles`
  * maintenance commit runs, then a full read checks the table's content
  * hash against the changes applied by hand. */
object CdcMerge {
  val Ns = "cdc"
  val Table = "lineitem"
  val Keys = Seq("l_orderkey", "l_linenumber")
  val BatchesPerCycle = 4
  val AmpCycles = 2
  /** Snaplog's checkpoint fold interval. The default (100 commits) is
    * never reached in a run of seconds, so the table folds every 3
    * commits: each cycle's 4 batches cross one fold. */
  val FoldEvery = 3
  /** Batches change a window of this many consecutive orders ... */
  val WindowOrders = 400
  /** ... that starts in the newest quarter of the order keys (changes
    * favour recent orders). */
  val RecentFrom = 112500
  val DigestBatches = 7

  def run(ctx: Ctx): Outcome = {
    import ctx.{rec, spark, trace}
    val wh = ctx.work.resolve("wh")
    val src = spark.read.parquet(s"${ctx.data}/lineitem.parquet")
    val schema = src.schema
    val changeSchema = schema.add("op", StringType)
    val cols = schema.fieldNames.toIndexedSeq.map(col)
    val hashDec = xxhash64(cols: _*).cast(DecimalType(38, 0))

    // The checker's model: the rows batches can touch (orders from
    // RecentFrom on), keyed and hashed by plain Spark, plus the count and
    // hash sum of all older rows; changes are applied to it by hand.
    val model = new Model
    val older = col("l_orderkey") < RecentFrom
    val base = src.agg(max("l_orderkey"), count(when(older, 1)),
      sum(when(older, hashDec)), count(lit(1))).head()
    val maxOrder = base.getLong(0)
    val sourceRows = base.getLong(3)
    model.count = base.getLong(1)
    model.hash = base.getDecimal(2).toBigInteger.longValue
    src.filter(!older).select(col("l_orderkey"), col("l_linenumber"), xxhash64(cols: _*))
      .collect().foreach(r => model.add(r.getLong(0), r.getInt(1), r.getLong(2)))
    val gen = new ChangeGen(ctx.seed, model, schema,
      RecentFrom, math.max(RecentFrom + 1, maxOrder - WindowOrders))

    ctx.phase("checker ready")
    val setupStart = System.nanoTime()
    val cat = ctx.wrap(new Snaplog(wh.toString, checkpointInterval = FoldEvery))
    rec.op("ingest", Warmup) {
      trace.span("pipeline", "ingest")(Ingest.ingestDf(cat, Ns, Table,
        src.repartitionByRange(16, col("l_orderkey"))))
    }
    val table = LakehouseTable.load(cat, spark, Ns, Table)

    var changeBytes = 0L
    def write(phase: Phase): Unit = {
      val b = gen.next()
      val df = spark.createDataFrame(b.rows.asJava, changeSchema)
      rec.op("write", phase) {
        trace.span("pipeline", "applyChanges")(Upsert.applyChanges(table, df, Keys))
      }.foreach { _ =>
        model.apply(b)
        if (phase == Window) {
          changeBytes += b.bytes
          rec.ingest(b.rows.size, rec.ops.last.ms)
        }
      }
    }
    def maintain(phase: Phase): Unit = rec.op("maint", phase) {
      trace.span("table", "rewriteDeleteFiles")(table.rewriteDeleteFiles())
    }
    def verify(phase: Phase): Unit = rec.op("read", phase) {
      val df = trace.span("table", "scan")(table.scan())
      trace.span("sql", "collect")(df.agg(count(lit(1)), sum(hashDec)).collect().head)
    }.foreach { r =>
      val n = r.getLong(0)
      val h = r.getDecimal(1).toBigInteger.longValue
      rec.ops.last.rowsOut = n
      rec.check(n == model.count && h == model.hash,
        s"cdc_merge content: engine ($n rows, hash $h) vs model " +
          s"(${model.count} rows, hash ${model.hash})")
    }

    // Warm-up (set-up, untimed): two batches, one maintenance, one read.
    // It also checks the model's row hash against Spark's.
    val probe = gen.peek()
    val sparkSum = spark.createDataFrame(probe.rows.asJava, changeSchema)
      .filter(col("op") =!= "D").agg(sum(hashDec))
      .head().getDecimal(0).toBigInteger.longValue
    rec.checkRun(sparkSum == probe.upsertHashSum, "the model's row hash differs from Spark's xxhash64")
    write(Warmup); write(Warmup); maintain(Warmup); verify(Warmup)
    val setupS = (System.nanoTime() - setupStart) / 1e9

    ctx.phase("set-up done")
    // Write amplification covers the first AmpCycles cycles only: each
    // maintenance rewrites the previous one's output again, so over a
    // whole loop it would grow with the number of cycles a run fits.
    ctx.windowStart(wh)
    val loopStart = Walk.sizes(wh)
    var cycles = 0
    var amp = 0.0
    while (!rec.windowOver) {
      (1 to BatchesPerCycle).foreach(_ => write(Window))
      maintain(Window)
      verify(Window)
      cycles += 1
      if (cycles == AmpCycles)
        amp = Walk.written(loopStart, Walk.sizes(wh))._1.toDouble / math.max(1L, changeBytes)
    }
    ctx.windowEnd(wh)
    rec.checkRun(cycles >= AmpCycles, s"cdc_merge ran $cycles cycles, fewer than $AmpCycles")
    ctx.phase("loop done")

    val (data, deletes) = cat.liveFilesSplit(Ns, Table)
    val live = (data ++ deletes).map(_.sizeBytes).sum
    val compacted = model.count * ctx.sourceBytesPerRow("lineitem", sourceRows)
    val logBytes = Walk.sizes(wh).collect {
      case (p, n) if p.endsWith("snapshots.jsonl") => n
    }.sum
    Outcome(setupS,
      writeAmp = amp,
      spaceAmp = live / math.max(1.0, compacted),
      filesLive = data.size, deleteFilesLive = deletes.size, logBytes = logBytes,
      inputDigest = gen.digestHex)
  }

  /** The table's expected content: per key, the number of rows and the
    * sum of their hashes; per order, the line numbers present. */
  final class Model {
    private val rows = mutable.LongMap.empty[Int]
    private val hashes = mutable.LongMap.empty[Long]
    val lines: mutable.LongMap[Int] = mutable.LongMap.empty[Int]
    var count = 0L
    var hash = 0L

    private def key(order: Long, line: Int): Long = order * 16 + line

    def add(order: Long, line: Int, h: Long): Unit = {
      val k = key(order, line)
      rows(k) = rows.getOrElse(k, 0) + 1
      hashes(k) = hashes.getOrElse(k, 0L) + h
      lines(order) = lines.getOrElse(order, 0) | (1 << line)
      count += 1; hash += h
    }

    private def remove(order: Long, line: Int): Unit = {
      val k = key(order, line)
      count -= rows.getOrElse(k, 0); hash -= hashes.getOrElse(k, 0L)
      rows.remove(k); hashes.remove(k)
      lines(order) = lines.getOrElse(order, 0) & ~(1 << line)
    }

    def apply(b: Batch): Unit = b.changes.foreach { c =>
      remove(c.order, c.line)
      c.hash.foreach(h => add(c.order, c.line, h))
    }
  }

  /** One keyed change; `hash` is None for a delete. */
  final case class Change(order: Long, line: Int, hash: Option[Long])

  final case class Batch(rows: Seq[Row], changes: Seq[Change], bytes: Long) {
    def upsertHashSum: Long = changes.flatMap(_.hash).sum
  }

  /** Seeded change generator: batch `i` depends only on the seed, `i`
    * and the content the earlier batches left (which the model tracks),
    * so one seed gives byte-identical batches in every run. */
  final class ChangeGen(seed: Long, model: Model, schema: StructType,
      from: Long, until: Long) {
    private var index = 0
    private val Flags = Array("A", "N", "R")
    private val Statuses = Array("F", "O")
    private val Day0 = java.time.LocalDateTime.of(1995, 1, 2, 0, 0)
    private var peeked: Option[Batch] = None
    private val digest = java.security.MessageDigest.getInstance("SHA-256")

    /** SHA-256 over the first [[DigestBatches]] batches (every run makes
      * at least that many). */
    def digestHex: String =
      digest.clone().asInstanceOf[java.security.MessageDigest].digest()
        .map("%02x".format(_)).mkString

    def peek(): Batch = { if (peeked.isEmpty) peeked = Some(make()); peeked.get }

    def next(): Batch = { val b = peek(); peeked = None; b }

    private def make(): Batch = {
      val r = new java.util.Random(seed * 1000003L + index)
      index += 1
      val lo = from + (r.nextDouble() * (until - from)).toLong
      val rows = mutable.ArrayBuffer.empty[Row]
      val changes = mutable.ArrayBuffer.empty[Change]
      def upsert(order: Long, line: Int): Unit = {
        val qty = (1 + r.nextInt(50)).toDouble
        val price = math.round(qty * (900 + r.nextInt(15000) / 100.0) * 100) / 100.0
        val v = Seq[Any](order, r.nextInt(20000).toLong, r.nextInt(1000).toLong, line,
          qty, price, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Flags(r.nextInt(3)), Statuses(r.nextInt(2)), Day0.plusDays(r.nextInt(2499)))
        rows += Row.fromSeq(v :+ "U")
        changes += Change(order, line, Some(Rows.hash(v, schema)))
      }
      var order = lo
      while (order < lo + WindowOrders) {
        val mask = model.lines.getOrElse(order, 0)
        (1 to 15).foreach { line =>
          if ((mask & (1 << line)) != 0) {
            val x = r.nextDouble()
            if (x < 0.45) upsert(order, line)
            else if (x < 0.6) {
              rows += Row.fromSeq(Seq[Any](order, null, null, line) ++
                Seq.fill(schema.size - 4)(null) :+ "D")
              changes += Change(order, line, None)
            }
          }
        }
        if (r.nextDouble() < 0.45) {
          (1 to 15).find(l => (mask & (1 << l)) == 0).foreach(l => upsert(order, l))
        }
        order += 1
      }
      val bytes = rows.map(Rows.logicalBytes).sum
      if (index <= DigestBatches)
        rows.foreach(row => digest.update(row.mkString("|").getBytes("UTF-8")))
      Batch(rows.toSeq, changes.toSeq, bytes)
    }
  }
}
