package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.JdbcCatalog
import graft.pipeline.Ingest
import graft.table.LakehouseTable

/** `mor_read`: SQL reads through `GraftSqlCatalog` backed by a
  * `JdbcCatalog`, on a lineitem table that carries a fixed set of
  * outstanding equality deletes, a position delete and a `mergeDelta`
  * commit, all built in set-up. The timed loop only reads: point
  * lookups, partition-filtered aggregates, full aggregates and count(*)
  * in a fixed rotation, with literals drawn from the seed. */
object MorRead {
  val Ns = "mor"
  val Table = "lineitem"
  val Keys = Seq("l_orderkey", "l_linenumber")
  /** Query kinds, in the order the loop rotates through them. */
  val Rotation = Seq("point", "part_agg", "point", "full_agg", "point", "count")
  val Flags = Seq("A", "N", "R")
  val Day0 = java.time.LocalDateTime.of(1995, 1, 2, 0, 0)
  /** Maintenances timed after the loop; `maint_p50_ms` is their median. */
  val MaintSamples = 3
  /** Timed ingests of lineitem: one in set-up, the others after the loop. */
  val IngestSamples = 3

  private def dec(c: String, p: Int, s: Int): Column = col(c).cast(DecimalType(p, s))

  /** A query of the rotation: its kind, its SQL, and its parameter. */
  final case class Query(kind: String, sql: String, key: Long = 0L,
      flag: String = "", day: java.time.LocalDateTime = Day0, discount: Double = 0.0)

  /** The seeded query stream: the same seed gives the same texts. The
    * seed draws the point keys and the dates at random, but only the
    * order in which the partition flags and the discount literals come
    * round: part_agg queries cycle through the three flags (whose
    * partitions differ in size) and full_agg queries through the eleven
    * discounts (each new to the run until all have come), so every run
    * reads the same mix of partitions and compiles for the same number
    * of new literals, whatever its seed. */
  def queries(seed: Long, n: Int, table: String): IndexedSeq[Query] = {
    val r = new java.util.Random(seed * 7919L + 17)
    val flagStart = r.nextInt(Flags.size)
    val discounts = new scala.util.Random(r).shuffle((0 to 10).toIndexedSeq).map(_ / 100.0)
    var parts, fulls = 0
    (0 until n).map { i =>
      Rotation(i % Rotation.size) match {
        case "point" =>
          val k = r.nextInt(150000).toLong
          Query("point", s"SELECT count(*) AS n, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS s " +
            s"FROM $table WHERE l_orderkey = $k", key = k)
        case "part_agg" =>
          val f = Flags((flagStart + parts) % Flags.size); val d = Day0.plusDays(r.nextInt(2400))
          parts += 1
          Query("part_agg", s"SELECT l_linestatus, count(*) AS n, " +
            s"sum(CAST(l_quantity AS DECIMAL(18,2))) AS s FROM $table " +
            s"WHERE l_returnflag = '$f' AND l_shipdate >= TIMESTAMP_NTZ '${d.toLocalDate} 00:00:00' " +
            "GROUP BY l_linestatus ORDER BY l_linestatus", flag = f, day = d)
        case "full_agg" =>
          val x = discounts(fulls % discounts.size)
          fulls += 1
          Query("full_agg", "SELECT l_returnflag, l_linestatus, count(*) AS n, " +
            "sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS s " +
            f"FROM $table WHERE l_discount <= $x%.2f " +
            "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
            discount = x)
        case _ => Query("count", s"SELECT count(*) AS n FROM $table")
      }
    }
  }

  /** Rows as comparable strings (decimals without trailing zeros). */
  def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case null => "null"
    case d: java.math.BigDecimal =>
      if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
    case v => v.toString
  }.mkString("|"))

  /** Expected answers, computed by plain Spark from the expected content
    * with a few group-bys, then summed per query. */
  final class Expected(e: DataFrame, qs: Seq[Query]) {
    private def sumDec(xs: Iterable[java.math.BigDecimal]): java.math.BigDecimal =
      if (xs.isEmpty) null else xs.reduce(_ add _)
    private val points: Map[Long, (Long, java.math.BigDecimal)] =
      e.filter(col("l_orderkey").isin(qs.filter(_.kind == "point").map(_.key).distinct: _*))
        .groupBy("l_orderkey").agg(count(lit(1)), sum(dec("l_extendedprice", 18, 2)))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    private val byDay = e.groupBy("l_returnflag", "l_linestatus", "l_shipdate")
      .agg(count(lit(1)), sum(dec("l_quantity", 18, 2))).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[java.time.LocalDateTime](2),
        r.getLong(3), r.getDecimal(4)))
    private val byDiscount = e.groupBy("l_returnflag", "l_linestatus", "l_discount")
      .agg(count(lit(1)),
        sum(dec("l_extendedprice", 18, 2) * (lit(1) - dec("l_discount", 4, 2))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getDecimal(4)))
    val rows: Long = byDiscount.map(_._4).sum

    def apply(q: Query): Seq[Row] = q.kind match {
      case "point" =>
        val (n, s) = points.getOrElse(q.key, (0L, null))
        Seq(Row(n, s))
      case "part_agg" =>
        byDay.filter(t => t._1 == q.flag && !t._3.isBefore(q.day)).groupBy(_._2)
          .toSeq.sortBy(_._1).map { case (st, g) => Row(st, g.map(_._4).sum, sumDec(g.map(_._5))) }
      case "full_agg" =>
        byDiscount.filter(_._3 <= q.discount).groupBy(t => (t._1, t._2)).toSeq
          .sortBy(_._1).map { case ((f, st), g) => Row(f, st, g.map(_._4).sum, sumDec(g.map(_._5))) }
      case _ => Seq(Row(rows))
    }
  }

  def run(ctx: Ctx): Outcome = {
    import ctx.{rec, spark, trace}
    val wh = ctx.work.resolve("wh")
    val url = s"jdbc:derby:${ctx.work.resolve("derby").resolve("mor")};create=true"
    val srcPath = s"${ctx.data}/lineitem.parquet"
    val src = spark.read.parquet(srcPath)

    // The fixed merge-on-read state (independent of the seed): an
    // equality delete on l_orderkey, one on (l_orderkey, l_linenumber), a
    // position delete, and a mergeDelta that rewrites a range of orders.
    val ok = col("l_orderkey")
    val eqKeys = (0L until 150000L).filter(_ % 211 == 0)
    val eqPairs = src.filter(ok % 307 === 5).select(Keys.map(col): _*)
    val posDelete = col("l_partkey") % 97 === 3
    val merged = ok.between(20000, 20999)
    val mergeRows = src.filter(merged).withColumn("l_quantity", col("l_quantity") + 1)

    // Expected content, by plain Spark over the source parquet in one
    // pass: the merge replaces every row of its range (deleted or not)
    // with its new version; elsewhere the deletes apply.
    val expected = src
      .filter(merged || !(ok % 211 === 0 || ok % 307 === 5 || posDelete))
      .withColumn("l_quantity", when(merged, col("l_quantity") + 1).otherwise(col("l_quantity")))
      .cache()
    val qs = queries(ctx.seed, 400, s"lake.$Ns.$Table")
    val want = new Expected(expected, qs)
    // User data of the set-up writes: the ingested rows, the merged rows
    // and the deleted keys.
    val size = Rows.logicalBytesCol(src.schema)
    val (userBytes, sourceRows) = src.agg(sum(size), sum(when(merged, size)),
      count(when(ok % 307 === 5, 1)), count(lit(1))).head() match {
      case Row(a: Long, b: Long, d: Long, n: Long) => (a + b + 12L * d + 8L * eqKeys.size, n)
    }

    ctx.phase("checker ready")
    val setupStart = System.nanoTime()
    val cat = ctx.wrap(new JdbcCatalog(url, wh.toString))
    ctx.sqlCatalog("lake", wh.toString, Some(url))
    // An untimed ingest of orders first, and the same kinds of deletes
    // and merge on it, so the measured ingest and writes do not pay for
    // the first use of their code paths.
    val ordersPath = s"${ctx.data}/orders.parquet"
    rec.op("ingest", Warmup) {
      trace.span("pipeline", "ingest")(Ingest.run(spark, cat, Ns, "orders",
        ordersPath, partitionColumns = Seq("o_orderstatus")))
    }
    val orders = LakehouseTable.load(cat, spark, Ns, "orders")
    val ordersSrc = spark.read.parquet(ordersPath)
    val ook = col("o_orderkey")
    def warmWrite(name: String)(body: => Any): Unit =
      rec.op("write", Warmup)(trace.span("table", name)(body))
    warmWrite("deleteEq")(orders.deleteEq("o_orderkey", eqKeys))
    warmWrite("deleteEq")(orders.deleteEq(Seq("o_orderkey", "o_custkey"),
      ordersSrc.filter(ook % 307 === 5).select("o_orderkey", "o_custkey")))
    warmWrite("deleteMor")(orders.deleteMor(col("o_custkey") % 97 === 3))
    warmWrite("mergeDelta")(orders.mergeDelta(Seq("o_orderkey"),
      ordersSrc.filter(ook.between(20000, 20999)).withColumn("o_totalprice", col("o_totalprice") + 1)))
    def ingest(name: String): Unit = rec.op("ingest", Side) {
      trace.span("pipeline", "ingest")(Ingest.run(spark, cat, Ns, name, srcPath,
        partitionColumns = Seq("l_returnflag")))
    }.foreach { rep =>
      rec.ingest(rep.rowsIngested, rec.ops.last.ms)
      rec.check(rep.rowsIngested == sourceRows,
        s"mor_read ingest of $name: ${rep.rowsIngested} rows, want $sourceRows")
    }
    val before = Walk.sizes(wh)
    ingest(Table)
    val table = LakehouseTable.load(cat, spark, Ns, Table)
    def write(name: String)(body: => Any): Unit =
      rec.op("write", Side)(trace.span("table", name)(body))
    write("deleteEq")(table.deleteEq("l_orderkey", eqKeys))
    write("deleteEq")(table.deleteEq(Keys, eqPairs))
    write("deleteMor")(table.deleteMor(posDelete))
    write("mergeDelta")(table.mergeDelta(Keys, mergeRows))

    def read(q: Query, phase: Phase): Unit = rec.op("read", phase) {
      val df = trace.span("sql", "sql")(spark.sql(q.sql))
      trace.span("sql", "collect")(df.collect().toSeq)
    }.foreach { got =>
      rec.ops.last.rowsOut = got.map(r => r.getAs[Long]("n")).sum
      val exp = want(q)
      rec.check(canon(got) == canon(exp),
        s"mor_read ${q.kind}: got ${canon(got)} want ${canon(exp)} for ${q.sql}")
    }

    // Warm-up (set-up, untimed): one query of each kind.
    val warm = Rotation.distinct.map(k => qs.indexWhere(_.kind == k))
    warm.foreach(i => read(qs(i), Warmup))
    val setupS = (System.nanoTime() - setupStart) / 1e9

    ctx.phase("set-up done")
    ctx.windowStart(wh)
    var i = 0
    while (!rec.windowOver && i < qs.size) {
      if (!warm.contains(i)) read(qs(i), Window)
      i += 1
    }
    ctx.windowEnd(wh)
    ctx.phase("loop done")
    rec.checkRun(rec.windowOver, "mor_read ran out of queries before the window ended")

    val (data, deletes) = cat.liveFilesSplit(Ns, Table)
    val live = (data ++ deletes).map(_.sizeBytes).sum
    val compacted = want.rows * ctx.sourceBytesPerRow("lineitem", sourceRows)
    val logBytes = {
      implicit val f: org.json4s.Formats =
        org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints)
      cat.snapshots(Ns, Table).map(s =>
        org.json4s.jackson.Serialization.write(s).getBytes("UTF-8").length.toLong).sum
    }

    // After the loop: MaintSamples maintenances that retire the deletes,
    // each from the same state. Between two of them the loop's state is
    // put back (untimed) by a reset commit that re-lists the entries of
    // the loop's snapshot in replay order, as a checkpoint fold does;
    // the restored listing must equal the loop's, and the answers must
    // not change after a maintenance.
    val loopSnapshot = table.currentSnapshotId
    val loopEntries = cat.liveEntriesOrdered(Ns, Table)
    val countQuery = qs(qs.indexWhere(_.kind == "count"))
    var written = 0L
    for (k <- 1 to MaintSamples) {
      rec.op("maint", Side)(trace.span("table", "rewriteDeleteFiles")(table.rewriteDeleteFiles()))
      read(countQuery, After)
      if (k == 1) written = Walk.written(before, Walk.sizes(wh))._1
      if (k < MaintSamples) {
        cat.commit(Ns, Table, graft.catalog.Snaplog.OpReplace, loopEntries,
          Map("engine" -> "perfbench-restore", "restore-of" -> loopSnapshot.toString),
          expectedSnapshotId = Some(table.currentSnapshotId))
        rec.checkRun(cat.liveEntriesOrdered(Ns, Table) == loopEntries,
          "mor_read: restoring the loop's state did not re-list its entries")
      }
    }
    // The other ingests of lineitem, into tables of their own that are
    // dropped again (untimed); `ingest_rows_per_s` covers all of them.
    for (k <- 2 to IngestSamples) {
      ingest(s"${Table}_$k")
      cat.dropTable(Ns, s"${Table}_$k")
    }
    expected.unpersist()

    Outcome(setupS,
      writeAmp = written.toDouble / math.max(1L, userBytes),
      spaceAmp = live / math.max(1.0, compacted),
      filesLive = data.size, deleteFilesLive = deletes.size, logBytes = logBytes,
      inputDigest = Digest.of(qs.map(_.sql)))
  }
}
