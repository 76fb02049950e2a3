package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}

import graft.catalog.{JdbcCatalog, Snaplog}
import graft.pipeline.{Ingest, Upsert}
import graft.table.LakehouseTable

/** A small pass over the code paths of both workloads, run once by
  * perfbench/build.py so the JVM can archive the classes it loads
  * (class-data sharing); every benchmark run then starts from that
  * archive. It measures nothing. */
object Train {
  def run(ctx: Ctx): Unit = {
    import ctx.spark
    val li = spark.read.parquet(s"${ctx.data}/lineitem.parquet").limit(5000)
    val wh = ctx.work.resolve("wh").toString
    val snap = new Snaplog(wh, checkpointInterval = 2)
    Ingest.ingestDf(snap, "train", "li", li, Seq("l_returnflag"))
    val t = LakehouseTable.load(snap, spark, "train", "li")
    val rows = li.limit(50).collect().toSeq.map(r => Row.fromSeq(r.toSeq :+ "U"))
    val changes = spark.createDataFrame(rows.asJava, li.schema.add("op", StringType))
    (1 to 2).foreach(_ => Upsert.applyChanges(t, changes, CdcMerge.Keys))
    t.rewriteDeleteFiles()
    t.scan().agg(count(lit(1)), sum(xxhash64(li.columns.toIndexedSeq.map(col): _*)
      .cast(DecimalType(38, 0)))).collect()

    val url = s"jdbc:derby:${ctx.work.resolve("derby").resolve("train")};create=true"
    val jdbc = new JdbcCatalog(url, wh)
    Ingest.ingestDf(jdbc, "trainj", "li", li, Seq("l_returnflag"))
    val j = LakehouseTable.load(jdbc, spark, "trainj", "li")
    j.deleteEq("l_orderkey", Seq[Any](1L, 2L))
    j.deleteMor(col("l_partkey") === 7)
    ctx.sqlCatalog("lake", wh, Some(url))
    MorRead.queries(0, 6, "lake.trainj.li").foreach(q => spark.sql(q.sql).collect())
  }
}
