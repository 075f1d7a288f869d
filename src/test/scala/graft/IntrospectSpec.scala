package graft

import java.nio.file.Files

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.operators.Catalog
import graft.sources.Tables

/** `Catalog.introspect` takes its row counts from the Parquet footers of
  * each table's input files on the driver: the numbers must be the S7
  * count query's ([[Catalog.tableCounts]]) on every layout, and getting
  * them must cost no Spark job.
  */
class IntrospectSpec extends SparkSpec {

  private def assertCountsMatch(dir: String): Unit = {
    val db = Catalog.introspect(spark, dir, Tables.tpchSpec)
    val counted = Catalog.tableCounts(spark, dir, Tables.tpchSpec.tableNames)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(db.tables.map(t => t.name -> t.numOfRows).toMap === counted, dir)
  }

  test("introspected row counts equal the S7 count query at sf0.001 and sf0.01") {
    assertCountsMatch(sf)
    assertCountsMatch(new java.io.File(sf).getParent + "/sf0.01")
  }

  test("row counts sum every part file of a table written as several") {
    val dir = Files.createTempDirectory("graft_parts").toString
    Tables.tpchSpec.tableNames.foreach { t =>
      Tables.load(spark, sf, t).repartition(3).write.parquet(s"$dir/$t.parquet")
    }
    assert(Tables.load(spark, dir, "orders").inputFiles.length === 3)
    assertCountsMatch(dir)
  }

  test("introspection submits no Spark job") {
    // a table's first load infers its schema with a job; that frame is
    // the loader's, shared by every later layer, so load it up front
    Tables.tpchSpec.tableNames.foreach(Tables.load(spark, sf, _))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val db = Catalog.introspect(spark, sf, Tables.tpchSpec)
      assert(db("orders").numOfRows === 1500)
      ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get === 0)
  }
}
