package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.sinks.{DocumentSink, JsonDirSink, MongoShapedSink, ZipArraySink}

/** The sink seam: one set of mapped collections dispatched through the
  * [[DocumentSink]] trait to every impl, plus the Mongo-shaped impl's
  * command-batch text contract (URI validation, batching, document
  * payload, graceful skip without a server).
  */
class DocumentSinkSpec extends SparkSpec {
  import spark.implicits._

  private lazy val collections: Seq[(String, DataFrame)] = Seq(
    "region" -> Seq((1, "Eastern"), (2, "Western")).toDF("regionId", "name"),
    "void" -> Seq.empty[(Int, String)].toDF("regionId", "name"),
    "customer" -> Seq(("ALFKI", 7L)).toDF("custId", "orders"))

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("every sink impl honors the shared contract through the trait") {
    val dir = tmp("sink_json")
    val zip = tmp("sink_zip") + "/out.zip"
    // no Mongo server on localhost → connection refused → graceful skip
    // (a non-local address would hit this container's transparent proxy
    // and look "reachable")
    val sinks: Seq[DocumentSink] = Seq(
      JsonDirSink(dir),
      ZipArraySink(zip),
      MongoShapedSink("mongodb://127.0.0.1:27017", "northwind"))
    sinks.foreach { sink =>
      assert(sink.write(collections) === Seq("region", "customer"),
        s"${sink.getClass.getSimpleName}: non-empty collections, input order")
    }
    // and the two file impls actually produced their layouts
    assert(new java.io.File(s"$dir/region").isDirectory)
    assert(new java.io.File(s"$dir/customer").isDirectory)
    assert(!new java.io.File(s"$dir/void").exists, "an empty collection leaves no directory")
    assert(new java.io.File(zip).isFile)
  }

  test("an empty collection removes its directory left over from an earlier run") {
    val dir = tmp("sink_stale")
    assert(JsonDirSink(dir).write(Seq("void" -> collections.head._2)) === Seq("void"))
    assert(new java.io.File(s"$dir/void").isDirectory)
    assert(JsonDirSink(dir).write(collections) === Seq("region", "customer"))
    assert(!new java.io.File(s"$dir/void").exists, "stale documents of an earlier run survived")
    assert(spark.read.json(s"$dir/region").count() === 2)
  }

  test("mongo-shaped sink runs one job per collection when no server answers") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sink = MongoShapedSink("mongodb://127.0.0.1:27017", "northwind")
    val (empty, nonEmpty) = collections.partition(_._1 == "void")
    spark.sparkContext.addSparkListener(l)
    try {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      jobs.set(0)
      assert(sink.write(nonEmpty) === Seq("region", "customer"))
      org.apache.spark.ListenerDrain(spark.sparkContext)
      assert(jobs.get === nonEmpty.size, "no emptiness probe before staging the batches")
      jobs.set(0)
      assert(sink.write(empty) === Seq.empty,
        "an empty collection stages no batch and is skipped")
      org.apache.spark.ListenerDrain(spark.sparkContext)
      assert(jobs.get === 1)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("mongo-shaped command batches carry the documented insert shape") {
    val sink = MongoShapedSink("mongodb://db.internal:28000", "nw", batchSize = 1)
    assert(sink.host === "db.internal" && sink.port === 28000)
    val batches = sink.commandBatches("region", collections.head._2)
      .collect().sorted.toSeq
    assert(batches.size === 2, "batchSize=1 → one command per document")
    assert(batches.head ===
      """{"insert":"region","$db":"nw","documents":[{"regionId":1,"name":"Eastern"}]}""")
    // default batching folds everything into one command
    val one = MongoShapedSink("mongodb://h", "nw")
      .commandBatches("region", collections.head._2.coalesce(1)).collect()
    assert(one.length === 1 && one.head.contains(
      """"documents":[{"regionId":1,"name":"Eastern"},{"regionId":2,"name":"Western"}]"""))
  }

  test("mongo URI and database validation fail fast with clear messages") {
    assert(MongoShapedSink("mongodb://somehost", "x").port === 27017)
    intercept[IllegalArgumentException](MongoShapedSink("http://h:1", "x"))
    intercept[IllegalArgumentException](MongoShapedSink("mongodb://", "x"))
    intercept[IllegalArgumentException](MongoShapedSink("mongodb://h", "a/b"))
    intercept[IllegalArgumentException](MongoShapedSink("mongodb://h", "x", batchSize = 0))
  }
}
