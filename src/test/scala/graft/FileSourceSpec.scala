package graft

import org.apache.spark.sql.functions._
import graft.sources.{FileSource, Tables}
import graft.sinks.JsonSink
import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class FileSourceSpec extends SparkSpec {
  import spark.implicits._

  test("CSV and JSON round-trip a fixture table with explicit schema") {
    val nation = Tables.load(spark, sf, "nation")
    val tmp = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    for (fmt <- Seq("csv", "json", "orc")) {
      FileSource.write(nation, s"$tmp/nation_$fmt", fmt)
      val back = FileSource.read(spark, s"$tmp/nation_$fmt", fmt, Some(nation.schema))
      assert(back.schema === nation.schema, s"$fmt schema")
      assert(back.orderBy("n_nationkey").collect().toSeq ===
        nation.orderBy("n_nationkey").collect().toSeq, s"$fmt data")
    }
  }

  test("CSV read without explicit schema is rejected (no inference at scale)") {
    intercept[IllegalArgumentException] {
      FileSource.read(spark, "/tmp/whatever", "csv", None)
    }
  }

  test("partitioned JSON sink writes prunable directories") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_psink").toString
    val nested = Tables.load(spark, sf, "nation")
    JsonSink.write(Seq("nation" -> nested), tmp, partitionBy = Seq("n_regionkey"))
    val dirs = new java.io.File(s"$tmp/nation").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.count(_.startsWith("n_regionkey=")) === 5)
    val back = spark.read.json(s"$tmp/nation")
    assert(back.count() === nested.count())
    val e = intercept[IllegalArgumentException] {
      JsonSink.write(Seq("nation" -> nested), tmp, partitionBy = Seq("no_such_col"))
    }
    assert(e.getMessage.contains("partitionBy columns not in nation: no_such_col"))
  }

  test("Tables.load normalizes a µs-TIMESTAMP events table to the ns-long contract") {
    // the driver fixture carries TIMESTAMP(NANOS) → ns-long under
    // nanosAsLong; an ordinary µs-grain producer carries a µs TIMESTAMP
    // instead — it must surface as the same ns-long `ts` (at µs grain:
    // the fixture's sub-µs digits are unrepresentable by a µs producer)
    val fixture = Tables.load(spark, sf, "events")
    assert(fixture.schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    val tmp = java.nio.file.Files.createTempDirectory("graft_tsus").toString
    fixture.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val rewritten = Tables.load(spark, tmp, "events")
    assert(rewritten.schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    val a = fixture.select(col("event_id"), expr("ts div 1000").as("us"))
      .orderBy("event_id").collect().toSeq
    val b = rewritten.select(col("event_id"), expr("ts div 1000").as("us"))
      .orderBy("event_id").collect().toSeq
    assert(a === b)
    assert(rewritten.select(max(expr("ts % 1000"))).head().getLong(0) === 0L)
  }

  test("streaming dedup drops repeated keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val df = mem.toDF().toDF("event_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = EventStream.dedupStream(df, Seq("event_id"))
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    val base = 86400L * 1000000L
    mem.addData((1L, base), (1L, base + 1000), (2L, base + 2000))
    q.processAllAvailable()
    mem.addData((1L, base + 3000), (3L, base + 4000)) // 1 is a dup within watermark
    q.processAllAvailable()
    val ids = spark.table("dedup").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L))
    q.stop()
  }
}
