package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.ext.Dedup
import graft.tools.InternalCaches

/** Tripwire on the Spark jobs each stored near-dup verb runs. A verb on
  * a batch-sized input is bound by per-job overhead, so a job that comes
  * back (a schema-inference read, a single-partition exchange before a
  * write, a distinct before a broadcast, a second pass over the batch)
  * shows here before it shows as CPU time. Also pins that the screen
  * and the append leave no internal cache behind.
  */
class NearDupPlanCountSpec extends SparkSpec {
  import spark.implicits._

  private def corpus: DataFrame = (1L to 40L).map { i =>
    i -> (0 until 12).map(j => s"w${(i * 7 + j * j) % 23}").mkString(" ")
  }.toDF("doc_id", "text")

  /** Batch `b`: a copy and a near copy of indexed docs, and a fresh doc. */
  private def batch(b: Int): DataFrame = {
    val base = 1000L + 10L * b
    Seq(base -> "w1 w8 w17 w3 w12 w0 w13 w5 w20 w14 w18 w6",
      (base + 1) -> s"w2 w9 w18 w4 w13 w1 w14 w6 w21 w15 w19 w$b",
      (base + 2) -> s"fresh$b words that no indexed doc has at all")
      .toDF("doc_id", "text")
  }

  private def jobsOf(f: => Unit): Int = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      f
      ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get
  }

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_ndjobs_$tag").toString + "/idx"

  test("each near-dup verb runs a fixed number of jobs on a batch") {
    val dir = fresh("verbs")
    Dedup.writeNearDupIndex(corpus, dir, n = 3)
    val screen = jobsOf(Dedup.screenAgainstNearDupIndex(batch(1), dir, n = 3, minJaccard = 0.5))
    val append = jobsOf(Dedup.appendNearDupIndex(batch(1), dir, n = 3, maxFilesPerTable = 0))
    val delete = jobsOf(Dedup.deleteFromNearDupIndex(Seq(3L, 3L, 5L).toDF("doc_id"), dir))
    val screenAfterDelete =
      jobsOf(Dedup.screenAgainstNearDupIndex(batch(2), dir, n = 3, minJaccard = 0.5))
    val compact = jobsOf(Dedup.compactNearDupIndex(spark, dir))
    assert((screen, append, delete, screenAfterDelete, compact) === (6, 6, 2, 9, 9),
      "(screen, append, delete, screen after a takedown, compaction) jobs")
  }

  test("screens and appends leave the internal cache registry unchanged") {
    val dir = fresh("registry")
    Dedup.writeNearDupIndex(corpus, dir, n = 3)
    val before = InternalCaches.liveCount(spark)
    (1 to 5).foreach { b =>
      Dedup.screenAgainstNearDupIndex(batch(b), dir, n = 3, minJaccard = 0.5).collect()
      Dedup.appendNearDupIndexOnce(batch(b), dir, b.toLong, n = 3)
    }
    assert(InternalCaches.liveCount(spark) === before)
  }
}
