package graft

import org.apache.spark.storage.StorageLevel

import graft.tools.InternalCaches

/** Contract of the internal-persist registry: memoization by canonical
  * plan (re-invocation must NOT stack cache entries — the leak the
  * registry exists to prevent) and a working release handle.
  */
class InternalCachesSpec extends SparkSpec {
  import spark.implicits._

  private def freshFrame(tag: String) =
    Seq((1, tag), (2, tag)).toDF("id", "v").groupBy("v").count()

  test("semantically equal plans share one entry; release unpersists") {
    val before = InternalCaches.liveCount(spark)
    val a = InternalCaches.persist(freshFrame("x"))
    a.count()
    // a SECOND build of the same logical plan (fresh expression ids)
    // must land on the same entry — this is what bounds a long-lived
    // session's entry count at O(distinct inputs)
    val b = InternalCaches.persist(freshFrame("x"))
    assert(InternalCaches.liveCount(spark) === before + 1)
    assert(b.storageLevel !== StorageLevel.NONE)
    // a different plan is a different entry
    val c = InternalCaches.persist(freshFrame("y"))
    assert(InternalCaches.liveCount(spark) === before + 2)
    InternalCaches.release(spark)
    assert(InternalCaches.liveCount(spark) === 0)
    assert(a.storageLevel === StorageLevel.NONE, "release must unpersist")
    assert(c.storageLevel === StorageLevel.NONE)
    // released frames stay usable — they just recompute
    assert(a.count() === 1)
  }

  test("releaseByPath drops frames built OVER a cached frame reading the path") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    InternalCaches.release(spark)
    val root = Files.createTempDirectory("graft_cachepath").toString
    val idx = s"$root/index"
    val other = s"$root/elsewhere"
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").write.parquet(idx)
    Seq((1L, 1L)).toDF("k", "v").write.parquet(other)
    // frame A reads the index directly; materialize it so the optimizer
    // will cache-substitute its subtree in any LATER plan
    val a = InternalCaches.persist(spark.read.parquet(idx))
    a.count()
    // frame B is built over cached A: Dataset.inputFiles on B walks the
    // substituted optimized plan and reports EMPTY — the round-14
    // verdict's blind spot. The registration-time snapshot must still
    // see the file relations (analyzed plan), or failing that, the
    // empty list must be treated as "unknown" and dropped.
    val b = InternalCaches.persist(a.groupBy("k").agg(sum("v").as("s")))
    b.count()
    // control: a frame over an unrelated path must survive the release
    val c = InternalCaches.persist(spark.read.parquet(other))
    c.count()
    InternalCaches.releaseByPath(spark, idx)
    assert(a.storageLevel === StorageLevel.NONE, "direct reader dropped")
    assert(b.storageLevel === StorageLevel.NONE,
      "cache-on-cache dependent frame must be dropped too — its " +
        "materialized data embeds the old index geometry")
    assert(c.storageLevel !== StorageLevel.NONE,
      "frames over unrelated paths are precise-kept, not blanket-dropped")
    InternalCaches.release(spark)
  }

  test("the Bloom span screen leaves no tracked broadcast behind, batch after batch") {
    val idx = java.nio.file.Files.createTempDirectory("graft_bloom_bc").toString
    graft.ext.Dedup.writeGramIndexBucketed(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different historical content here")).toDF("doc_id", "text"),
      idx, k = 3, buckets = 4)
    val before = InternalCaches.trackedBroadcasts(spark)
    (1 to 4).foreach { i =>
      val batch = Seq((10L + i, s"batch $i says the quick brown fox jumps"))
        .toDF("doc_id", "text")
      assert(graft.ext.Dedup.duplicateSpansAgainstIndexBloom(batch, idx, k = 3)
        .count() === 1, s"batch $i keeps its one copied span")
    }
    assert(InternalCaches.trackedBroadcasts(spark) === before)
  }

  test("release unpersists tracked broadcasts without killing held frames") {
    val bc = InternalCaches.trackBroadcast(spark,
      spark.sparkContext.broadcast(Array(1L, 2L, 3L)))
    // a lazy frame still holding the broadcast handle
    val held = spark.range(5).filter { r => bc.value.contains(r.longValue) }
    InternalCaches.release(spark)
    // unpersist (unlike destroy) leaves the driver value: the held
    // frame re-ships the blob and keeps executing after release
    assert(held.count() === 3)
  }
}
