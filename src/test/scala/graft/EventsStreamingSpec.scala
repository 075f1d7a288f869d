package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ext.Events
import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, Session}

class EventsStreamingSpec extends SparkSpec {
  import spark.implicits._

  private val us = 1000000L
  private val min = 60 * us
  // offset all event times well past epoch 0: the initial watermark is 0
  // and stateful operators drop rows at/behind it
  private val base = 86400L * us

  test("batch sessionization splits on >30min gaps with deterministic ordering") {
    val events = Seq(
      (1L, 0L * min, 7L), (2L, 10L * min, 7L), (3L, 50L * min, 7L), // gap 40min
      (4L, 55L * min, 7L),
      (5L, 0L * min, 8L)
    ).map { case (id, ts, u) => (id, ts * 1000, u, "click", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Events.sessionize(events)
      .orderBy("user_id", "session_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    assert(out === Array(
      (7L, 1L, 2L, 10L * min), // session 1: events 1,2 (10 min long)
      (7L, 2L, 2L, 5L * min),  // session 2: events 3,4
      (8L, 1L, 1L, 0L)))
  }

  test("streaming hourly counts finalize after the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts_us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = EventStream.hourlyCounts(df, watermark = "10 minutes")
      .writeStream.format("memory").queryName("hourly").outputMode("append").start()
    val h = 3600L * us
    mem.addData((1L, 0L, "click", 1.0), (2L, 10L * min, "click", 2.0))
    q.processAllAvailable()
    // window [0,1h) not final yet
    assert(spark.table("hourly").count() === 0)
    mem.addData((3L, 2 * h, "view", 1.0)) // watermark → 1h50m, closes [0,1h)
    q.processAllAvailable()
    val rows = spark.table("hourly").collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("n_events") === 2)
    assert(rows.head.getAs[String]("hour_start") === "1970-01-01 00:00:00")
    q.stop()
  }

  test("streaming sessionization emits closed sessions on gap and on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.sessionize(spark, mem.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    mem.addData(
      Event(1, base, 7, "click", 1.0),
      Event(2, base + 10 * min, 7, "click", 1.0))
    q.processAllAvailable()
    assert(spark.table("sessions").count() === 0, "session still open")
    // same batch gap-close: a later event 40min after the previous one
    mem.addData(Event(3, base + 50 * min, 7, "click", 1.0))
    q.processAllAvailable()
    val afterGap = spark.table("sessions").as[Session].collect()
    assert(afterGap.toSeq === Seq(Session(7, base, base + 10 * min, 2)))
    // event-time timeout: push the watermark far past end+gap with
    // another user's event
    mem.addData(Event(4, base + 600 * min, 8, "click", 1.0))
    q.processAllAvailable()
    mem.addData(Event(5, base + 1200 * min, 8, "click", 1.0))
    q.processAllAvailable()
    val all = spark.table("sessions").as[Session].collect().toSet
    assert(all.contains(Session(7, base + 50 * min, base + 50 * min, 1)),
      s"timeout-closed session missing: $all")
    q.stop()
  }

  test("file-transport streaming sessionization equals the batch operator") {
    // the crossover demonstrator: same bounded-state operator as the
    // MemoryStream parity harness, but fed time-ranged parquet files
    // with no driver-side collect — the form that runs where x14's
    // corpus-wide sort loses. Parity must stay exact through the
    // range-partitioned staging and the sentinel-file drain.
    val events = graft.sources.Tables.load(spark, sf, "events")
    val streamed = EventStream.sessionizeFileReplay(spark, events, nBatches = 4)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
    val batch = Events.sessionize(events)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "file-replay streaming sessions diverge from the batch operator")
    assert(streamed.count() === batch.count())
  }

  test("incremental sessionization: merge, close, and idle-carry across the batch seam") {
    import graft.ext.Events
    // user 7: session spans the seam (10-min gap) -> must MERGE
    // user 8: gap across the seam (40 min)        -> state must CLOSE
    // user 9: absent from batch 2                  -> state carries OPEN
    def df(rows: Seq[(Long, Long, Long)]) =
      rows.map { case (id, tsMin, u) => (id, tsMin * min * 1000, u, "click", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batch1 = df(Seq((1L, 0L, 7L), (2L, 10L, 7L), (3L, 5L, 8L), (4L, 0L, 9L)))
    val batch2 = df(Seq((5L, 20L, 7L), (6L, 45L, 8L)))
    val st0 = Seq.empty[(Long, Long, Long, Long)]
      .toDF("user_id", "session_start_us", "session_end_us", "n_events")
    val out1 = Events.sessionizeIncremental(batch1, st0)
    assert(out1.filter(!col("is_open")).count() === 0, "everything still open")
    val out2 = Events.sessionizeIncremental(batch2, out1.filter(col("is_open")))
    val byUser = (out2.collect().map(r => (r.getLong(0),
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))).toMap
    assert(byUser(7L) === ((0L, 20L * min, 3L, true)), s"merge failed: $byUser")
    assert(byUser(9L) === ((0L, 0L, 1L, true)), s"idle carry failed: $byUser")
    val u8 = out2.filter(col("user_id") === 8L).collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getBoolean(4))).toSet
    assert(u8 === Set((5L * min, 1L, false), (45L * min, 1L, true)),
      s"state close failed: $u8")
    // the fold equals the one-shot batch build
    val folded = out2.select("user_id", "session_start_us", "session_end_us", "n_events")
    val oneShot = Events.sessionize(df(Seq((1L, 0L, 7L), (2L, 10L, 7L), (3L, 5L, 8L),
        (4L, 0L, 9L), (5L, 20L, 7L), (6L, 45L, 8L))))
      .select("user_id", "session_start_us", "session_end_us", "n_events")
    assert(folded.exceptAll(oneShot).isEmpty && oneShot.exceptAll(folded).isEmpty,
      "incremental fold diverges from the one-shot sessionize")
    // out-of-order feeding must fail loudly
    intercept[IllegalArgumentException] {
      Events.sessionizeIncremental(batch1, out2.filter(col("is_open")))
    }
  }

  test("stored-state incremental sessionization: fold across runs equals one-shot") {
    import graft.ext.Events
    val root = java.nio.file.Files
      .createTempDirectory("graft_incstate_spec").toString
    val (stateDir, closedDir) = (s"$root/state", s"$root/closed")
    val events = graft.sources.Tables.load(spark, sf, "events")
    val mm = events.select(expr("ts div 1000").as("us"))
      .agg(org.apache.spark.sql.functions.min(col("us")),
        org.apache.spark.sql.functions.max(col("us"))).head()
    val split = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0) + 1) / 2
    val c1 = Events.sessionizeIncrementalStored(
      events.filter(expr("ts div 1000") < split), stateDir, closedDir)
    c1.count() // first batch's closed set (may be empty) must be readable
    val c2 = Events.sessionizeIncrementalStored(
      events.filter(expr("ts div 1000") >= split), stateDir, closedDir)
    c2.count()
    // closed-across-runs + final stored open state = the one-shot build
    val folded = spark.read.parquet(closedDir)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .unionByName(spark.read.parquet(stateDir))
    val oneShot = Events.sessionize(events)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
    assert(folded.exceptAll(oneShot).isEmpty && oneShot.exceptAll(folded).isEmpty,
      "stored-state fold diverges from the one-shot sessionize")
    assert(folded.count() === oneShot.count())

    // crash recovery: simulate the window where the old state was set
    // aside but the promotion never ran — stateDir absent, .next holds
    // the committed post-batch state. The next run must PROMOTE it,
    // not silently restart from empty (which would never close the
    // open sessions).
    val nOpen = spark.read.parquet(stateDir).count()
    assert(nOpen > 0, "fixture should leave open sessions")
    val stF = new java.io.File(stateDir)
    assert(stF.renameTo(new java.io.File(stateDir + ".next")))
    val farUs = mm.getLong(1) + 48L * 3600 * 1000000
    val late = Seq((999999L, farUs * 1000, -42L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val c3 = Events.sessionizeIncrementalStored(late, stateDir, closedDir)
    c3.count()
    // users absent from the batch stay open BY DESIGN (gap
    // sessionization closes a session only when its user reappears
    // past the gap) — so recovery shows as the old opens CARRIED in
    // the new state beside the new user, where a silent reset would
    // leave exactly one row
    assert(spark.read.parquet(stateDir).count() === nOpen + 1,
      "promotion must recover the open sessions, not restart from empty")
  }

  test("stored-state retry detection: replace before the swap, skip after it") {
    import graft.ext.Events
    def copyTree(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs()
        src.listFiles().foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath)
    }
    val root = java.nio.file.Files
      .createTempDirectory("graft_incretry_spec").toString
    val (stateDir, closedDir) = (s"$root/state", s"$root/closed")
    def df(rows: Seq[(Long, Long, Long)]) =
      rows.map { case (id, tsMin, u) => (id, tsMin * min * 1000, u, "click", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batch1 = df(Seq((1L, 0L, 7L), (2L, 10L, 7L), (3L, 0L, 8L)))
    val batch2 = df(Seq((4L, 60L, 7L), (5L, 15L, 8L)))
    Events.sessionizeIncrementalStored(batch1, stateDir, closedDir).count()
    // pre-batch2 state saved aside so the crash window can be replayed
    copyTree(new java.io.File(stateDir), new java.io.File(s"$root/state_pre"))
    Events.sessionizeIncrementalStored(batch2, stateDir, closedDir).count()
    val closedAfter2 = spark.read.parquet(closedDir)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
    val snapshot = closedAfter2.collect().toSet
    assert(snapshot.nonEmpty, "batch2 should close user 7's first session")
    val nParts = new java.io.File(closedDir).list().count(_.startsWith("batch="))

    // REPLAY 1 — crash hit after the partition commit, before the state
    // swap: stored state is the pre-batch picture. The retry must
    // REPLACE the committed partition, not append a duplicate.
    graft.tools.LocalFs.deleteRecursively(new java.io.File(stateDir))
    copyTree(new java.io.File(s"$root/state_pre"), new java.io.File(stateDir))
    Events.sessionizeIncrementalStored(batch2, stateDir, closedDir).count()
    assert(new java.io.File(closedDir).list().count(_.startsWith("batch=")) === nParts,
      "retry before the swap must replace, not append")
    assert(spark.read.parquet(closedDir)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect().toSet === snapshot)

    // REPLAY 2 — crash hit after recovery promoted .next: state already
    // includes the batch. The retry must SKIP and return the committed
    // partition unchanged.
    val skipped = Events.sessionizeIncrementalStored(batch2, stateDir, closedDir)
    assert(skipped.count() === snapshot.size)
    assert(new java.io.File(closedDir).list().count(_.startsWith("batch=")) === nParts,
      "retry after the swap must not append")
    assert(spark.read.parquet(closedDir)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect().toSet === snapshot)
  }

  test("stored-state sessionizer runs against URI-scheme (file:) dirs") {
    // previously require()-rejected: the java.io.File control plane
    // silently read any URI path as missing — state reset every run.
    // The Hadoop-API port makes scheme paths first-class; `file:` here
    // exercises the same resolution hdfs:/s3a: would take.
    import graft.ext.Events
    val root = java.nio.file.Files
      .createTempDirectory("graft_incuri_spec").toString
    val (stateDir, closedDir) = (s"file:$root/state", s"file:$root/closed")
    def df(rows: Seq[(Long, Long, Long)]) =
      rows.map { case (id, tsMin, u) => (id, tsMin * min * 1000, u, "click", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batch1 = df(Seq((1L, 0L, 7L), (2L, 10L, 7L), (3L, 0L, 8L)))
    val batch2 = df(Seq((4L, 60L, 7L), (5L, 15L, 8L)))
    Events.sessionizeIncrementalStored(batch1, stateDir, closedDir).count()
    Events.sessionizeIncrementalStored(batch2, stateDir, closedDir).count()
    val cols = Seq("user_id", "session_start_us", "session_end_us", "n_events")
    val folded = spark.read.parquet(closedDir).select(cols.map(col): _*)
      .unionByName(spark.read.parquet(stateDir).select(cols.map(col): _*))
    val oneShot = Events.sessionize(batch1.unionByName(batch2))
      .select(cols.map(col): _*)
    assert(folded.exceptAll(oneShot).isEmpty && oneShot.exceptAll(folded).isEmpty,
      "URI-path fold diverges from the one-shot sessionize")
    // a second run of batch1's state would be gone under the old silent
    // reset; instead the retry detector recognizes batch2 and skips
    val before = spark.read.parquet(closedDir).count()
    Events.sessionizeIncrementalStored(batch2, stateDir, closedDir).count()
    assert(spark.read.parquet(closedDir).count() === before,
      "redelivered batch must skip under scheme paths too")
  }

  test("chained streaming hourly agg (exact n_users) equals the batch aggregate") {
    val events = graft.sources.Tables.load(spark, sf, "events")
    val streamed = EventStream.hourlyCountsReplay(spark, events)
    val batch = Events.tumblingHourly(events)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streaming and batch hourly aggregates diverge")
    assert(streamed.count() === batch.count())
  }

  private def docStreamRoot(tag: String): java.io.File = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_docstream_${tag}_${System.nanoTime()}")
    graft.tools.LocalFs.deleteRecursively(root)
    root
  }

  // batch = doc_id mod 4: docs 0/4 -> b0, 1/5 -> b1, 2 -> b2, 3/7 -> b3
  private lazy val screenCorpus = {
    import spark.implicits._
    Seq(
      0L -> "a b c d e f g h x0 y0 z0", // b0: introduces phrase P at pos 0
      4L -> "m a b c d e f g h n", // b0: within-batch repeat of P — UNSCREENED
      1L -> "q1 a b c d e f g h w1", // b1: P at pos 1 — hit against b0
      5L -> "s1 s2 s3 s4 s5 s6 s7 s8 s9", // b1: unique — clean
      2L -> "a b c d e f g h", // b2: exactly P — hit at pos 0
      3L -> "u v w x y z aa bb", // b3: introduces Q
      7L -> "u v w x y z aa bb" // b3: within-batch repeat of Q — UNSCREENED
    ).toDF("doc_id", "text")
  }

  test("streaming span screen: spans cover exactly the grams of strictly " +
    "earlier batches; batch-0 and within-batch duplicates unscreened") {
    val root = docStreamRoot("truth")
    val out = graft.streaming.DocStream.spanScreenReplay(spark, screenCorpus,
      new java.io.File(root, "idx").getPath,
      new java.io.File(root, "out").getPath, nBatches = 4, bloom = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // doc 1: P at pos 1 (span [1, 9), 8 tokens, 1 gram)
    // doc 2: P at pos 0 (span [0, 8))
    // docs 0/4 (batch 0 bootstrap), 5 (clean), 3/7 (same-batch dup): none
    assert(out === Set((1L, 1L, 9L, 8L, 1L), (2L, 0L, 8L, 8L, 1L)))
  }

  test("streaming span screen: bloom-gated bucketed triple is " +
    "output-identical to the flat triple") {
    val rootA = docStreamRoot("bloomA")
    val rootB = docStreamRoot("bloomB")
    val flat = graft.streaming.DocStream.spanScreenReplay(spark, screenCorpus,
      new java.io.File(rootA, "idx").getPath,
      new java.io.File(rootA, "out").getPath, nBatches = 4, bloom = false)
      .collect().map(_.toSeq).toSet
    val bloom = graft.streaming.DocStream.spanScreenReplay(spark, screenCorpus,
      new java.io.File(rootB, "idx").getPath,
      new java.io.File(rootB, "out").getPath, nBatches = 4, bloom = true,
      buckets = 8)
      .collect().map(_.toSeq).toSet
    assert(flat === bloom)
    graft.tools.LocalFs.deleteRecursively(rootA)
    graft.tools.LocalFs.deleteRecursively(rootB)
  }

  test("streaming span screen: the append-side compaction trigger keeps " +
    "the index file count bounded across batches, output unchanged") {
    val rootA = docStreamRoot("trigA")
    val rootB = docStreamRoot("trigB")
    // threshold 1 file/bucket: every over-threshold append compacts
    val bounded = graft.streaming.DocStream.spanScreenReplay(spark,
      screenCorpus, new java.io.File(rootA, "idx").getPath,
      new java.io.File(rootA, "out").getPath, nBatches = 4, bloom = true,
      buckets = 8, maxFilesPerBucket = 1)
      .collect().map(_.toSeq).toSet
    val nFiles = graft.ext.IndexFs.countDataFiles(spark,
      new java.io.File(rootA, "idx").getPath)
    assert(nFiles <= 8,
      s"trigger must bound the streamed index at one file per bucket, got $nFiles")
    val unbounded = graft.streaming.DocStream.spanScreenReplay(spark,
      screenCorpus, new java.io.File(rootB, "idx").getPath,
      new java.io.File(rootB, "out").getPath, nBatches = 4, bloom = true,
      buckets = 8, maxFilesPerBucket = 0)
      .collect().map(_.toSeq).toSet
    assert(bounded === unbounded,
      "compaction inside the stream must not change any screened span")
    graft.tools.LocalFs.deleteRecursively(rootA)
    graft.tools.LocalFs.deleteRecursively(rootB)
  }
}
