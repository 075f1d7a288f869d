package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Events, IndexFs, LanguageModel, Similarity}

/** Round-15 takedown verb — right-to-be-forgotten deletes across the
  * stored-index lifecycles (x126/x127/x128). The delete is
  * merge-on-read: a tombstone write costs O(|request|), every reader
  * anti-joins the tombstones out, and the next compaction applies them
  * durably and clears them — never an index-sized rewrite on the
  * takedown path. The LM grain instead negates counts (the additive
  * index's natural retraction) and must land bit-identical to a model
  * trained on the remaining corpus.
  */
class TakedownSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64
  private def unit(axis: Int, eps: (Int, Float)*): Seq[Float] =
    Seq.tabulate(dim) { d =>
      if (d == axis) 1.0f
      else eps.collectFirst { case (a, e) if a == d => e }.getOrElse(0.0f)
    }

  // two cells (centroid seeds 0 and 100 — vec_id % 100 == 0), one
  // extra member each; vec 1 is the takedown subject
  private def semFixture: DataFrame = Seq(
    0L -> unit(0),            // centroid seed + data row, cell A
    1L -> unit(0, 1 -> 0.3f), // cell A member — deleted below
    100L -> unit(1),          // centroid seed + data row, cell B
    101L -> unit(1, 2 -> 0.3f) // cell B member
  ).toDF("vec_id", "embedding")

  private def screenRows(bench: DataFrame, idx: String, minCos: Double) =
    Similarity.semanticScreenIndex(bench, idx, minCos)
      .orderBy("bench_id").collect().map(_.toSeq).toSeq

  test("semantic takedown: deleted vector stops screening; survivors invariant; " +
      "replay-safe; compact durable and clears tombstones") {
    val idx = Files.createTempDirectory("graft_td_sem").toString + "/idx"
    Similarity.writeSemanticIndex(semFixture, idx)
    // bench 900 is an exact copy of vec 1 (cos 1.0); bench 901 of vec
    // 101. minCos = 0.99 so vec 1's own cell-mates (cos ≈ 0.958
    // against the centroid row) stay below the threshold — the flip is
    // exactly the deleted vector's disappearance.
    val bench = Seq(900L -> unit(0, 1 -> 0.3f), 901L -> unit(1, 2 -> 0.3f))
      .toDF("vec_id", "embedding")
    val before = screenRows(bench, idx, minCos = 0.99)
    assert(before.map(r => (r(0), r(3))) === Seq((900L, true), (901L, true)),
      s"both bench vectors match their index copies pre-delete: $before")
    Similarity.deleteFromSemanticIndex(Seq(1L).toDF("vec_id"), idx)
    val after = screenRows(bench, idx, minCos = 0.99)
    assert(after.map(r => (r(0), r(3))) === Seq((900L, false), (901L, true)),
      s"900's match is tombstoned; 901's survivor match is untouched: $after")
    // replay: deleting twice is deleting once (set semantics, no marker)
    Similarity.deleteFromSemanticIndex(Seq(1L).toDF("vec_id"), idx)
    assert(screenRows(bench, idx, minCos = 0.99) === after)
    // compaction applies the tombstones physically and clears them
    Similarity.compactSemanticIndex(spark, idx)
    assert(screenRows(bench, idx, minCos = 0.99) === after,
      "merge-on-read and durable removal must screen identically")
    assert(!IndexFs.exists(spark, s"$idx/deletes"),
      "applied tombstones are cleared by the compaction")
    assert(!spark.read.parquet(s"$idx/vectors").where(col("vec_id") === 1L)
      .collect().nonEmpty, "the physical rows are gone after the compact")
  }

  test("semantic takedown: deleted vector is never mined as a hard negative; " +
      "occupancy audits only live vectors") {
    val idx = Files.createTempDirectory("graft_td_mine").toString + "/idx"
    Similarity.writeSemanticIndex(semFixture, idx)
    val anchors = Seq(0L -> unit(0)).toDF("vec_id", "embedding")
    def mined = Similarity.hardNegativesIndexed(anchors, idx, k = 3,
      dupCos = 0.99, nprobe = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(mined.contains(1L),
      "pre-delete, vec 1 (cos ≈ 0.958 < 0.99) is an admissible negative")
    assert(Similarity.storedSemanticOccupancy(spark, idx)
      .collect().head.getLong(0) === 2L, "two occupied cells")
    Similarity.deleteFromSemanticIndex(Seq(1L, 101L).toDF("vec_id"), idx)
    assert(!mined.contains(1L) && !mined.contains(101L),
      "tombstoned vectors must not surface as training negatives")
    // cell B's only member besides the seed is gone with 101; the seed
    // row remains, so both cells stay occupied but the count drops
    val occ = Similarity.storedSemanticOccupancy(spark, idx).collect().head
    assert(occ.getLong(0) === 2L && occ.getLong(1) === 1L,
      s"occupancy counts live vectors only: $occ")
  }

  test("semantic takedown: tombstone wins over a re-append until a compaction " +
      "clears it; compact-then-append re-admits") {
    val idx = Files.createTempDirectory("graft_td_readmit").toString + "/idx"
    Similarity.writeSemanticIndex(semFixture, idx)
    val bench = Seq(900L -> unit(0, 1 -> 0.3f)).toDF("vec_id", "embedding")
    Similarity.deleteFromSemanticIndex(Seq(1L).toDF("vec_id"), idx)
    // re-append the deleted vector BEFORE any compaction: the tombstone
    // must keep suppressing it (dropping the tombstone early would
    // resurrect the old physical rows — the takedown wins)
    Similarity.appendSemanticIndex(
      Seq(1L -> unit(0, 1 -> 0.3f)).toDF("vec_id", "embedding"), idx)
    assert(screenRows(bench, idx, minCos = 0.99).head(3) === false,
      "a re-append under a live tombstone stays suppressed")
    // the documented re-admission path: compact (applies + clears the
    // tombstone), THEN append
    Similarity.compactSemanticIndex(spark, idx)
    Similarity.appendSemanticIndex(
      Seq(1L -> unit(0, 1 -> 0.3f)).toDF("vec_id", "embedding"), idx)
    assert(screenRows(bench, idx, minCos = 0.99).head(3) === true,
      "compact-then-append re-admits the vector")
  }

  test("semantic takedown: the tombstoned screen still partition-prunes and " +
      "broadcasts the tombstone anti-join") {
    val idx = Files.createTempDirectory("graft_td_plan").toString + "/idx"
    Similarity.writeSemanticIndex(semFixture, idx)
    Similarity.deleteFromSemanticIndex(Seq(1L).toDF("vec_id"), idx)
    val bench = Seq(900L -> unit(0, 1 -> 0.3f)).toDF("vec_id", "embedding")
    val df = Similarity.semanticScreenIndex(bench, idx, minCos = 0.4)
    df.collect()
    def expand(p: SparkPlan): String = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case other => other.toString
    }
    val p = expand(df.queryExecution.executedPlan) + "\n" +
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(p).isDefined,
      "the pruned cell read must survive the tombstone anti-join:\n" + p)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "tombstones are request-sized and must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "no shuffle join may enter the screen via the takedown:\n" + p)
  }

  test("IVF-PQ takedown: deleted vector never reaches the shortlist or the " +
      "re-rank; replay-safe; compact durable, layout preserved, re-admission " +
      "after compact") {
    val idx = Files.createTempDirectory("graft_td_pq").toString + "/idx"
    Similarity.ivfPqWriteIndex(semFixture, idx)
    def hits = Similarity.ivfPqSearchIndex(semFixture, idx,
      queryIds = Seq(0L), k = 3, nprobe = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(hits.contains(1L), "pre-delete, vec 1 is a neighbor of anchor 0")
    Similarity.deleteFromIvfPqIndex(Seq(1L).toDF("vec_id"), idx)
    Similarity.deleteFromIvfPqIndex(Seq(1L).toDF("vec_id"), idx) // replay
    assert(!hits.contains(1L), "a tombstoned vector must not surface")
    // the verified re-rank path funnels through the same codes read: a
    // tombstoned row cannot reach the shortlist, so the exact pass
    // never sees it either
    val reranked = Similarity.ivfPqSearchIndexReranked(semFixture, idx,
      queryIds = Seq(0L), k = 3, shortlist = 3)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!reranked.contains(1L))
    val want = hits
    Similarity.ivfPqCompactIndex(spark, idx)
    assert(hits === want, "merge-on-read and durable removal search identically")
    assert(!IndexFs.exists(spark, s"$idx/deletes"),
      "applied tombstones are cleared by the compaction")
    assert(spark.read.parquet(s"$idx/codes")
      .where(col("vec_id") === 1L).count() === 0L,
      "the physical code rows are gone")
    assert(IndexFs.listNames(spark, s"$idx/codes")
      .exists(_.startsWith("centroid_id=")),
      "the compact must preserve the partitionBy layout pruning depends on")
    // the documented re-admission path: compact-then-append
    Similarity.ivfPqAppendIndex(
      Seq(1L -> unit(0, 1 -> 0.3f)).toDF("vec_id", "embedding"), idx)
    assert(hits.contains(1L), "compact-then-append re-admits the vector")
  }

  test("IVF-PQ takedown: the tombstoned search still partition-prunes and " +
      "broadcasts the anti-join") {
    val idx = Files.createTempDirectory("graft_td_pqplan").toString + "/idx"
    Similarity.ivfPqWriteIndex(semFixture, idx)
    Similarity.deleteFromIvfPqIndex(Seq(1L).toDF("vec_id"), idx)
    val df = Similarity.ivfPqSearchIndex(semFixture, idx,
      queryIds = Seq(0L), k = 3, nprobe = 1)
    df.collect()
    def expand(p: SparkPlan): String = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case other => other.toString
    }
    val p = expand(df.queryExecution.executedPlan) + "\n" +
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(p).isDefined,
      "the pruned codes read must survive the tombstone anti-join:\n" + p)
    assert(p.contains("LeftAnti") && !p.contains("SortMergeJoin"),
      "tombstones are request-sized — broadcast anti-join only:\n" + p)
  }

  // ---- document grain (x127) ------------------------------------------

  private def ndFixture = Seq(
    (1L, "a b c d e f g h"),  // deleted below
    (2L, "p q r s t u v w"),
    (3L, "a b c d e f g h")   // identical text to doc 1 — the shared-hash edge
  ).toDF("doc_id", "text")

  private def ndVerdicts(probe: DataFrame, idx: String) =
    Dedup.screenAgainstNearDupIndex(probe, idx, n = 3, minJaccard = 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(4))).toSeq

  test("near-dup takedown: shared-text hash survives one delete; both gone " +
      "after both; near match retires; replay-safe; compact durable") {
    val idx = Files.createTempDirectory("graft_td_nd").toString + "/idx"
    Dedup.writeNearDupIndex(ndFixture, idx, n = 3)
    val probe = Seq((10L, "a b c d e f g h"), (11L, "a b c d e f g q"))
      .toDF("doc_id", "text")
    assert(ndVerdicts(probe, idx) ===
      Seq((10L, "drop_exact"), (11L, "drop_near")))
    // deleting doc 1 must NOT un-gate the exact probe: doc 3 carries
    // the same text, and hashes store (doc_id, h) provenance
    Dedup.deleteFromNearDupIndex(Seq(1L).toDF("doc_id"), idx)
    assert(ndVerdicts(probe, idx) ===
      Seq((10L, "drop_exact"), (11L, "drop_near")),
      "a live identical document keeps both gates")
    // deleting the second copy retires the content entirely
    Dedup.deleteFromNearDupIndex(Seq(3L).toDF("doc_id"), idx)
    val gone = Seq((10L, "keep"), (11L, "keep"))
    assert(ndVerdicts(probe, idx) === gone,
      "with every copy tombstoned the content is forgotten")
    // replay: same requests again, same verdicts
    Dedup.deleteFromNearDupIndex(Seq(1L, 3L).toDF("doc_id"), idx)
    assert(ndVerdicts(probe, idx) === gone)
    // compaction applies the tombstones physically and clears them
    Dedup.compactNearDupIndex(spark, idx)
    assert(ndVerdicts(probe, idx) === gone,
      "merge-on-read and durable removal must verdict identically")
    assert(!IndexFs.exists(spark, s"$idx/deletes"))
    Seq("hashes", "shingles", "sizes").foreach { t =>
      assert(spark.read.parquet(s"$idx/$t")
        .where(col("doc_id").isin(1L, 3L)).count() === 0L,
        s"$t must hold no physical rows for the deleted docs")
    }
  }

  test("near-dup takedown: a rebuild filters tombstoned docs out of the " +
      "handed-back corpus and starts clean") {
    val idx = Files.createTempDirectory("graft_td_ndrb").toString + "/idx"
    Dedup.writeNearDupIndex(ndFixture, idx, n = 3)
    Dedup.deleteFromNearDupIndex(Seq(1L, 3L).toDF("doc_id"), idx)
    // careless caller hands back the ORIGINAL corpus, deleted docs included
    Dedup.rebuildNearDupIndex(ndFixture, idx, n = 3)
    val probe = Seq((10L, "a b c d e f g h")).toDF("doc_id", "text")
    assert(ndVerdicts(probe, idx) === Seq((10L, "keep")),
      "the takedown stays durable across a rebuild")
    assert(!IndexFs.exists(spark, s"$idx/deletes"),
      "the swapped-in directory starts with no tombstones")
  }

  // ---- model grain (x128) ----------------------------------------------

  private def lmDocs = Seq(
    (1L, "the cat sat on the mat the cat sat", "en"),
    (2L, "the dog sat on the mat the dog ran", "en"),
    (3L, "zebras graze quietly zebras graze calmly zebras doze", "en")
  ).toDF("doc_id", "text", "lang")

  test("LM takedown: negated counts make the stored model bit-identical to " +
      "one trained on the remaining corpus; replay subtracts once; " +
      "compaction preserves the retraction") {
    val held = Seq((9L, "the cat ran on the mat zebras graze", "en"))
      .toDF("doc_id", "text", "lang")
    val full = Files.createTempDirectory("graft_td_lm").toString + "/idx"
    LanguageModel.writeLmIndex(lmDocs.filter(col("doc_id") =!= 3L), full)
    LanguageModel.appendLmIndex(lmDocs.filter(col("doc_id") === 3L), full, "a1")
    // the reference: an index that never saw doc 3 — its vocabulary
    // ("zebras", "graze", ...) must be gone from the deleted model too,
    // or the smoothing V (and every probability) would differ
    val ref = Files.createTempDirectory("graft_td_lmref").toString + "/idx"
    LanguageModel.writeLmIndex(lmDocs.filter(col("doc_id") =!= 3L), ref)
    def score(idx: String) =
      LanguageModel.scoreAgainstLmIndex(held, idx, minCount = 1L)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val before = score(full)
    LanguageModel.deleteFromLmIndex(lmDocs.filter(col("doc_id") === 3L),
      full, "del1")
    val want = score(ref)
    assert(score(full) === want,
      "post-takedown scores must equal the remaining-corpus model exactly")
    assert(score(full) !== before, "the takedown changed the model")
    // replayed delete under the SAME batch id: byte-identical negative
    // rows that distinct() collapses — subtracted once, not twice
    LanguageModel.deleteFromLmIndex(lmDocs.filter(col("doc_id") === 3L),
      full, "del1")
    assert(score(full) === want)
    LanguageModel.compactLmIndex(spark, full)
    assert(score(full) === want,
      "the stamp-preserving compaction keeps the retraction")
  }

  // ---- session grain (x129) ---------------------------------------------

  private val H = 3600L * 1000000 // one hour in µs
  private def ev(user: Long, id: Long, us: Long) =
    (id, us * 1000, user, "click", 1.0, "{}")
  private def evDf(rows: (Long, Long, Long, String, Double, String)*) =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("session erasure: user's closed + open sessions go, survivors stay, " +
      "replay-safe; compact removes rows, clears tombstones, keeps markers; " +
      "retry detection survives the compact") {
    val root = Files.createTempDirectory("graft_td_sess").toString
    val (stateDir, closedDir) = (s"$root/state", s"$root/closed")
    // batch 1: user 1 at 0s/60s, user 2 at 30s/90s (both open after it);
    // batch 2 past the 30-min gap closes both first sessions
    Events.sessionizeIncrementalStored(
      evDf(ev(1L, 10L, 0L), ev(1L, 11L, 60L * 1000000),
        ev(2L, 20L, 30L * 1000000), ev(2L, 21L, 90L * 1000000)),
      stateDir, closedDir)
    val batch2 = evDf(ev(1L, 12L, 2 * H), ev(2L, 22L, 2 * H + 300L * 1000000))
    Events.sessionizeIncrementalStored(batch2, stateDir, closedDir)
    def closedUsers = Events.readClosedSessions(spark, closedDir)
      .select("user_id").as[Long].collect().toSeq.sorted
    def stateUsers = spark.read.parquet(stateDir)
      .select("user_id").as[Long].collect().toSeq.sorted
    assert(closedUsers === Seq(1L, 2L) && stateUsers === Seq(1L, 2L))
    val req = Seq(1L).toDF("user_id")
    Events.eraseUserSessions(req, stateDir, closedDir)
    Events.eraseUserSessions(req, stateDir, closedDir) // replayed request
    assert(closedUsers === Seq(2L),
      "user 1's closed history is tombstoned; user 2's survives")
    assert(stateUsers === Seq(2L),
      "user 1's open session is erased from state eagerly")
    Events.compactClosedSessions(spark, closedDir)
    assert(closedUsers === Seq(2L),
      "merge-on-read and durable removal must read identically")
    assert(!IndexFs.exists(spark, s"$closedDir/_deletes"),
      "applied tombstones are cleared")
    val parts = IndexFs.listNames(spark, closedDir)
      .filter(_.matches("batch=\\d+"))
    parts.foreach { p =>
      assert(spark.read.parquet(s"$closedDir/$p")
        .where(col("user_id") === 1L).count() === 0L,
        s"$p must hold no physical rows for the erased user")
      assert(IndexFs.exists(spark, s"$closedDir/$p/_graft_commit"),
        s"$p must keep its retry marker through the compact")
    }
    // a redelivery of the last batch after the compact must still be
    // recognized (the marker fingerprints the INPUT, which the
    // erasure did not change) — skip, no new partition
    Events.sessionizeIncrementalStored(batch2, stateDir, closedDir).count()
    assert(IndexFs.listNames(spark, closedDir)
      .count(_.matches("batch=\\d+")) === parts.size,
      "a post-compact retry must skip, not mint a new partition")
  }

  test("session erasure: the cutoff spares post-request sessions, and a user " +
      "posting after erasure starts fresh instead of merging erased state") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_td_cutoff").toString
    val (stateDir, closedDir) = (s"$root/state", s"$root/closed")
    Events.sessionizeIncrementalStored(
      evDf(ev(1L, 10L, 0L), ev(1L, 11L, 60L * 1000000)), stateDir, closedDir)
    // request at t = 1h: everything user 1 did before then goes
    Events.eraseUserSessions(Seq(1L).toDF("user_id"), stateDir, closedDir,
      beforeUs = H)
    assert(spark.read.parquet(stateDir).count() === 0L,
      "the pre-request open session drops whole")
    // the user posts again at 2h — a FRESH session (merging into the
    // erased state would resurrect pre-request data), closed by a
    // later batch and visible to the reader (it started post-cutoff)
    Events.sessionizeIncrementalStored(evDf(ev(1L, 12L, 2 * H)),
      stateDir, closedDir)
    Events.sessionizeIncrementalStored(evDf(ev(1L, 13L, 5 * H)),
      stateDir, closedDir)
    val visible = Events.readClosedSessions(spark, closedDir)
      .select("user_id", "session_start_us", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(visible === Seq((1L, 2 * H, 1L)),
      s"exactly the post-request session survives the reader: $visible")
  }

  test("near-dup takedown: every verb refuses a pre-provenance (v1) index " +
      "instead of mixing hashes schemas; a rebuild migrates it") {
    val idx = Files.createTempDirectory("graft_td_ndv1").toString + "/idx"
    Dedup.writeNearDupIndex(ndFixture, idx, n = 3)
    // forge the legacy layout: h-only hashes, no _format stamp — what a
    // pre-provenance build left on disk
    ndFixture.select(md5(col("text")).as("h")).distinct()
      .write.mode("overwrite").parquet(s"$idx/hashes")
    IndexFs.delete(spark, s"$idx/_format")
    val probe = Seq((10L, "a b c d e f g h")).toDF("doc_id", "text")
    def mustRefuse(f: => Unit): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains("rebuildNearDupIndex"),
        s"the error must name the remedy: ${e.getMessage}")
    }
    mustRefuse(Dedup.deleteFromNearDupIndex(Seq(1L).toDF("doc_id"), idx))
    mustRefuse(Dedup.appendNearDupIndex(
      Seq((20L, "x y z x y z x y")).toDF("doc_id", "text"), idx, n = 3))
    mustRefuse(Dedup.screenAgainstNearDupIndex(probe, idx, n = 3))
    mustRefuse(Dedup.compactNearDupIndex(spark, idx))
    // the remedy: rebuild over the handed-back corpus migrates in place
    Dedup.rebuildNearDupIndex(ndFixture, idx, n = 3)
    assert(ndVerdicts(probe, idx) === Seq((10L, "drop_exact")))
    // and the takedown the v1 layout could not express now works
    Dedup.deleteFromNearDupIndex(Seq(1L, 3L).toDF("doc_id"), idx)
    assert(ndVerdicts(probe, idx) === Seq((10L, "keep")))
  }

  test("LM takedown: a stream of deletes triggers the same inline compaction " +
      "as appends — file count bounded, retraction preserved") {
    val full = Files.createTempDirectory("graft_td_lmfiles").toString + "/idx"
    LanguageModel.writeLmIndex(lmDocs.filter(col("doc_id") =!= 3L), full)
    LanguageModel.appendLmIndex(lmDocs.filter(col("doc_id") === 3L), full, "a1",
      maxFiles = 0)
    val before = graft.ext.IndexFs.countDataFiles(spark, s"$full/bigrams")
    assert(before >= 2L, s"build + append = at least two files: $before")
    LanguageModel.deleteFromLmIndex(lmDocs.filter(col("doc_id") === 3L),
      full, "del1", maxFiles = 1)
    assert(graft.ext.IndexFs.countDataFiles(spark, s"$full/bigrams") === 1L,
      "the delete's trigger must compact the table down to one file")
    // the compacted model still scores as the remaining-corpus model
    val ref = Files.createTempDirectory("graft_td_lmfref").toString + "/idx"
    LanguageModel.writeLmIndex(lmDocs.filter(col("doc_id") =!= 3L), ref)
    val held = Seq((9L, "the cat ran on the mat zebras graze", "en"))
      .toDF("doc_id", "text", "lang")
    def score(idx: String) =
      LanguageModel.scoreAgainstLmIndex(held, idx, minCount = 1L)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(score(full) === score(ref))
  }

  test("session store: the fold itself heals a compaction crashed mid-swap " +
      "on the max partition instead of re-minting its id") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_td_foldheal").toString
    val (stateDir, closedDir) = (s"$root/state", s"$root/closed")
    Events.sessionizeIncrementalStored(
      evDf(ev(1L, 10L, 0L), ev(2L, 20L, 30L * 1000000)), stateDir, closedDir)
    Events.sessionizeIncrementalStored(
      evDf(ev(1L, 11L, 2 * H), ev(2L, 21L, 2 * H)), stateDir, closedDir)
    // batch=1 is the max partition; crash its compaction between the
    // two renames: live aside as .old, .compact staged, batch=1 gone
    val src = s"$closedDir/batch=1"
    val origRows = spark.read.parquet(src)
      .orderBy("user_id", "session_start_us").collect().map(_.toSeq).toSeq
    spark.read.parquet(src).write.mode("overwrite").parquet(s"$src.compact")
    IndexFs.readSmall(spark, s"$src/_graft_commit").foreach(fp =>
      IndexFs.writeSmall(spark, s"$src.compact/_graft_commit", fp))
    IndexFs.renameOrFail(spark, src, s"$src.old", "stage crash")
    // the NEXT FOLD runs with no read in between: it must heal batch=1
    // back to live and mint batch=2 — a lastId computed over live
    // partitions alone would re-mint batch=1 and the following
    // compaction would permanently clobber the original partition
    Events.sessionizeIncrementalStored(evDf(ev(1L, 12L, 5 * H)),
      stateDir, closedDir).count()
    val parts = IndexFs.listNames(spark, closedDir)
      .filter(_.matches("batch=\\d+")).sorted
    assert(parts === Seq("batch=0", "batch=1", "batch=2"),
      s"healed partition kept, new batch minted past it: $parts")
    assert(spark.read.parquet(src)
      .orderBy("user_id", "session_start_us").collect().map(_.toSeq).toSeq
      === origRows, "the healed batch=1 is the original partition")
  }

  test("session erasure: an erase landing in the fold's crash window " +
      "(state aside, .next committed) still rewrites the true state") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_td_erasewin").toString
    val (stateDir, closedDir) = (s"$root/state", s"$root/closed")
    Events.sessionizeIncrementalStored(
      evDf(ev(1L, 10L, 0L), ev(2L, 20L, 30L * 1000000)), stateDir, closedDir)
    // forge the crash window: post-batch state committed as .next, the
    // pre-batch state renamed aside, stateDir absent
    spark.read.parquet(stateDir).write.mode("overwrite")
      .parquet(stateDir + ".next")
    IndexFs.renameOrFail(spark, stateDir, stateDir + ".old", "stage crash")
    Events.eraseUserSessions(Seq(1L).toDF("user_id"), stateDir, closedDir)
    // the erase must have promoted .next and rewritten it — not
    // silently skipped the state rewrite (which would let the next
    // fold promote .next and later close user 1's pre-cutoff session
    // into history after the tombstones were compacted away)
    assert(IndexFs.exists(spark, stateDir) &&
      !IndexFs.exists(spark, stateDir + ".next"))
    assert(spark.read.parquet(stateDir).select("user_id").as[Long]
      .collect().toSeq === Seq(2L),
      "user 1's open session is erased from the promoted state")
    // the store keeps working: user 2's session closes later as normal
    Events.sessionizeIncrementalStored(evDf(ev(2L, 21L, 5 * H)),
      stateDir, closedDir).count()
    assert(Events.readClosedSessions(spark, closedDir)
      .select("user_id").as[Long].collect().toSeq === Seq(2L))
  }

  test("session erasure: the reader heals a compaction crashed mid-swap") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_td_heal").toString
    val (stateDir, closedDir) = (s"$root/state", s"$root/closed")
    Events.sessionizeIncrementalStored(
      evDf(ev(1L, 10L, 0L), ev(2L, 20L, 30L * 1000000)), stateDir, closedDir)
    Events.sessionizeIncrementalStored(evDf(ev(1L, 11L, 2 * H), ev(2L, 21L, 2 * H)),
      stateDir, closedDir)
    val want = Events.readClosedSessions(spark, closedDir)
      .orderBy("user_id", "session_start_us").collect().map(_.toSeq).toSeq
    // stage a compacted copy of batch=1, crash between the two renames
    // (live renamed aside, .compact not yet promoted)
    val src = s"$closedDir/batch=1"
    spark.read.parquet(src).write.mode("overwrite").parquet(s"$src.compact")
    IndexFs.readSmall(spark, s"$src/_graft_commit").foreach(fp =>
      IndexFs.writeSmall(spark, s"$src.compact/_graft_commit", fp))
    val fs = IndexFs.fs(spark, src)
    fs.rename(new org.apache.hadoop.fs.Path(src),
      new org.apache.hadoop.fs.Path(s"$src.old"))
    assert(Events.readClosedSessions(spark, closedDir)
      .orderBy("user_id", "session_start_us").collect().map(_.toSeq).toSeq
      === want, "the reader must complete the crashed swap and read identically")
    // and the fold keeps working over the healed layout
    Events.sessionizeIncrementalStored(evDf(ev(1L, 12L, 5 * H)),
      stateDir, closedDir).count()
  }

  // ---- a COMPLETE takedown must not brick the store (round 17) --------
  // The gram grain's lesson generalized: compacting a fully-tombstoned
  // partitionBy table leaves zero data files, and schema inference over
  // that directory throws — the schema-pinned liveVectors/liveCodes
  // reads keep every consumer total at exactly the corpus state a
  // complete right-to-be-forgotten request produces.

  test("semantic index: delete EVERY vector + compact -> audits and " +
      "screens read zero rows (no schema-inference crash); appends " +
      "re-bootstrap against the surviving centroids") {
    val idx = Files.createTempDirectory("graft_td_all_sem").toString + "/idx"
    val all = Seq(0L -> unit(0), 100L -> unit(1), 7L -> unit(0, 1 -> 0.2f))
      .toDF("vec_id", "embedding")
    Similarity.writeSemanticIndex(all, idx)
    Similarity.deleteFromSemanticIndex(all.select("vec_id"), idx)
    Similarity.compactSemanticIndex(spark, idx)
    val occ = Similarity.storedSemanticOccupancy(spark, idx).head()
    assert(occ.getAs[Long]("n_cells") === 0L &&
      occ.getAs[Long]("eligible_seeds") === 0L,
      s"the emptied index audits as zero, not a crash: $occ")
    val bench = Seq(500L -> unit(0)).toDF("vec_id", "embedding")
    val s0 = Similarity.semanticScreenIndex(bench, idx).collect()
    assert(s0.length === 1 && s0(0).getAs[Long]("n_matches") === 0L,
      "the emptied index screens clean")
    // centroids survive a compaction (a rebuild, not a compact, would
    // retrain them) — a new batch re-bootstraps the store
    Similarity.appendSemanticIndex(
      Seq(9L -> unit(0)).toDF("vec_id", "embedding"), idx)
    val s1 = Similarity.semanticScreenIndex(bench, idx).collect()
    assert(s1(0).getAs[Long]("n_matches") === 1L,
      "the re-bootstrapped index screens the appended vector")
  }

  test("IVF-PQ index: delete EVERY vector + compact -> occupancy and " +
      "search read zero rows; appends re-bootstrap") {
    val idx = Files.createTempDirectory("graft_td_all_pq").toString + "/idx"
    val all = (0L to 3L).map(i => i -> unit(i.toInt))
      .toDF("vec_id", "embedding")
    Similarity.ivfPqWriteIndex(all, idx, centroidModulus = 1,
      maxCentroids = 4, m = 16, codeModulus = 1, maxCodes = 4)
    Similarity.deleteFromIvfPqIndex(all.select("vec_id"), idx)
    Similarity.ivfPqCompactIndex(spark, idx)
    val occ = Similarity.ivfPqOccupancy(spark, idx).head()
    assert(occ.getAs[Long]("n_cells") === 0L,
      s"the emptied codes table audits as zero, not a crash: $occ")
    assert(Similarity.ivfPqSearchIndex(all, idx, queryIds = Seq(1L), k = 2)
      .isEmpty, "searching the emptied index returns no neighbors")
    Similarity.ivfPqAppendIndex(
      Seq(8L -> unit(2)).toDF("vec_id", "embedding"), idx)
    val hits = Similarity.ivfPqSearchIndex(all, idx, queryIds = Seq(2L),
      k = 2, nprobe = 4).collect()
    assert(hits.map(_.getAs[Long]("neighbor_id")).contains(8L),
      "the re-bootstrapped index serves the appended vector")
  }
}
