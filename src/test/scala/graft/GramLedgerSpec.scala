package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, IndexFs}

/** Round-17: the gram-grain takedown AMORTIZED (x142) — a crash-safe
  * pending-requests ledger (`_pending_deletes`) that one filtered
  * rebuild drains, instead of an index-sized build per request. The
  * registered x142 entry hash-gates the requested → drained lifecycle
  * against DuckDB; this spec pins what the oracle cannot express:
  * batched-drain ≡ sequential per-request rebuilds, the ledger
  * surviving a compaction swap (carry, not drain), append-side
  * suppression of pending doc_ids, request replay set-semantics, and
  * the no-pending no-op.
  */
class GramLedgerSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    1L -> "a b c d e f",
    2L -> "g h i j k l",
    3L -> "m n o p q r",
    4L -> "s t u v w x"
  ).toDF("doc_id", "text")

  private def hits(idx: String, text: String): Long =
    Dedup.duplicateSpansAgainstIndexBloom(
      Seq(99L -> text).toDF("doc_id", "text"), idx, k = 3).count()

  private def freshIdx(tag: String): String =
    Files.createTempDirectory(s"graft_ledger_$tag").toString + "/idx"

  /** Run `verb`, landing `request` at its first rename — the swap's
    * demote, after the ledger snapshot and the carry into the rebuilt
    * directory (the deterministic race, staged through the mutation
    * seam). */
  private def racing(request: => Unit)(verb: => Unit): Unit = {
    var fired = false
    IndexFs.beforeMutation = what =>
      if (!fired && what.startsWith("rename")) { fired = true; request }
    try verb finally IndexFs.beforeMutation = _ => ()
    assert(fired, "the verb reached its swap")
  }

  test("a request is NOT yet effective (the documented at-drain " +
      "contract), replays collapse, and the pending set reads back") {
    val idx = freshIdx("req")
    Dedup.writeGramIndexBucketed(corpus, idx, k = 3, buckets = 2)
    Dedup.requestGramTakedown(Seq(1L).toDF("doc_id"), idx)
    Dedup.requestGramTakedown(Seq(1L).toDF("doc_id"), idx) // replay
    assert(hits(idx, "a b c d e f") > 0,
      "removal is effective at the drain, not the request — the screen " +
        "still matches the requested doc's grams")
    assert(Dedup.pendingGramTakedowns(spark, idx)
      .as[Long].collect().toSeq === Seq(1L),
      "replayed requests collapse to one pending id")
  }

  test("drain applies every pending request in ONE rebuild, batched ≡ " +
      "the sequential per-request rebuilds; cleared ledger → no-op") {
    val idxB = freshIdx("batched")
    val idxS = freshIdx("seq")
    Dedup.writeGramIndexBucketed(corpus, idxB, k = 3, buckets = 2)
    Dedup.writeGramIndexBucketed(corpus, idxS, k = 3, buckets = 2)
    // batched: two requests, one drain with a careless FULL hand-back
    Dedup.requestGramTakedown(Seq(1L).toDF("doc_id"), idxB)
    Dedup.requestGramTakedown(Seq(2L).toDF("doc_id"), idxB)
    assert(Dedup.drainGramTakedowns(corpus, idxB, k = 3))
    // sequential: each request pays its own filtered rebuild
    Dedup.takedownGramIndex(corpus.filter(col("doc_id") =!= 1L), idxS, k = 3)
    Dedup.takedownGramIndex(
      corpus.filter(col("doc_id") =!= 1L && col("doc_id") =!= 2L), idxS, k = 3)
    val gB = spark.read.parquet(idxB).select("g").as[Long].collect().sorted
    val gS = spark.read.parquet(idxS).select("g").as[Long].collect().sorted
    assert(gB.sameElements(gS),
      "the batched drain stores exactly the sequential rebuilds' grams")
    assert(hits(idxB, "a b c d e f") === 0 && hits(idxB, "g h i j k l") === 0)
    assert(hits(idxB, "m n o p q r") > 0, "survivors still screen")
    assert(!IndexFs.exists(spark, s"$idxB/_pending_deletes"),
      "the drain cleared the ledger it applied")
    assert(!Dedup.drainGramTakedowns(corpus, idxB, k = 3),
      "no pending requests → the drain is a no-op that reports false")
  }

  test("a compaction CARRIES the ledger across its swap (it has no " +
      "corpus to drain with); the later drain still applies") {
    val idx = freshIdx("compact")
    Dedup.writeGramIndexBucketed(corpus, idx, k = 3, buckets = 2)
    Dedup.requestGramTakedown(Seq(2L).toDF("doc_id"), idx)
    Dedup.compactGramIndex(spark, idx)
    assert(Dedup.pendingGramTakedowns(spark, idx)
      .as[Long].collect().toSeq === Seq(2L),
      "the compaction swap must not sweep pending requests away")
    assert(hits(idx, "g h i j k l") > 0, "not yet drained")
    assert(Dedup.drainGramTakedowns(corpus, idx, k = 3))
    assert(hits(idx, "g h i j k l") === 0, "drained after the carry")
  }

  test("appends suppress pending doc_ids from their batches " +
      "(tombstones-win until the drain)") {
    val idx = freshIdx("append")
    Dedup.writeGramIndexBucketed(
      corpus.filter(col("doc_id") <= 2L), idx, k = 3, buckets = 2)
    Dedup.requestGramTakedown(Seq(3L).toDF("doc_id"), idx)
    Dedup.appendGramIndexBucketed(
      corpus.filter(col("doc_id") >= 3L), idx, k = 3)
    assert(hits(idx, "m n o p q r") === 0,
      "the pending doc's unique grams never entered the index")
    assert(hits(idx, "s t u v w x") > 0,
      "the rest of the batch appended normally")
  }

  test("draining the ENTIRE corpus leaves a READABLE empty index: screens " +
      "report zero matches (not UNABLE_TO_INFER_SCHEMA) and appends " +
      "re-bootstrap it") {
    val idx = freshIdx("fulldrain")
    Dedup.writeGramIndexBucketed(corpus, idx, k = 3, buckets = 2)
    Dedup.requestGramTakedown(
      corpus.select(col("doc_id")), idx) // every doc requested
    assert(Dedup.drainGramTakedowns(corpus, idx, k = 3))
    // before the schema-pinned gramTable read this CRASHED on schema
    // inference over a data-file-less directory — a takedown of the
    // whole remaining corpus is a legal request and must not brick
    // every later screen
    assert(hits(idx, "a b c d e f") === 0, "empty index screens clean")
    Dedup.appendGramIndexBucketed(
      Seq(5L -> "y1 y2 y3 y4").toDF("doc_id", "text"), idx, k = 3)
    assert(hits(idx, "y1 y2 y3") > 0, "the emptied index re-bootstraps")
  }

  test("the append trigger drains when the corpus hand-back is wired: " +
      "one filtered rebuild serves as compaction AND takedown") {
    val idx = freshIdx("trigdrain")
    Dedup.writeGramIndexBucketed(
      corpus.filter(col("doc_id") <= 2L), idx, k = 3, buckets = 2)
    Dedup.requestGramTakedown(Seq(1L).toDF("doc_id"), idx)
    // maxFilesPerBucket = 1 forces the trigger on this append; the
    // hand-back is the full live corpus as of the batch (docs 1-4),
    // handed back carelessly — the drain filters the ledger itself
    Dedup.appendGramIndexBucketed(
      corpus.filter(col("doc_id") >= 3L), idx, k = 3,
      maxFilesPerBucket = 1, corpusForDrain = Some(corpus))
    assert(!IndexFs.exists(spark, s"$idx/_pending_deletes"),
      "the trigger drained the ledger instead of carrying it")
    assert(hits(idx, "a b c d e f") === 0, "requested doc removed")
    assert(hits(idx, "g h i j k l") > 0 && hits(idx, "s t u v w x") > 0,
      "survivors — including this very batch — stay live through the drain")
    // without the hand-back the same trigger compacts and CARRIES
    val idx2 = freshIdx("trigcarry")
    Dedup.writeGramIndexBucketed(
      corpus.filter(col("doc_id") <= 2L), idx2, k = 3, buckets = 2)
    Dedup.requestGramTakedown(Seq(1L).toDF("doc_id"), idx2)
    Dedup.appendGramIndexBucketed(
      corpus.filter(col("doc_id") >= 3L), idx2, k = 3,
      maxFilesPerBucket = 1)
    assert(IndexFs.exists(spark, s"$idx2/_pending_deletes"),
      "no hand-back: the compaction carries the ledger")
    assert(hits(idx2, "a b c d e f") > 0, "not yet drained")
  }

  test("a request racing a DRAIN's build window survives the swap: the " +
      "rescue pass re-carries it instead of deleting it with .old") {
    val idx = freshIdx("racedrain")
    Dedup.writeGramIndexBucketed(corpus, idx, k = 3, buckets = 2)
    Dedup.requestGramTakedown(Seq(1L).toDF("doc_id"), idx)
    // land a second request INSIDE the drain's window — after the
    // ledger snapshot, before the swap
    racing(Dedup.requestGramTakedown(Seq(2L).toDF("doc_id"), idx))(
      assert(Dedup.drainGramTakedowns(corpus, idx, k = 3)))
    assert(hits(idx, "a b c d e f") === 0, "the snapshotted request drained")
    assert(hits(idx, "g h i j k l") > 0,
      "the racing request is NOT yet applied (it landed after the " +
        "snapshot) — at-drain semantics hold for it")
    assert(Dedup.pendingGramTakedowns(spark, idx)
      .as[Long].collect().toSeq === Seq(2L),
      "the racing request was rescued into the promoted ledger, not lost")
    assert(Dedup.drainGramTakedowns(corpus, idx, k = 3))
    assert(hits(idx, "g h i j k l") === 0,
      "the next drain applies the rescued request")
  }

  test("a request racing a COMPACTION (after its ledger copy) survives " +
      "the swap alongside the carried one") {
    val idx = freshIdx("racecompact")
    Dedup.writeGramIndexBucketed(corpus, idx, k = 3, buckets = 2)
    Dedup.requestGramTakedown(Seq(1L).toDF("doc_id"), idx)
    racing(Dedup.requestGramTakedown(Seq(3L).toDF("doc_id"), idx))(
      Dedup.compactGramIndex(spark, idx))
    assert(Dedup.pendingGramTakedowns(spark, idx)
      .as[Long].collect().sorted.toSeq === Seq(1L, 3L),
      "carried request AND late-landing request both pend after the swap")
    assert(Dedup.drainGramTakedowns(corpus, idx, k = 3))
    assert(hits(idx, "a b c d e f") === 0 && hits(idx, "m n o p q r") === 0)
    assert(hits(idx, "g h i j k l") > 0)
  }

  test("a ZERO-ROW request leaves the drain a cheap no-op (the trigger " +
      "gate counts pending rows, not ledger-directory existence)") {
    val idx = freshIdx("zerorow")
    Dedup.writeGramIndexBucketed(corpus, idx, k = 3, buckets = 2)
    Dedup.requestGramTakedown(
      corpus.filter(col("doc_id") < 0L).select("doc_id"), idx)
    assert(IndexFs.exists(spark, s"$idx/_pending_deletes"),
      "the empty request still minted a ledger directory")
    assert(!Dedup.drainGramTakedowns(corpus, idx, k = 3),
      "an empty ledger must not bill the index-sized rebuild")
    assert(hits(idx, "a b c d e f") > 0, "the index is untouched")
  }

  test("a stale .old from a crash mid-rescue re-carries its ledger " +
      "files before the next swap's opening delete") {
    val idx = freshIdx("stalerescue")
    Dedup.writeGramIndexBucketed(corpus, idx, k = 3, buckets = 2)
    Dedup.requestGramTakedown(Seq(1L).toDF("doc_id"), idx)
    // fabricate the crash-mid-rescue state: live index complete, a
    // stale .old still holding a ledger file the crashed swap never
    // copied out (a late-landed request for doc 3)
    Seq(3L).toDF("doc_id").repartition(1).write.mode("append")
      .parquet(s"$idx.old/_pending_deletes")
    Dedup.compactGramIndex(spark, idx)
    assert(Dedup.pendingGramTakedowns(spark, idx)
      .as[Long].collect().sorted.toSeq === Seq(1L, 3L),
      "the stale .old's request was completed, not deleted with it")
    assert(!IndexFs.exists(spark, s"$idx.old"), "the stale .old is gone")
    assert(Dedup.drainGramTakedowns(corpus, idx, k = 3))
    assert(hits(idx, "a b c d e f") === 0 && hits(idx, "m n o p q r") === 0)
  }

  test("a direct takedownGramIndex applies AND clears the ledger too " +
      "(one rebuild, both sources of removal)") {
    val idx = freshIdx("direct")
    Dedup.writeGramIndexBucketed(corpus, idx, k = 3, buckets = 2)
    Dedup.requestGramTakedown(Seq(1L).toDF("doc_id"), idx)
    // the caller filters doc 2 themselves; the ledger carries doc 1
    Dedup.takedownGramIndex(corpus.filter(col("doc_id") =!= 2L), idx, k = 3)
    assert(hits(idx, "a b c d e f") === 0, "ledger request applied")
    assert(hits(idx, "g h i j k l") === 0, "caller's filter applied")
    assert(hits(idx, "m n o p q r") > 0)
    assert(!IndexFs.exists(spark, s"$idx/_pending_deletes"))
  }

  test("gram screens and appends leave the internal cache registry " +
      "unchanged and find the flat index's spans") {
    val idx = freshIdx("registry")
    val flat = freshIdx("registry_flat")
    val built = corpus.filter(col("doc_id") <= 2L)
    Dedup.writeGramIndexBucketed(built, idx, k = 3, buckets = 2)
    Dedup.writeGramIndex(built, flat, k = 3)
    val before = graft.tools.InternalCaches.liveCount(spark)
    def spans(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    (3L to 5L).foreach { b =>
      // each batch repeats a span of an indexed or earlier-appended doc
      val batch = corpus.filter(col("doc_id") === math.min(b, 4L))
        .unionByName(Seq((10L * b, s"x a b c y m n o z$b")).toDF("doc_id", "text"))
      assert(spans(Dedup.duplicateSpansAgainstIndexBloom(batch, idx, k = 3)) ===
        spans(Dedup.duplicateSpansAgainstIndex(batch, flat, k = 3)), s"batch $b spans")
      Dedup.appendGramIndexBucketed(batch, idx, k = 3)
      Dedup.appendGramIndex(batch, flat, k = 3)
    }
    assert(graft.tools.InternalCaches.liveCount(spark) === before)
  }
}
