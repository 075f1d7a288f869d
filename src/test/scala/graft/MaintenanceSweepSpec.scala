package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, IndexFs, Maintenance, Similarity}
import graft.ext.Maintenance.{GramStore, IvfPqStore, NearDupStore, SemanticStore}

/** Round-18: the ONE cronnable maintenance sweep (x144) — composition
  * of the guarded verbs every store family already carries. The
  * registered entry hash-gates a three-trigger sweep against DuckDB;
  * this spec pins what the oracle cannot express: verdict invariance
  * (the sweep ≡ the hand-composed sequence of verbs on mirror stores),
  * dryRun inertness, the quiet sweep as a pure audit, drift-remedy
  * coalescing at the IVF-PQ grain, and the near-dup compaction rung.
  */
class MaintenanceSweepSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64
  private def unit(axis: Int): Seq[Float] =
    Seq.tabulate(dim)(d => if (d == axis) 1.0f else 0.0f)
  private def embDf(n: Int) =
    (0L until n.toLong).map(i => i -> unit(i.toInt)).toDF("vec_id", "embedding")

  private def gramCorpus = Seq(
    1L -> "a b c d e f",
    2L -> "g h i j k l",
    3L -> "m n o p q r",
    4L -> "s t u v w x"
  ).toDF("doc_id", "text")

  private def hits(idx: String, text: String): Long =
    Dedup.duplicateSpansAgainstIndexBloom(
      Seq(99L -> text).toDF("doc_id", "text"), idx, k = 3).count()

  private def root(tag: String): String =
    Files.createTempDirectory(s"graft_sweep_$tag").toString

  private def actions(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      (r.getAs[String]("store"), r.getAs[String]("trigger")) ->
        ((r.getAs[Boolean]("fired"), r.getAs[Boolean]("acted"),
          r.getAs[String]("verb"),
          Option(r.getAs[java.lang.Long]("gauge_before")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("gauge_after")).map(_.toLong)))
    }.toMap

  // the x144 shape: cap-bind + ledger + compaction firing in ONE sweep
  test("three triggers fire in one sweep, and the post-state is " +
      "identical to the hand-composed verb sequence on mirror stores") {
    val r = root("three")
    val emb = embDf(8)
    // sweep-side stores
    Similarity.writeSemanticIndex(emb, s"$r/semA",
      centroidModulus = 1, maxCentroids = 2) // 8 eligible > 2: binds
    Dedup.writeGramIndexBucketed(gramCorpus, s"$r/gramB", k = 3, buckets = 2)
    Dedup.requestGramTakedown(Seq(1L).toDF("doc_id"), s"$r/gramB")
    Dedup.writeGramIndexBucketed(gramCorpus, s"$r/gramC", k = 3, buckets = 2)
    // mirror stores, identically staged
    Similarity.writeSemanticIndex(emb, s"$r/semA2",
      centroidModulus = 1, maxCentroids = 2)
    Dedup.writeGramIndexBucketed(gramCorpus, s"$r/gramB2", k = 3, buckets = 2)
    Dedup.requestGramTakedown(Seq(1L).toDF("doc_id"), s"$r/gramB2")
    Dedup.writeGramIndexBucketed(gramCorpus, s"$r/gramC2", k = 3, buckets = 2)

    val out = actions(Maintenance.maintenanceSweep(spark, Seq(
      SemanticStore("semA", s"$r/semA"),
      GramStore("gramB", s"$r/gramB", gramCorpus, k = 3, buckets = 2,
        maxDataFiles = 10000L),
      GramStore("gramC", s"$r/gramC", gramCorpus, k = 3, buckets = 2,
        maxDataFiles = 0L)))) // 0 = compact every sweep

    assert(out(("semA", "cap_bind")) ===
      ((true, true, "retrainSemanticIfCapBound", Some(2L), Some(8L))),
      "cap 2 binds on 8 eligible; widened to max(4, 8) = 8")
    assert(out(("semA", "file_count"))._1 === false, "fresh rebuild: quiet")
    assert(out(("gramB", "ledger")) ===
      ((true, true, "drainGramTakedowns", Some(1L), Some(0L))))
    assert(out(("gramB", "file_count"))._1 === false,
      "the drain IS a rewrite — re-checked after, quiet")
    assert(out(("gramC", "ledger"))._1 === false)
    assert(out(("gramC", "file_count"))._2 === true,
      "threshold 0 compacts every sweep")
    assert(out.size === 6, "one row per store x trigger")

    // hand-compose the same verbs on the mirrors
    Similarity.retrainSemanticIfCapBound(spark, s"$r/semA2")
    Dedup.drainGramTakedowns(gramCorpus, s"$r/gramB2", k = 3, buckets = 2)
    Dedup.compactGramIndex(spark, s"$r/gramC2", buckets = 2)

    // verdict invariance: audits and screens agree store-for-store
    assert(Similarity.storedSemanticOccupancy(spark, s"$r/semA")
        .collect().toSeq ===
      Similarity.storedSemanticOccupancy(spark, s"$r/semA2")
        .collect().toSeq)
    for (t <- Seq("a b c d e f", "g h i j k l")) {
      assert(hits(s"$r/gramB", t) === hits(s"$r/gramB2", t))
      assert(hits(s"$r/gramC", t) === hits(s"$r/gramC2", t))
    }
    assert(hits(s"$r/gramB", "a b c d e f") === 0, "the drain applied")
    assert(hits(s"$r/gramC", "a b c d e f") > 0, "compaction only rewrites")
  }

  test("dryRun evaluates every trigger and mutates nothing") {
    val r = root("dry")
    Similarity.writeSemanticIndex(embDf(8), s"$r/sem",
      centroidModulus = 1, maxCentroids = 2)
    Dedup.writeGramIndexBucketed(gramCorpus, s"$r/gram", k = 3, buckets = 2)
    Dedup.requestGramTakedown(Seq(1L).toDF("doc_id"), s"$r/gram")
    val stamp0 = IndexFs.readSmall(spark, s"$r/sem/_quantizer")
    val out = actions(Maintenance.maintenanceSweep(spark, Seq(
      SemanticStore("sem", s"$r/sem"),
      GramStore("gram", s"$r/gram", gramCorpus, k = 3, buckets = 2,
        maxDataFiles = 0L)), dryRun = true))
    assert(out(("sem", "cap_bind"))._1 && !out(("sem", "cap_bind"))._2)
    assert(out(("sem", "cap_bind"))._5 === Some(2L),
      "gauge_after == gauge_before when nothing acted")
    assert(out(("gram", "ledger"))._1 && !out(("gram", "ledger"))._2)
    assert(out(("gram", "file_count"))._1 && !out(("gram", "file_count"))._2)
    assert(IndexFs.readSmall(spark, s"$r/sem/_quantizer") === stamp0)
    assert(Similarity.storedSemanticOccupancy(spark, s"$r/sem")
      .head().getAs[Boolean]("cap_bound"), "alarm still fires — untouched")
    assert(Dedup.pendingGramTakedowns(spark, s"$r/gram").count() === 1L)
    assert(hits(s"$r/gram", "a b c d e f") > 0, "nothing drained")
  }

  test("a quiet sweep is a pure audit: every trigger reports and no " +
      "store changes") {
    val r = root("quiet")
    Similarity.writeSemanticIndex(embDf(4), s"$r/sem",
      centroidModulus = 1, maxCentroids = 8) // 4 <= 8: quiet
    Dedup.writeGramIndexBucketed(gramCorpus, s"$r/gram", k = 3, buckets = 2)
    val stamp0 = IndexFs.readSmall(spark, s"$r/sem/_quantizer")
    val out = actions(Maintenance.maintenanceSweep(spark, Seq(
      SemanticStore("sem", s"$r/sem"),
      GramStore("gram", s"$r/gram", gramCorpus, k = 3, buckets = 2))))
    assert(out.values.forall { case (fired, acted, _, _, _) =>
      !fired && !acted })
    assert(out(("sem", "cap_bind"))._4 === Some(8L),
      "quiet cap-bind gauges report the current cap")
    assert(IndexFs.readSmall(spark, s"$r/sem/_quantizer") === stamp0)
    assert(hits(s"$r/gram", "a b c d e f") > 0)
  }

  test("IVF-PQ drift remedy coalesces into a cap-bind retrain that " +
      "already rebuilt this sweep (one rebuild serves both triggers)") {
    val r = root("coalesce")
    val emb = embDf(8)
    // code cap binds (modulus 1 => 8 eligible code seeds > 4)
    Similarity.ivfPqWriteIndex(emb, s"$r/pq",
      centroidModulus = 1, maxCentroids = 16, codeModulus = 1, maxCodes = 4)
    // an EMPTY monitored frame forces needs_retrain (the x67 rule:
    // zero evidence pages, it does not report healthy)
    val emptyRerank = Seq.empty[(Long, Int, Long, Double, Double)]
      .toDF("query_id", "rank", "neighbor_id", "cos_sim", "approx_cos")
    val out = actions(Maintenance.maintenanceSweep(spark, Seq(
      IvfPqStore("pq", s"$r/pq", emb, rerank = Some(emptyRerank)))))
    assert(out(("pq", "cap_bind"))._1 === false, "coarse cut quiet")
    assert(out(("pq", "code_cap_bind")) ===
      ((true, true, "ivfPqRetrainIfCapBound", Some(4L), Some(8L))))
    assert(out(("pq", "drift")) ===
      ((true, true, "ivfPqRetrainIfCapBound (coalesced)", None, None)),
      "the drift alarm fired but its rebuild folded into the retrain")
    assert(!Similarity.ivfPqOccupancy(spark, s"$r/pq")
      .head().getAs[Boolean]("code_cap_bound"), "one rebuild cleared it")
  }

  test("IVF-PQ drift alone rebuilds at the stamped geometry; the " +
      "rebuilt index searches identically to a hand rebuild") {
    val r = root("drift")
    val emb = embDf(8)
    Similarity.ivfPqWriteIndex(emb, s"$r/pq",
      centroidModulus = 1, maxCentroids = 16, codeModulus = 1, maxCodes = 16)
    Similarity.ivfPqWriteIndex(emb, s"$r/pq2",
      centroidModulus = 1, maxCentroids = 16, codeModulus = 1, maxCodes = 16)
    val emptyRerank = Seq.empty[(Long, Int, Long, Double, Double)]
      .toDF("query_id", "rank", "neighbor_id", "cos_sim", "approx_cos")
    val out = actions(Maintenance.maintenanceSweep(spark, Seq(
      IvfPqStore("pq", s"$r/pq", emb, rerank = Some(emptyRerank)))))
    assert(out(("pq", "cap_bind"))._1 === false)
    assert(out(("pq", "code_cap_bind"))._1 === false)
    assert(out(("pq", "drift")) ===
      ((true, true, "ivfPqRebuildIndex", None, None)))
    Similarity.ivfPqRebuildIndex(emb, s"$r/pq2",
      centroidModulus = 1, maxCentroids = 16, codeModulus = 1, maxCodes = 16)
    assert(Similarity.ivfPqSearchIndex(emb, s"$r/pq", queryIds = Seq(0L, 3L))
        .collect().toSeq ===
      Similarity.ivfPqSearchIndex(emb, s"$r/pq2", queryIds = Seq(0L, 3L))
        .collect().toSeq)
  }

  test("LM store file_count rung compacts (folding appends) without " +
      "changing scores") {
    val r = root("lm")
    val docs = Seq(
      1L -> ("en", "the cat sat on the mat"),
      2L -> ("en", "the dog sat on the rug")
    ).map { case (id, (lang, text)) => (id, lang, text) }
      .toDF("doc_id", "lang", "text")
    graft.ext.LanguageModel.writeLmIndex(docs, s"$r/lm")
    // appends accumulate files past a tiny threshold
    graft.ext.LanguageModel.appendLmIndex(
      Seq((3L, "en", "a bird sat on the fence")).toDF("doc_id", "lang", "text"),
      s"$r/lm", "b1", maxFiles = 0)
    val probe = Seq((9L, "en", "the cat sat on the rug"))
      .toDF("doc_id", "lang", "text")
    val before = graft.ext.LanguageModel
      .scoreAgainstLmIndex(probe, s"$r/lm").collect().toSeq
    val out = actions(Maintenance.maintenanceSweep(spark, Seq(
      Maintenance.LmStore("lm", s"$r/lm", maxDataFiles = 1L))))
    assert(out(("lm", "file_count"))._1 && out(("lm", "file_count"))._2)
    assert(out(("lm", "file_count"))._3 === "compactLmIndex")
    assert(graft.ext.LanguageModel
      .scoreAgainstLmIndex(probe, s"$r/lm").collect().toSeq === before,
      "compaction folds files without changing the model's scores")
  }

  test("near-dup store fed only takedowns fires at its threshold, " +
      "counting tombstone files") {
    val r = root("neardup_takedowns")
    val docs = (1L to 6L).map(i => i -> s"document number $i has its own words $i")
      .toDF("doc_id", "text")
    Dedup.writeNearDupIndex(docs, s"$r/nd")
    val base = Dedup.NearDupIndex.dataFiles(spark, s"$r/nd")
    val store = NearDupStore("nd", s"$r/nd", maxDataFiles = base + 2)
    def sweep() = actions(Maintenance.maintenanceSweep(spark, Seq(store)))(("nd", "file_count"))
    Dedup.deleteFromNearDupIndex(Seq(1L).toDF("doc_id"), s"$r/nd")
    Dedup.deleteFromNearDupIndex(Seq(2L).toDF("doc_id"), s"$r/nd")
    assert(sweep() === ((false, false, "compactNearDupIndex", Some(base + 2), Some(base + 2))),
      "at the threshold: quiet")
    Dedup.deleteFromNearDupIndex(Seq(3L).toDF("doc_id"), s"$r/nd")
    val (fired, acted, _, before, after) = sweep()
    assert(fired && acted && before === Some(base + 3))
    assert(Dedup.NearDupIndex.tombstoneFiles(spark, s"$r/nd") === 0L,
      "the compaction applied the tombstones and removed their files")
    assert(after === Some(Dedup.NearDupIndex.dataFiles(spark, s"$r/nd")))
    val kept = Dedup.NearDupIndex.read(spark, s"$r/nd", "sizes")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(4L, 5L, 6L))
  }

  test("near-dup store file_count rung compacts without changing " +
      "screen verdicts") {
    val r = root("neardup")
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog today",
      3L -> "completely different text with no overlap at all here"
    ).toDF("doc_id", "text")
    Dedup.writeNearDupIndex(docs, s"$r/nd")
    val before = Dedup.screenAgainstNearDupIndex(
      Seq(9L -> "the quick brown fox jumps over the lazy dog today")
        .toDF("doc_id", "text"), s"$r/nd").collect().toSeq
    val out = actions(Maintenance.maintenanceSweep(spark, Seq(
      NearDupStore("nd", s"$r/nd", maxDataFiles = 0L))))
    assert(out(("nd", "file_count"))._1 && out(("nd", "file_count"))._2)
    assert(Dedup.screenAgainstNearDupIndex(
      Seq(9L -> "the quick brown fox jumps over the lazy dog today")
        .toDF("doc_id", "text"), s"$r/nd").collect().toSeq === before)
  }
}
