package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import graft.ext.{Dedup, IndexFs, LanguageModel, Similarity}

/** One crash-state loop over the four [[graft.ext.StoredIndex]] families
  * (near-dup, semantic, IVF-PQ, LM) on tiny fixtures. Each family stages
  * every crash state that applies to it:
  *
  *   - `table-swap`: a compaction crashed mid-swap — a data table exists
  *     only as `<t>.old` beside its complete `<t>.compact` copy;
  *   - `dir-swap`: a rebuild crashed mid-swap — the whole index exists
  *     only as `<dir>.old` beside a complete `<dir>.compact`;
  *   - `rebuild-markers`: a rebuild crashed after carrying the batch
  *     markers into `<dir>.compact`, so they sit only there;
  *   - `lost-marker`: an append committed its data but not its marker.
  *
  * After each, the family's next verb must produce the output of an
  * uncrashed run, and a redelivered batch must still be skipped (for
  * the LM, whose appends are batch-stamped rather than marked, skipped
  * means the redelivery leaves the scores unchanged).
  */
class StoredIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64
  private def unit(axis: Int, eps: (Int, Float)*): Seq[Float] =
    Seq.tabulate(dim) { d =>
      if (d == axis) 1.0f
      else eps.collectFirst { case (a, e) if a == d => e }.getOrElse(0.0f)
    }

  private def vecFixture: DataFrame = Seq(
    0L -> unit(0), 1L -> unit(0, 1 -> 0.3f),
    100L -> unit(1), 101L -> unit(1, 2 -> 0.3f)
  ).toDF("vec_id", "embedding")
  private def vecBatch: DataFrame = Seq(
    2L -> unit(0, 3 -> 0.3f), 102L -> unit(1, 3 -> 0.3f)
  ).toDF("vec_id", "embedding")

  private def ndFixture = Seq(
    (1L, "a b c d e f g h"), (2L, "p q r s t u v w"),
    (3L, "the quick brown fox jumps over it")
  ).toDF("doc_id", "text")
  private def ndBatch = Seq(
    (4L, "one two three four five six seven"), (5L, "k l m n o p q r")
  ).toDF("doc_id", "text")

  private def lmDocs = Seq(
    (1L, "the cat sat on the mat the cat sat", "en"),
    (2L, "the dog sat on the mat the dog ran", "en")
  ).toDF("doc_id", "text", "lang")
  private def lmBatch = Seq(
    (3L, "zebras graze quietly zebras graze calmly the cat", "en")
  ).toDF("doc_id", "text", "lang")

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  /** A stored-index family under test: `deliver` appends batch 1 under
    * the family's replay protection and reports whether it ran (None
    * when the family has none), `commitData` appends it the way a
    * crash between data and marker leaves it, `probe` is the family's
    * screen/search/score output.
    */
  private final class Family(
      val name: String,
      val tables: Seq[String],
      val build: String => Unit,
      val deliver: String => Option[Boolean],
      val commitData: Option[String => Unit],
      val compact: String => Unit,
      val probe: String => Seq[Seq[Any]],
      val rebuilds: Boolean,
      val markers: Boolean)

  private val families = Seq(
    new Family("near-dup", Seq("shingles", "sizes", "hashes"),
      build = Dedup.writeNearDupIndex(ndFixture, _),
      deliver = d => Some(Dedup.appendNearDupIndexOnce(ndBatch, d, 1L)),
      commitData = Some(Dedup.appendNearDupIndex(ndBatch, _)),
      compact = Dedup.compactNearDupIndex(spark, _),
      probe = d => rows(Dedup.screenAgainstNearDupIndex(Seq(
        (10L, "k l m n o p q r"), (11L, "one two three four five six eight"),
        (12L, "a b c d e f g h")).toDF("doc_id", "text"), d, minJaccard = 0.5)),
      rebuilds = true, markers = true),
    new Family("semantic", Seq("vectors"),
      build = Similarity.writeSemanticIndex(vecFixture, _),
      deliver = d => Some(Similarity.appendSemanticIndexOnce(vecBatch, d, 1L)),
      commitData = Some(Similarity.appendSemanticIndex(vecBatch, _)),
      compact = Similarity.compactSemanticIndex(spark, _),
      probe = d => rows(Similarity.semanticScreenIndex(
        vecFixture.union(vecBatch), d, minCos = 0.9)),
      rebuilds = true, markers = true),
    new Family("ivf-pq", Seq("codes"),
      build = Similarity.ivfPqWriteIndex(vecFixture, _),
      deliver = d => { Similarity.ivfPqAppendIndex(vecBatch, d); None },
      commitData = None,
      compact = Similarity.ivfPqCompactIndex(spark, _),
      probe = d => rows(Similarity.ivfPqSearchIndex(vecFixture.union(vecBatch),
        d, queryIds = Seq(0L, 100L), k = 3)),
      rebuilds = true, markers = false),
    new Family("lm", Seq("bigrams"),
      build = LanguageModel.writeLmIndex(lmDocs, _),
      deliver = d => { LanguageModel.appendLmIndex(lmBatch, d, "b1"); None },
      commitData = Some(LanguageModel.appendLmIndex(lmBatch, _, "b1")),
      compact = LanguageModel.compactLmIndex(spark, _),
      probe = d => rows(LanguageModel.scoreAgainstLmIndex(
        Seq((9L, "the cat ran on the mat zebras graze", "en"))
          .toDF("doc_id", "text", "lang"), d)),
      rebuilds = false, markers = false)
  )

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_si_$tag").toString + "/idx"

  /** A swap crashed between `rename(live, old)` and
    * `rename(live.compact, live)`. */
  private def crashMidSwap(live: String): Unit = {
    IndexFs.copyDir(spark, live, s"$live.compact")
    IndexFs.renameOrFail(spark, live, s"$live.old", "stage crash")
  }

  /** The checks every crash state ends with: the next verb's output
    * equals the uncrashed run's, and a redelivery is skipped. */
  private def assertRecovered(f: Family, dir: String, want: Seq[Seq[Any]],
      state: String): Unit = {
    assert(f.probe(dir) === want, s"${f.name}/$state: output after recovery")
    f.deliver(dir).foreach(ran =>
      assert(!ran, s"${f.name}/$state: redelivered batch must be skipped"))
    if (!f.markers && f.commitData.isDefined)
      assert(f.probe(dir) === want, s"${f.name}/$state: replay collapses")
  }

  families.foreach { f =>
    lazy val uncrashed: Seq[Seq[Any]] = {
      val d = fresh(s"${f.name}_ref")
      f.build(d)
      f.deliver(d)
      f.probe(d)
    }

    f.tables.foreach { t =>
      test(s"${f.name}: compaction crash mid-swap on `$t` heals on the next verb") {
        val d = fresh(s"${f.name}_$t")
        f.build(d)
        f.deliver(d)
        crashMidSwap(s"$d/$t")
        assert(!IndexFs.exists(spark, s"$d/$t"))
        assertRecovered(f, d, uncrashed, s"table-swap $t")
        assert(!IndexFs.exists(spark, s"$d/$t.compact"))
      }
    }

    if (f.rebuilds) test(s"${f.name}: rebuild crash mid whole-directory swap " +
        "heals on the next verb") {
      val d = fresh(s"${f.name}_dir")
      f.build(d)
      f.deliver(d)
      crashMidSwap(d)
      assert(!IndexFs.exists(spark, d))
      assertRecovered(f, d, uncrashed, "dir-swap")
    }

    if (f.markers) test(s"${f.name}: markers stranded in <dir>.compact by a " +
        "crashed rebuild still skip redeliveries") {
      val d = fresh(s"${f.name}_markers")
      f.build(d)
      assert(f.deliver(d) === Some(true))
      // the rebuild had written part of its tmp directory and carried
      // the markers into it when it crashed
      IndexFs.copyDir(spark, s"$d/${f.tables.head}", s"$d.compact/${f.tables.head}")
      IndexFs.mergeMarkers(spark, s"$d/_batch_commits", s"$d.compact/_batch_commits")
      assert(IndexFs.listNames(spark, s"$d/_batch_commits").isEmpty)
      assertRecovered(f, d, uncrashed, "rebuild-markers")
    }

    f.commitData.foreach { commit =>
      test(s"${f.name}: an append committed without its marker is repaired " +
          "and its batch skipped afterwards") {
        val d = fresh(s"${f.name}_lost")
        f.build(d)
        commit(d)
        // the redelivery appends again (nothing recorded the commit); the
        // compaction's rewrite repairs the double append
        f.deliver(d)
        f.compact(d)
        assertRecovered(f, d, uncrashed, "lost-marker")
      }
    }
  }

  test("near-dup takedown releases no cache reading the live tables, and the " +
      "taken-down document stops screening") {
    val d = fresh("nd_memo")
    Dedup.writeNearDupIndex(ndFixture, d)
    // a file-backed probe, so every memoized frame's input files are known
    val probePath = Files.createTempDirectory("graft_si_probe").toString + "/p"
    Seq((10L, "a b c d e f g h")).toDF("doc_id", "text").write.parquet(probePath)
    val probe = spark.read.parquet(probePath)
    def verdicts = Dedup.screenAgainstNearDupIndex(probe, d)
      .select("doc_id", "verdict").as[(Long, String)].collect().toSeq
    assert(verdicts === Seq((10L, "drop_exact")))
    Dedup.deleteFromNearDupIndex(Seq(1L).toDF("doc_id"), d)
    assert(verdicts === Seq((10L, "keep")),
      "the taken-down document no longer flags its copy")
    val live = Seq("shingles", "sizes", "hashes")
      .map(t => new org.apache.hadoop.fs.Path(s"$d/$t").toUri.getPath)
    val listed = graft.tools.InternalCaches.inputFiles(spark)
    assert(listed.forall(_.isDefined),
      "every memoized frame's input files are listed (None might read anything)")
    val files = listed.flatten.flatten
      .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath)
    assert(files.exists(_.startsWith(probePath)),
      "the screen's batch-side frame is memoized over the probe")
    assert(!files.exists(f => live.exists(f.startsWith)),
      s"no memoized frame may read a live near-dup table: $files")
  }
}
