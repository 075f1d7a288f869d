package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.ext.Dedup

/** Differential check of the stored near-dup verbs against their
  * one-plan form ([[NearDupScreenReference]]): on seeded generated
  * indexes (hot list on and off, a double append, takedowns repeated
  * across requests) and batches, the screen must return the reference's
  * schema and row multiset, and the append must write the reference's
  * rows and column order to every table.
  *
  * Batches hold the awkward rows: `doc_id`s shared by rows of different
  * text (screened as one document), a null `doc_id`, null and empty
  * text, docs shorter than the shingle width, copies of two indexed docs
  * with equal text (a Jaccard tie, broken to the lower id), copies of a
  * double-appended doc and exact copies, which are near copies too.
  * On an index with a double append the stored screen must still see
  * each stored shingle once, so there the reference screens a compacted
  * copy of the index, which holds every row once.
  */
class NearDupScreenEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val words = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i")

  private def text(r: Random, min: Int = 0): String =
    Seq.fill(min + r.nextInt(12 - min))(words(r.nextInt(words.size))).mkString(" ")

  /** `t` with one word replaced by another: a near copy. */
  private def near(r: Random, t: String): String = {
    val ws = t.split(" ")
    val i = r.nextInt(ws.length)
    ws(i) = words.filterNot(_ == ws(i))(r.nextInt(words.size - 1))
    ws.mkString(" ")
  }

  private def docs(rows: Seq[(Option[Long], Option[String])]): DataFrame =
    rows.toDF("doc_id", "text")

  private def multiset(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_ndeq_$tag").toString + "/idx"

  /** A compacted copy of the index at `dir`: every stored row once. */
  private def compacted(dir: String): String = {
    val copy = fresh("compacted")
    val fs = graft.ext.IndexFs.fs(spark, dir)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(dir),
      fs, new org.apache.hadoop.fs.Path(copy), false, spark.sparkContext.hadoopConfiguration))
    Dedup.compactNearDupIndex(spark, copy)
    copy
  }

  /** The screen of `dir` and the reference over `refDir` return the
    * same schema and rows at two thresholds. */
  private def assertSameScreen(batch: DataFrame, dir: String, refDir: String,
      state: String): Unit =
    Seq(0.3, 0.7).foreach { mj =>
      val got = Dedup.screenAgainstNearDupIndex(batch, dir, n = 3, minJaccard = mj)
      val want = NearDupScreenReference.screen(batch, refDir, n = 3, minJaccard = mj)
      assert(got.schema === want.schema, s"$state, minJaccard $mj: schema")
      assert(multiset(got) === multiset(want), s"$state, minJaccard $mj: rows")
    }

  test("stored screen ≡ the one-plan reference on generated indexes and batches") {
    for (seed <- 1 to 4; hot <- Seq(false, true)) {
      val r = new Random(seed * 7919L)
      val corpus = (1L to 30L).map(id => id -> text(r, 3))
      // two indexed docs with equal text: copies of it tie at every score
      val indexed = corpus :+ (31L -> corpus.head._2)
      val dir = fresh(s"s${seed}_$hot")
      Dedup.writeNearDupIndex(docs(indexed.map { case (i, t) => (Some(i), Some(t)) }), dir,
        n = 3, maxShingleDf = if (hot) 4 else Int.MaxValue)
      val appended = (100L to 105L).map(id => id -> near(r, corpus(r.nextInt(30))._2))
      val appendDf = docs(appended.map { case (i, t) => (Some(i), Some(t)) })
      Dedup.appendNearDupIndex(appendDf, dir, n = 3)
      // an accidental double append: every appended row is stored twice
      val doubled = seed % 2 == 0
      if (doubled) Dedup.appendNearDupIndex(appendDf, dir, n = 3)
      def refDir = if (doubled) compacted(dir) else dir
      val stored = indexed ++ appended
      def pick = stored(r.nextInt(stored.size))._2
      val batch = docs(
        Seq.tabulate(6)(i => (Some(200L + i), Some(pick))) ++
          Seq.tabulate(6)(i => (Some(210L + i), Some(near(r, pick)))) ++
          Seq.tabulate(4)(i => (Some(220L + i), Some(text(r)))) ++
          Seq(
            (Some(230L), Some(corpus.head._2)),
            (Some(231L), Some(near(r, corpus.head._2))),
            (Some(232L), Some(appended.head._2)),
            (Some(233L), Some(near(r, appended.last._2))),
            (Some(240L), Some(pick)), (Some(240L), Some(near(r, pick))),
            (Some(241L), Some(text(r))), (Some(241L), None),
            (None, Some(pick)), (None, Some(near(r, pick))),
            (Some(250L), None), (Some(251L), Some("")), (Some(252L), Some("a b")),
            (Some(253L), Some(pick))))
      assertSameScreen(batch, dir, refDir, s"seed $seed, hot $hot, appended")
      // takedowns: the tied pair's lower id, other docs, and a repeated id
      val down = Seq(1L, 100L + r.nextInt(6), 2L + r.nextInt(29))
      Dedup.deleteFromNearDupIndex(down.toDF("doc_id"), dir)
      Dedup.deleteFromNearDupIndex(Seq(down.last, 3L).toDF("doc_id"), dir)
      assertSameScreen(batch, dir, refDir, s"seed $seed, hot $hot, taken down")
    }
  }

  test("append writes the one-plan append's rows and column order to every table") {
    Seq(false, true).foreach { hot =>
      val r = new Random(if (hot) 17L else 13L)
      val corpus = docs((1L to 20L).map(id => (Some(id), Some(text(r, 3)))))
      val batch = docs(Seq(
        (Some(100L), Some(text(r, 3))), (Some(100L), Some(text(r, 3))),
        (Some(101L), None), (Some(102L), Some("a b")), (None, Some(text(r, 3))),
        (Some(103L), Some(text(r, 3)))))
      val (got, want) = (fresh(s"app_$hot"), fresh(s"app_ref_$hot"))
      Seq(got, want).foreach(d => Dedup.writeNearDupIndex(corpus, d, n = 3,
        maxShingleDf = if (hot) 3 else Int.MaxValue))
      val built = Seq("shingles", "sizes", "hashes")
        .map(t => t -> new java.io.File(s"$got/$t").list().toSet).toMap
      Dedup.appendNearDupIndex(batch, got, n = 3)
      NearDupScreenReference.append(batch, want, n = 3)
      Seq("shingles", "sizes", "hashes").foreach { t =>
        assert(multiset(spark.read.parquet(s"$got/$t")) ===
          multiset(spark.read.parquet(s"$want/$t")), s"hot $hot: $t rows")
        val added = new java.io.File(s"$got/$t").list().toSet -- built(t)
        val files = added.filter(f => !f.startsWith(".") && !f.startsWith("_"))
        assert(files.size === 1, s"hot $hot: $t gains one file")
        assert(spark.read.parquet(s"$got/$t/${files.head}").columns.toSeq ===
          spark.read.parquet(s"$want/$t").columns.toSeq, s"hot $hot: $t columns")
      }
    }
  }
}
