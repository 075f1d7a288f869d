package graft

import java.nio.file.Files

import scala.util.{Failure, Random, Success, Try}

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
  * double-appended doc (its shingles count twice) and exact copies,
  * which are near copies too.
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

  /** Same schema and rows at two thresholds, or the same failure: a
    * doc whose capped set equals a double-appended doc's scores
    * inter / 0, which both forms refuse under ANSI division. Returns
    * how many thresholds compared rows. */
  private def assertSameScreen(batch: DataFrame, dir: String, state: String): Int =
    Seq(0.3, 0.7).count { mj =>
      val got = Try(Dedup.screenAgainstNearDupIndex(batch, dir, n = 3, minJaccard = mj))
        .map(df => (df.schema, multiset(df)))
      val want = Try(NearDupScreenReference.screen(batch, dir, n = 3, minJaccard = mj))
        .map(df => (df.schema, multiset(df)))
      (got, want) match {
        case (Success((gs, gr)), Success((ws, wr))) =>
          assert(gs === ws, s"$state, minJaccard $mj: schema")
          assert(gr === wr, s"$state, minJaccard $mj: rows")
          true
        case (Failure(g), Failure(w)) =>
          assert(Seq(g, w).forall(e => String.valueOf(e.getMessage).contains("DIVIDE_BY_ZERO")),
            s"$state, minJaccard $mj: $g / $w")
          false
        case _ => fail(s"$state, minJaccard $mj: screen $got, reference $want")
      }
    }

  test("stored screen ≡ the one-plan reference on generated indexes and batches") {
    val compared = for (seed <- 1 to 4; hot <- Seq(false, true)) yield {
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
      // an accidental double append: the batch's shingles count twice
      if (seed % 2 == 0) Dedup.appendNearDupIndex(appendDf, dir, n = 3)
      // a doc equal to a double-appended one divides by zero (see
      // assertSameScreen): double-append seeds copy appended docs nearly
      val stored = if (seed % 2 == 0) indexed else indexed ++ appended
      def pick = stored(r.nextInt(stored.size))._2
      val batch = docs(
        Seq.tabulate(6)(i => (Some(200L + i), Some(pick))) ++
          Seq.tabulate(6)(i => (Some(210L + i), Some(near(r, pick)))) ++
          Seq.tabulate(4)(i => (Some(220L + i), Some(text(r)))) ++
          Seq(
            (Some(230L), Some(corpus.head._2)),
            (Some(231L), Some(near(r, corpus.head._2))),
            (Some(232L), Some(if (seed % 2 == 0) near(r, appended.head._2) else appended.head._2)),
            (Some(233L), Some(near(r, appended.last._2))),
            (Some(240L), Some(pick)), (Some(240L), Some(near(r, pick))),
            (Some(241L), Some(text(r))), (Some(241L), None),
            (None, Some(pick)), (None, Some(near(r, pick))),
            (Some(250L), None), (Some(251L), Some("")), (Some(252L), Some("a b")),
            (Some(253L), Some(pick))))
      val before = assertSameScreen(batch, dir, s"seed $seed, hot $hot, appended")
      // takedowns: the tied pair's lower id, other docs, and a repeated id
      val down = Seq(1L, 100L + r.nextInt(6), 2L + r.nextInt(29))
      Dedup.deleteFromNearDupIndex(down.toDF("doc_id"), dir)
      Dedup.deleteFromNearDupIndex(Seq(down.last, 3L).toDF("doc_id"), dir)
      before + assertSameScreen(batch, dir, s"seed $seed, hot $hot, taken down")
    }
    assert(compared.sum >= compared.size * 4 * 2 / 3,
      s"most thresholds compare rows, not a shared failure: $compared")
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
