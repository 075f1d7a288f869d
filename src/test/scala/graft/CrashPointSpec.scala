package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.ext.{Dedup, Events, IndexFs}

/** Crash-point enumeration over the stored lifecycles: instead of one
  * hand-built crash state per bug, every verb below runs once uncrashed
  * while the [[IndexFs.beforeMutation]] seam counts its filesystem
  * mutations (renames, deletes, touches, small writes, copies and the
  * kernel's request writes), then once per mutation on a fresh copy of
  * the same pre-state, crashing before that mutation and every later
  * one. After each crash the driver's sidecar cache is dropped (a dead
  * process keeps none), the verb re-runs — the at-least-once recovery
  * every verb promises — and what readers see must equal the uncrashed
  * run's output.
  */
class CrashPointSpec extends SparkSpec {
  import spark.implicits._

  private final class CrashPoint extends RuntimeException("crash point")

  private def causedByCrash(t: Throwable): Boolean =
    t != null && (t.isInstanceOf[CrashPoint] || causedByCrash(t.getCause))

  private def hooked[A](hook: String => Unit)(f: => A): A = {
    IndexFs.beforeMutation = hook
    try f finally IndexFs.beforeMutation = _ => ()
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    }

  private def rows(df: DataFrame): String =
    df.collect().map(_.toSeq.mkString("|")).sorted.mkString(";")

  /** One test per verb: `setup` writes the pre-state under a root,
    * `verb` is the run under test and its own recovery, `observe`
    * renders what readers see. */
  private def enumerate(name: String)(setup: String => Unit)(
      verb: String => Unit)(observe: String => String): Unit =
    test(s"$name: a crash before any of its mutations recovers to the uncrashed output") {
      val base = Files.createTempDirectory("graft_crash_base")
      setup(base.toString)
      def fresh(): String = {
        val d = Files.createTempDirectory("graft_crash")
        copyTree(base, d)
        d.toString
      }
      val ref = fresh()
      val mutations = ArrayBuffer.empty[String]
      hooked(w => mutations.synchronized(mutations += w))(verb(ref))
      val want = observe(ref)
      assert(mutations.nonEmpty, s"$name makes no mutation")
      mutations.indices.foreach { i =>
        val d = fresh()
        val seen = new AtomicInteger
        val e = intercept[Throwable](hooked { _ =>
          if (seen.incrementAndGet() > i) throw new CrashPoint
        }(verb(d)))
        assert(causedByCrash(e), s"$name, point ${i + 1}: failed otherwise: $e")
        Dedup.invalidateSidecarCache(s"$d/idx")
        verb(d)
        assert(observe(d) === want,
          s"$name: crash before mutation ${i + 1} of ${mutations.size} (${mutations(i)})")
      }
      info(s"${mutations.size} crash points")
    }

  // ---- the bucketed gram store -----------------------------------------

  private def gramDocs(ids: Long*): DataFrame = Seq(
    1L -> "a b c d e f", 2L -> "g h i j k l",
    3L -> "m n o p q r", 4L -> "s t u v w x"
  ).filter(r => ids.contains(r._1)).toDF("doc_id", "text")
  private val allGram = Seq(1L, 2L, 3L, 4L)

  private def gramView(d: String): String = {
    val idx = s"$d/idx"
    val probe = Seq(9L -> "a b c d x g h i j m n o s t u").toDF("doc_id", "text")
    Seq(rows(Dedup.duplicateSpansAgainstIndexBloom(probe, idx, k = 3)),
      rows(spark.read.schema("g LONG, bucket INT").parquet(idx).select("g").distinct()),
      rows(Dedup.pendingGramTakedowns(spark, idx))).mkString("\n")
  }

  enumerate("gram append with an inline drain")(d => {
    Dedup.writeGramIndexBucketed(gramDocs(1L, 2L), s"$d/idx", k = 3, buckets = 2)
    Dedup.requestGramTakedown(Seq(3L).toDF("doc_id"), s"$d/idx")
  })(d => Dedup.appendGramIndexBucketed(gramDocs(3L, 4L), s"$d/idx", k = 3,
    maxFilesPerBucket = 1, corpusForDrain = Some(gramDocs(allGram: _*))))(gramView)

  enumerate("gram compaction")(d => {
    Dedup.writeGramIndexBucketed(gramDocs(1L, 2L, 3L), s"$d/idx", k = 3, buckets = 2)
    Dedup.appendGramIndexBucketed(gramDocs(2L, 4L), s"$d/idx", k = 3, maxFilesPerBucket = 0)
    Dedup.requestGramTakedown(Seq(2L).toDF("doc_id"), s"$d/idx")
  })(d => Dedup.compactGramIndex(spark, s"$d/idx"))(gramView)

  enumerate("gram takedown request")(d =>
    Dedup.writeGramIndexBucketed(gramDocs(allGram: _*), s"$d/idx", k = 3, buckets = 2)
  )(d => Dedup.requestGramTakedown(Seq(1L, 2L).toDF("doc_id"), s"$d/idx"))(gramView)

  enumerate("gram drain")(d => {
    Dedup.writeGramIndexBucketed(gramDocs(allGram: _*), s"$d/idx", k = 3, buckets = 2)
    Dedup.requestGramTakedown(Seq(1L).toDF("doc_id"), s"$d/idx")
    Dedup.requestGramTakedown(Seq(3L).toDF("doc_id"), s"$d/idx")
  })(d => Dedup.drainGramTakedowns(gramDocs(allGram: _*), s"$d/idx", k = 3))(gramView)

  enumerate("gram takedown")(d => {
    Dedup.writeGramIndexBucketed(gramDocs(allGram: _*), s"$d/idx", k = 3, buckets = 2)
    Dedup.requestGramTakedown(Seq(1L).toDF("doc_id"), s"$d/idx")
  })(d => Dedup.takedownGramIndex(gramDocs(2L, 3L, 4L), s"$d/idx", k = 3))(gramView)

  // ---- the near-dup index ----------------------------------------------

  private val ndCorpus = Seq(
    1L -> "a b c d e f g h", 2L -> "p q r s t u v w",
    3L -> "the quick brown fox jumps over it")
  private val ndBatch = Seq(
    4L -> "one two three four five six seven", 5L -> "k l m n o p q r")

  /** Copies of every indexed and appended doc, and a near copy. */
  private def ndView(d: String): String = rows(Dedup.screenAgainstNearDupIndex(
    ((ndCorpus ++ ndBatch).map { case (i, t) => (i + 100L, t) } :+
      (200L -> "one two three four five six eight")).toDF("doc_id", "text"),
    s"$d/idx", minJaccard = 0.5))

  enumerate("near-dup exactly-once append with an inline compaction")(d => {
    Dedup.writeNearDupIndex(ndCorpus.toDF("doc_id", "text"), s"$d/idx")
    Dedup.deleteFromNearDupIndex(Seq(2L).toDF("doc_id"), s"$d/idx")
    assert(Dedup.appendNearDupIndexOnce(
      Seq(6L -> "x y z x2 y2 z2").toDF("doc_id", "text"), s"$d/idx", 0L))
  })(d => Dedup.appendNearDupIndexOnce(ndBatch.toDF("doc_id", "text"), s"$d/idx", 1L,
    maxFilesPerTable = 2))(ndView)

  enumerate("near-dup compaction")(d => {
    Dedup.writeNearDupIndex(ndCorpus.toDF("doc_id", "text"), s"$d/idx")
    Dedup.appendNearDupIndex(ndBatch.toDF("doc_id", "text"), s"$d/idx")
    Dedup.deleteFromNearDupIndex(Seq(1L).toDF("doc_id"), s"$d/idx")
  })(d => Dedup.compactNearDupIndex(spark, s"$d/idx"))(ndView)

  // ---- the Events session store ----------------------------------------

  private val H = 3600L * 1000000
  /** (user, event id, µs) events. */
  private def events(rows: (Long, Long, Long)*): DataFrame =
    rows.map { case (u, id, us) => (id, us * 1000, u, "click", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  private def batch1 = events((1L, 10L, 0L), (1L, 11L, 60L * 1000000),
    (2L, 20L, 30L * 1000000), (2L, 21L, 90L * 1000000))
  private def batch2 = events((1L, 12L, 2 * H), (2L, 22L, 2 * H + 300L * 1000000),
    (3L, 30L, 2 * H))
  private def batch3 = events((1L, 13L, 5 * H), (3L, 31L, 5 * H))
  private def fold(d: String, b: DataFrame): Unit =
    Events.sessionizeIncrementalStored(b, s"$d/state", s"$d/closed").collect()

  private def sessionView(d: String): String =
    Seq(rows(Events.readClosedSessions(spark, s"$d/closed")),
      rows(spark.read.parquet(s"$d/state"))).mkString("\n")

  enumerate("events first fold")(_ => ())(fold(_, batch1))(sessionView)

  test("events first fold: a state write cut off inside its parquet write is redone, not promoted") {
    val ref = Files.createTempDirectory("graft_crash_ref").toString
    fold(ref, batch1)
    val d = Files.createTempDirectory("graft_crash_next").toString
    fold(d, batch1)
    // the crash: the closed partition committed, and the first state
    // write into state.next stopped before its job commit — the part
    // files still in the write's _temporary staging, no _SUCCESS, and
    // no state (nor .old) at all
    val next = java.nio.file.Paths.get(s"$d/state.next")
    Files.move(java.nio.file.Paths.get(s"$d/state"), next)
    val staging = Files.createDirectories(next.resolve("_temporary/0/task_0"))
    Files.list(next).iterator().asScala.toList.filter(Files.isRegularFile(_)).foreach { p =>
      if (p.getFileName.toString.contains("_SUCCESS")) Files.delete(p)
      else Files.move(p, staging.resolve(p.getFileName))
    }
    fold(d, batch1)
    assert(sessionView(d) === sessionView(ref))
  }

  enumerate("events fold")(fold(_, batch1))(fold(_, batch2))(sessionView)

  enumerate("events erase")(d => { fold(d, batch1); fold(d, batch2) })(d =>
    Events.eraseUserSessions(Seq(1L).toDF("user_id"), s"$d/state", s"$d/closed",
      beforeUs = 3 * H))(sessionView)

  enumerate("events compactClosedSessions")(d => {
    fold(d, batch1); fold(d, batch2); fold(d, batch3)
    Events.eraseUserSessions(Seq(2L).toDF("user_id"), s"$d/state", s"$d/closed")
  })(d => Events.compactClosedSessions(spark, s"$d/closed"))(sessionView)
}
