package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Dedup

/** The stored near-dup index as an ingest service uses it: build the
  * index from the indexed half of the corpus, then stream the other half
  * in fixed-size batches — screen each batch, append its kept rows
  * exactly once, take down seeded ids after every k-th batch — and
  * compact once at the end. The appends pass a low file threshold, so the
  * append's inline compaction runs during the stream too. One batch is
  * deliberately redelivered and must be skipped by the exactly-once
  * marker.
  */
final class Ingest(spark: SparkSession, tracer: Tracer, m: JsonNode, work: String) extends Runner {
  import spark.implicits._

  private val dir = m.get("dir").asText
  private val plan = m.get("stream")
  private val nBatches = plan.get("batches").asInt
  private val takedownEvery = plan.get("takedown_every").asInt
  private val takedowns = plan.get("takedowns").elements().asScala
    .map(_.elements().asScala.map(_.asLong).toSeq).toSeq
  private val indexDocs = plan.get("index_docs").asLong
  private val maxFiles = plan.get("max_files_per_table").asInt
  private val idx = s"$work/ndidx"
  private val cols = Seq("doc_id", "text", "lang", "source", "n_chars").map(col)
  // lazy: reading the schema runs a job, first forced inside `run`
  private lazy val stream = spark.read.parquet(s"$dir/stream.parquet")

  private def batch(b: Int): DataFrame = stream.filter(col("batch") === b).select(cols: _*)
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def indexFiles: Set[String] =
    Seq("shingles", "sizes", "hashes").flatMap(t => Files.dataFiles(s"$idx/$t").map(_.getPath)).toSet
  private def indexBytes: Long = Seq("shingles", "sizes", "hashes").map(t => Files.dataBytes(s"$idx/$t")).sum

  /** Verdicts against the generator's plan: planted exact copies are
    * `drop_exact`, planted near copies `drop_near` of their source, and
    * everything else is kept. */
  private def verdictErrors(got: Seq[(Long, String, Option[Long])],
      expect: Map[Long, (String, Option[Long])]): Seq[String] =
    got.flatMap { case (id, verdict, of) =>
      val (v, src) = expect(id)
      if (verdict != v || (v == "drop_near" && of != src))
        Some(s"doc $id: $verdict${of.map(" of " + _).getOrElse("")}, expected $v${src.map(" of " + _).getOrElse("")}")
      else None
    } ++ (if (got.size != got.map(_._1).distinct.size) Seq("duplicate verdict rows") else Seq.empty)

  private def screen(df: DataFrame): Seq[(Long, String, Option[Long])] =
    Dedup.screenAgainstNearDupIndex(df, idx)
      .select("doc_id", "verdict", "near_dup_of").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq

  private def op[A](kind: String, ops: mutable.ArrayBuffer[Op])(f: => (Seq[String], A)): Option[A] = {
    val t0 = System.nanoTime()
    val c0 = Files.cpuNanos()
    def cpu = (Files.cpuNanos() - c0) / 1e9
    try {
      val (bad, a) = f
      ops += Op(kind, secs(t0), cpu, bad.isEmpty, bad.mkString("; "))
      Some(a)
    } catch {
      case e: Exception =>
        ops += Op(kind, secs(t0), cpu, ok = false, e.toString)
        None
    }
  }

  def run(seconds: Double, warm: Int, deadline: Long): Outcome = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val planned = Tracer.internal(spark.sparkContext)(stream.select("doc_id", "expect", "dup_of", "batch").collect())
    val expect = planned
      .map(r => r.getLong(0) -> (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    val batchSize = planned.groupBy(_.getInt(3)).map { case (k, v) => k -> v.length }
    val verdictLog = mutable.ArrayBuffer.empty[String]

    op("build", ops) {
      tracer.span("index.build") { Dedup.writeNearDupIndex(spark.read.parquet(s"$dir/index.parquet").select(cols: _*), idx) }
      (Seq.empty, ())
    }
    val streamStart = System.nanoTime()
    var b = 0
    var screened = 0L
    var kept = 0L
    var filesWritten = 0L
    var bytesWritten = 0L
    var plainAppends = 0
    val inlineCompactions = mutable.ArrayBuffer.empty[Int]
    var redeliverySkips = 0
    val takenDown = mutable.ArrayBuffer.empty[Long]
    val batchS = mutable.ArrayBuffer.empty[Double]
    val batchCpuS = mutable.ArrayBuffer.empty[Double]
    // the first batch, at least `warm` more (whole takedown cycles), and
    // more while the window is open
    def due = b < nBatches && System.nanoTime() < deadline &&
      (b <= warm || secs(streamStart) < seconds)
    while (due) {
      val firstOp = ops.size
      val df = batch(b)
      val verdicts = op("screen", ops) {
        val v = tracer.span("index.screen") { screen(df) }
        val bad = verdictErrors(v, expect) ++
          (if (v.size != batchSize(b)) Seq(s"${v.size} verdicts for ${batchSize(b)} docs") else Seq.empty)
        (bad, v)
      }.getOrElse(Seq.empty)
      screened += verdicts.size
      verdictLog ++= verdicts.map { case (id, v, of) => s"$id:$v:${of.getOrElse("")}" }
      val keep = verdicts.collect { case (id, "keep", _) => id }
      kept += keep.size
      val keptDf = df.filter(col("doc_id").isin(keep: _*))
      val (files0, bytes0) = (indexFiles, indexBytes)
      op("append", ops) {
        val fresh = tracer.span("index.append") {
          Dedup.appendNearDupIndexOnce(keptDf, idx, b.toLong, maxFilesPerTable = maxFiles)
        }
        (if (fresh) Seq.empty else Seq(s"batch $b skipped as a redelivery"), ())
      }
      // an inline compaction rewrote the index: the batch's own files
      // cannot be told apart, so it stays out of the per-append figures
      val files1 = indexFiles
      if (!files0.subsetOf(files1)) inlineCompactions += b
      else {
        plainAppends += 1
        filesWritten += files1.size - files0.size
        bytesWritten += indexBytes - bytes0
      }
      // the exactly-once check: not part of the append span's per-call figures
      if (b == 1) op("redelivery", ops) {
        val fresh = Tracer.internal(spark.sparkContext)(
          Dedup.appendNearDupIndexOnce(keptDf, idx, b.toLong, maxFilesPerTable = maxFiles))
        if (!fresh) redeliverySkips += 1
        (if (fresh) Seq(s"redelivered batch $b was appended twice") else Seq.empty, ())
      }
      if ((b + 1) % takedownEvery == 0) {
        val ids = takedowns((b + 1) / takedownEvery - 1)
        op("takedown", ops) {
          tracer.span("index.delete") { Dedup.deleteFromNearDupIndex(ids.toDF("doc_id"), idx) }
          (Seq.empty, ())
        }
        takenDown ++= ids
      }
      // a batch is its screen, append and takedown calls
      val calls = ops.drop(firstOp).filter(o => Set("screen", "append", "takedown")(o.kind))
      batchS += calls.map(_.seconds).sum
      batchCpuS += calls.map(_.cpuSeconds).sum
      b += 1
    }
    val streamS = secs(streamStart)
    val liveFiles = indexFiles.size
    // exact copies of every taken-down document must no longer be flagged
    op("probe", ops) {
      val probes = stream.filter(col("batch") === -1 && col("dup_of").isin(takenDown.toSeq: _*)).select(cols: _*)
      val v = Tracer.internal(spark.sparkContext)(screen(probes))
      val bad = v.collect { case (id, verdict, of) if verdict != "keep" => s"probe $id: $verdict ${of.getOrElse("")}" } ++
        (if (v.size != takenDown.size) Seq(s"${v.size} probe verdicts for ${takenDown.size} takedowns") else Seq.empty)
      (bad, ())
    }
    op("compact", ops) {
      tracer.span("index.compact") { Dedup.compactNearDupIndex(spark, idx) }
      (Seq.empty, ())
    }
    // the compacted index holds exactly the live documents
    op("index_check", ops) {
      val (live, d) = Tracer.internal(spark.sparkContext) {
        val hashes = spark.read.parquet(s"$idx/hashes")
        (hashes.select("doc_id").distinct().count(),
          hashes.agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("h")))).head())
      }
      val want = indexDocs + kept - takenDown.size
      verdictLog += s"index:${d.getLong(0)}:${d.getLong(1)}"
      (if (live == want) Seq.empty else Seq(s"compacted index holds $live docs, expected $want"), ())
    }
    Outcome(ops.toSeq,
      Map("index.live_files" -> liveFiles.toDouble,
        "index.kept_ratio" -> (if (screened > 0) kept.toDouble / screened else 0.0),
        "index.inline_compactions" -> inlineCompactions.size.toDouble,
        "index.redelivery_skips" -> redeliverySkips.toDouble,
        "index.append.files_written" -> (if (plainAppends > 0) filesWritten.toDouble / plainAppends else 0.0)),
      Files.sha256(verdictLog.sorted.mkString("\n")),
      Map("stream_s" -> streamS, "screened_docs" -> screened, "batches" -> b, "batch_s" -> batchS.toSeq, "batch_cpu_s" -> batchCpuS.toSeq,
        "appended_mb_per_batch" -> (if (plainAppends > 0) bytesWritten / 1e6 / plainAppends else 0.0),
        "plain_appends" -> plainAppends, "inline_compaction_batches" -> inlineCompactions.toSeq,
        "live_files_per_table" -> Seq("shingles", "sizes", "hashes").map(t => Files.dataFiles(s"$idx/$t").size)))
  }
}
