package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** Filesystem plumbing shared by the stored-index lifecycles (gram,
  * near-dup, LM, semantic): commit markers and the tmp → old → live
  * compaction swap, all through the Hadoop [[FileSystem]] API so the
  * same code runs against `file:`, `hdfs:`, or `s3a:` index
  * directories. The round-13 `*Once` appends proved their exactly-once
  * semantics with `java.io.File` markers — correct on a laptop, and
  * silently broken the moment `indexDir` is an HDFS/S3 URI (the marker
  * lands on one node's local disk, `exists()` is always false, and
  * every redelivered batch double-appends). This object is the fix:
  * resolve every control-plane path through the directory's own
  * filesystem, exactly like the parquet/sidecar I/O beside it.
  *
  * Everything here is driver-side control-plane: a few RPCs per call
  * (a listing, a marker, a footer), never a Spark job.
  */
object IndexFs {

  /** The filesystem owning `path` (scheme-resolved: file/hdfs/s3a/...). */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Hash-partition `df` by `c` at the session's configured shuffle
    * partition count, EXPLICITLY. The bare `repartition(col)` leaves
    * the count to AQE, whose byte-based coalescing is blind to
    * `partitionBy` DIRECTORY fanout: a byte-small frame coalesces to
    * one task, which then commits every partition directory
    * SEQUENTIALLY — measured 20.4 s → 5.3 s on the 1024-cell
    * production-stamp semantic build once the explicit count restores
    * the parallel commit (and ~1.4× even at 10× data; HEADROOM round
    * 18). Each key still hashes to exactly one partition, so the
    * one-file-per-directory-per-write layout every screen's
    * partition pruning depends on is unchanged — only commit
    * parallelism is. `maxKeys` caps the count at the caller's known
    * key fanout (bucket count, centroid cap): more tasks than keys
    * buys nothing — several write only empty output — and the first
    * full-surface bench after the un-capped version showed exactly
    * that as +0.5–1 s on every small-fanout index entry (16 forged
    * centroids shuffled across 32 tasks), while the capped form keeps
    * the 1024-dir production write at full session parallelism.
    */
  def keyPartitioned(df: org.apache.spark.sql.DataFrame,
      c: org.apache.spark.sql.Column, maxKeys: Long): org.apache.spark.sql.DataFrame =
    df.repartition(math.min(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toLong,
      math.max(1L, maxKeys)).toInt, c)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** The Spark schema of the flat parquet table `dir`, read on the
    * driver from the footer of its first data file in path order — the
    * file Spark's own non-merging schema inference reads, without the
    * Spark job that inference runs. None when there is no data file,
    * when the table is partitioned (subdirectories carry columns no
    * footer holds), or when the footer has no Spark schema; callers then
    * fall back to plain inference.
    */
  def footerSchema(spark: SparkSession, dir: String): Option[StructType] =
    flatDataFiles(spark, dir).flatMap(_.headOption).flatMap { st =>
      val meta = withFooter(spark, st)(_.getFileMetaData.getKeyValueMetaData)
      Option(meta.get("org.apache.spark.sql.parquet.row.metadata"))
        .map(DataType.fromJson).collect { case s: StructType => s }
    }

  /** Rows of the flat parquet table `dir`, summed from its data files'
    * footers on the driver (0 when it has none). Throws when `dir` is
    * absent, as a read would. */
  def footerRows(spark: SparkSession, dir: String): Long = {
    require(exists(spark, dir), s"no parquet table at $dir")
    flatDataFiles(spark, dir).getOrElse(Seq.empty).map(st =>
      withFooter(spark, st)(_.getBlocks.asScala.map(_.getRowCount).sum)).sum
  }

  /** Data files of `dir` in path order (names starting with `_` or `.`
    * are not data, as in Spark's listing); None when `dir` is absent or
    * holds a visible subdirectory. */
  private def flatDataFiles(spark: SparkSession, dir: String): Option[Seq[FileStatus]] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) None
    else {
      val visible = f.listStatus(p).toSeq.filter { st =>
        val name = st.getPath.getName
        !name.startsWith("_") && !name.startsWith(".")
      }
      if (visible.exists(_.isDirectory)) None
      else Some(visible.sortBy(_.getPath.toString))
    }
  }

  private def withFooter[A](spark: SparkSession, st: FileStatus)(
      f: org.apache.parquet.hadoop.metadata.ParquetMetadata => A): A = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(
      st, spark.sparkContext.hadoopConfiguration))
    try f(reader.getFooter) finally reader.close()
  }

  /** Create a zero-byte marker file, parents included. The marker's
    * content is its existence; overwrite is fine (a re-touch of a
    * marker that already exists changes nothing observable).
    */
  def touch(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val f = fs(spark, path)
    f.mkdirs(p.getParent)
    f.create(p, true).close()
  }

  /** Complete a compaction swap that crashed between `rename(live, old)`
    * and `rename(live.compact, live)` — the one window in the
    * tmp → old → live discipline where no live directory exists. The
    * signature of that crash is unambiguous (live missing, a complete
    * `.compact` copy present), so recovery is one rename. Called at the
    * top of every lifecycle entry point that reads or appends a swapped
    * table: a reader after the crash self-heals instead of failing on
    * the missing path, and an APPEND after the crash must heal first or
    * its `mode("append")` write would mint a fresh table containing
    * only the batch — forking the index away from the orphaned
    * `.compact` copy. Returns whether a recovery ran. A stale `.old`
    * left by the same crash is harmless and is deleted by the next
    * swap's first step.
    */
  def recoverSwap(spark: SparkSession, liveDir: String): Boolean = {
    val f = fs(spark, liveDir)
    val live = new Path(liveDir)
    val compact = new Path(liveDir + ".compact")
    if (!f.exists(live) && f.exists(compact)) f.rename(compact, live)
    else false
  }

  /** Recursive delete; no-op when the path is absent. */
  def delete(spark: SparkSession, path: String): Unit =
    fs(spark, path).delete(new Path(path), true)

  /** Rename that THROWS on failure (Hadoop `rename` returns false
    * silently — on a commit path that silence is state corruption, not
    * an option). Callers must have cleared the destination: on the
    * local filesystem a rename ONTO an existing directory would move
    * the source INSIDE it instead of replacing it.
    */
  def renameOrFail(spark: SparkSession, from: String, to: String,
      what: String): Unit =
    require(fs(spark, from).rename(new Path(from), new Path(to)),
      s"$what: rename $from -> $to failed")

  /** Child names of `dir` (not paths); empty when the dir is absent. */
  def listNames(spark: SparkSession, dir: String): Seq[String] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** Read a small control-plane file as UTF-8, None when absent. */
  def readSmall(spark: SparkSession, path: String): Option[String] = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        Some(new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Write a small control-plane file (UTF-8, overwrite, parents made). */
  def writeSmall(spark: SparkSession, path: String, content: String): Unit = {
    val p = new Path(path)
    val f = fs(spark, path)
    f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Merge the zero-byte batch markers under `fromDir` into `toDir`,
    * file by file, then drop the emptied `fromDir`. A marker already
    * present on both sides collapses to one (its content is its
    * existence); any other rename must succeed or the caller's
    * exactly-once bookkeeping is silently losing markers, so failure
    * throws instead of proceeding. No-op when `fromDir` is absent.
    *
    * This is the rebuild lifecycles' marker transport in BOTH
    * directions. Forward (live → `.compact`) it replaces a bare
    * directory rename, whose two failure shapes each degrade committed
    * batches to at-least-once: a stale `.compact/_batch_commits` left
    * by a crashed earlier rebuild makes Hadoop `rename` silently
    * return false (dest exists), and the swap then promotes the STALE
    * marker set over the newer live one. Backward
    * (`.compact` → live, at rebuild entry) it rescues the markers a
    * crashed prior rebuild moved into the tmp directory before the
    * re-run destroys or overwrites it — without the rescue, every
    * batch committed before the crash redelivers as a double-append.
    */
  def mergeMarkers(spark: SparkSession, fromDir: String, toDir: String): Unit = {
    val f = fs(spark, fromDir)
    val from = new Path(fromDir)
    if (f.exists(from)) {
      val to = new Path(toDir)
      f.mkdirs(to)
      f.listStatus(from).foreach { st =>
        val dst = new Path(to, st.getPath.getName)
        if (f.exists(dst)) f.delete(st.getPath, false)
        else if (!f.rename(st.getPath, dst))
          throw new IllegalStateException(
            s"marker move failed: ${st.getPath} -> $dst")
      }
      f.delete(from, true)
    }
  }

  /** Recursive COPY of a small control-plane directory; no-op when the
    * source is absent. Copy, not move, is the crash-safe transport for
    * state that must survive a tmp → old → live swap (the gram index's
    * pending-takedown ledger): a move would leave the live directory
    * without the state during the build window, and a retry after a
    * crash there rewrites tmp wholesale (`mode("overwrite")`) —
    * deleting the only copy. With a copy the live original stays in
    * place until the swap demotes it, and the promoted directory
    * carries the duplicate.
    */
  def copyDir(spark: SparkSession, from: String, to: String): Unit = {
    val f = fs(spark, from)
    val src = new Path(from)
    if (f.exists(src))
      require(org.apache.hadoop.fs.FileUtil.copy(f, src, fs(spark, to),
        new Path(to), false, spark.sparkContext.hadoopConfiguration),
        s"copy $from -> $to failed")
  }

  /** The compaction swap: demote live to `.old`, promote `.compact` to
    * live, drop `.old`. Every step leaves a complete copy of the table
    * on disk; the only step with no LIVE path is the window
    * [[recoverSwap]] repairs, so "crash anywhere, re-run (or just read)
    * to finish" is the real guarantee. Callers must have finished
    * writing `liveDir.compact` before calling.
    */
  def swapCompact(spark: SparkSession, liveDir: String): Unit = {
    val f = fs(spark, liveDir)
    val live = new Path(liveDir)
    val old = new Path(liveDir + ".old")
    f.delete(old, true)
    f.rename(live, old)
    f.rename(new Path(liveDir + ".compact"), live)
    f.delete(old, true)
  }

  /** Copy the flat files under `fromDir` whose names are neither in
    * `knownNames` nor already present under `toDir` — the RESCUE half
    * of [[swapCompactRescue]]. Copy (never move): the source is about
    * to be deleted wholesale by the caller, and a crash mid-rescue must
    * leave every file readable somewhere ([[recoverSwap]] cannot see
    * inside a half-moved control dir). Skipping names that already
    * exist at the destination makes a crashed-then-retried rescue
    * idempotent. No-op when `fromDir` is absent.
    */
  def copyNewFiles(spark: SparkSession, fromDir: String, toDir: String,
      knownNames: Set[String]): Unit = {
    val f = fs(spark, fromDir)
    val src = new Path(fromDir)
    if (f.exists(src)) {
      val dstFs = fs(spark, toDir)
      val dst = new Path(toDir)
      f.listStatus(src).filterNot(_.isDirectory).foreach { st =>
        val name = st.getPath.getName
        val to = new Path(dst, name)
        if (!knownNames.contains(name) && !dstFs.exists(to)) {
          dstFs.mkdirs(dst)
          require(org.apache.hadoop.fs.FileUtil.copy(f, st.getPath, dstFs, to,
            false, spark.sparkContext.hadoopConfiguration),
            s"rescue copy ${st.getPath} -> $to failed")
        }
      }
    }
  }

  /** [[swapCompact]] for tables that carry a request-side control-plane
    * subdir (the gram index's `_pending_deletes` ledger): between the
    * promotion and the final `.old` delete, files that LANDED in the
    * carried subdir after the caller's snapshot (`appliedNames` — the
    * ledger files the caller copied forward or applied in the rebuild)
    * are rescued into the promoted directory. Without the rescue, a
    * takedown request racing a maintenance verb's build window — the
    * one verb pair a streaming deployment genuinely overlaps — would be
    * swept away with `.old`, applied nowhere: a silently lost
    * right-to-be-forgotten request, the failure class the ledger exists
    * to prevent. Over-rescue is safe by set semantics (a re-carried
    * already-applied request re-filters absent doc_ids — a no-op);
    * under-rescue is the bug. Crash anywhere: before the demote =
    * plain retry; between demote and promote = [[recoverSwap]]'s
    * window; during the rescue = `.old` still holds every unrescued
    * file and the state reads as "crashed before the final delete" —
    * re-running the VERB re-reaches a consistent state (the ledger
    * files inside `.old` are the only loss surface, and they are the
    * ones being copied). A crash DURING the rescue leaves a stale
    * `.old` whose unrescued ledger files the next swap's opening
    * delete would silently discard — so this verb COMPLETES a crashed
    * predecessor's rescue first: any carry-subdir file still in the
    * stale `.old` and absent from the live dir is re-carried before
    * the delete (knownNames empty — over-rescue is safe by set
    * semantics, and the re-carried file then rides the normal
    * demote → rescue path of THIS swap).
    */
  def swapCompactRescue(spark: SparkSession, liveDir: String,
      carrySubdir: String, appliedNames: Set[String]): Unit = {
    val f = fs(spark, liveDir)
    val live = new Path(liveDir)
    val old = new Path(liveDir + ".old")
    copyNewFiles(spark, s"$liveDir.old/$carrySubdir",
      s"$liveDir/$carrySubdir", Set.empty)
    f.delete(old, true)
    f.rename(live, old)
    f.rename(new Path(liveDir + ".compact"), live)
    copyNewFiles(spark, s"$liveDir.old/$carrySubdir", s"$liveDir/$carrySubdir",
      appliedNames)
    f.delete(old, true)
  }
}
