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

  /** TEST SEAM, production never sets it: called with a description
    * before every filesystem mutation made here (rename, delete of an
    * existing path, touch, small write, copy) and before every deletion
    * request [[StoredIndex]] writes. A crash-point enumeration counts
    * the calls of an uncrashed run and throws at each one in turn; a
    * race test lands a request at a chosen mutation. A var, not a
    * parameter, keeps the public verb signatures as they are.
    */
  private[graft] var beforeMutation: String => Unit = _ => ()

  /** Create a zero-byte marker file, parents included. The marker's
    * content is its existence; overwrite is fine (a re-touch of a
    * marker that already exists changes nothing observable).
    */
  def touch(spark: SparkSession, path: String): Unit = write(spark, path)(_ => ())

  /** Recursive delete; no-op when the path is absent. */
  def delete(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (f.exists(p)) {
      beforeMutation(s"delete $path")
      f.delete(p, true)
    }
  }

  /** Rename that THROWS on failure (Hadoop `rename` returns false
    * silently — on a commit path that silence is state corruption, not
    * an option). Callers must have cleared the destination: on the
    * local filesystem a rename ONTO an existing directory would move
    * the source INSIDE it instead of replacing it.
    */
  def renameOrFail(spark: SparkSession, from: String, to: String,
      what: String): Unit = {
    beforeMutation(s"rename $from -> $to")
    require(fs(spark, from).rename(new Path(from), new Path(to)),
      s"$what: rename $from -> $to failed")
  }

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
  def writeSmall(spark: SparkSession, path: String, content: String): Unit =
    write(spark, path)(_.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** Write the control-plane file `path` through `body` (overwrite,
    * parents made). */
  def write(spark: SparkSession, path: String)(body: java.io.OutputStream => Unit): Unit = {
    beforeMutation(s"write $path")
    val p = new Path(path)
    val f = fs(spark, path)
    f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try body(out) finally out.close()
  }

  /** Complete a swap that crashed between `rename(live, old)` and
    * `rename(tmp, live)` — the one window of [[swap]] where no live
    * directory exists — or the first swap of a directory that never had
    * a live copy. Recovery is one rename, but only of a `tmp` shown
    * complete: the swap already demoted live (a `.old` exists; [[swap]]
    * demotes only after `tmp` is written), or no Spark write is
    * unfinished in `tmp` (no `_temporary` staging directory in it or in
    * a table directory directly under it). A `tmp` cut off inside its
    * own write — possible when there was no live copy to demote, as at
    * the first state fold of [[Events.sessionizeIncrementalStored]] — is
    * deleted instead, and the caller's verb writes it again.
    * Called at the top of every lifecycle entry point that reads or
    * appends a swapped directory: a reader after the crash self-heals
    * instead of failing on the missing path, and an APPEND after the
    * crash must heal first or its `mode("append")` write would mint a
    * fresh table containing only the batch — forking the index away
    * from the orphaned tmp copy. Returns whether a promotion ran. A
    * stale `.old` left by the same crash is deleted by the next swap.
    */
  def recover(spark: SparkSession, live: String, tmp: String): Boolean =
    !exists(spark, live) && exists(spark, tmp) && {
      if (exists(spark, s"$live.old") || !unfinishedWrite(spark, tmp)) {
        renameOrFail(spark, tmp, live, "swap recovery")
        true
      } else {
        delete(spark, tmp)
        false
      }
    }

  /** Whether a Spark write into `dir` (or into a table directory directly
    * under it) has not committed: its `_temporary` staging is still
    * there. The job commit removes it before it writes `_SUCCESS`. */
  private def unfinishedWrite(spark: SparkSession, dir: String): Boolean = {
    val f = fs(spark, dir)
    val staging = "_temporary"
    f.exists(new Path(dir, staging)) || f.listStatus(new Path(dir))
      .exists(st => st.isDirectory && f.exists(new Path(st.getPath, staging)))
  }

  /** The one tmp → old → live swap: drop a stale `.old`, demote live to
    * `.old` (when there is a live directory), promote `tmp`, drop
    * `.old`. Every step leaves a complete copy on disk and every rename
    * asserts its result; the only step with no live path is the window
    * [[recover]] repairs, so "crash anywhere, re-run (or just read) to
    * finish" is the guarantee. Callers must have finished writing `tmp`
    * and carried their control subdirectories into it ([[carry]]).
    *
    * `control` names subdirectories that other writers may append to
    * while the caller builds `tmp` (a takedown request racing a
    * maintenance verb): files that land in live after the caller's own
    * carry are copied from `.old` into the promoted directory before
    * `.old` goes, and a stale `.old` that a crash left mid-copy is
    * copied out first, before the opening delete would discard it.
    */
  def swap(spark: SparkSession, live: String, tmp: String,
      control: Seq[String] = Nil): Unit = {
    val old = s"$live.old"
    def rescue(): Unit = control.foreach(c => carry(spark, s"$old/$c", s"$live/$c"))
    rescue()
    delete(spark, old)
    if (exists(spark, live)) renameOrFail(spark, live, old, "swap demote")
    renameOrFail(spark, tmp, live, "swap promote")
    rescue()
    delete(spark, old)
  }

  /** The crash-safe carry of a control subdirectory (batch markers,
    * pending takedown requests): copy each file of `from` that `to`
    * lacks, or holds at another length — a copy a crash cut off is
    * copied again. Copy, never move: the source stays complete until a
    * swap demotes it, so a crash mid-carry loses nothing and a re-run
    * skips what already arrived whole. Set semantics make a file carried
    * twice harmless. No-op when `from` is absent.
    */
  def carry(spark: SparkSession, from: String, to: String): Unit = {
    val f = fs(spark, from)
    val src = new Path(from)
    val dstDir = new Path(to)
    if (f.exists(src)) {
      val arrived =
        if (f.exists(dstDir)) f.listStatus(dstDir).map(st => st.getPath.getName -> st.getLen).toMap
        else Map.empty[String, Long]
      f.listStatus(src).filterNot(_.isDirectory).foreach { st =>
        val dst = new Path(dstDir, st.getPath.getName)
        if (!arrived.get(dst.getName).contains(st.getLen)) {
          beforeMutation(s"copy ${st.getPath} -> $dst")
          require(org.apache.hadoop.fs.FileUtil.copy(f, st.getPath, f, dst, false, true,
            spark.sparkContext.hadoopConfiguration), s"copy ${st.getPath} -> $dst failed")
        }
      }
    }
  }

  /** Count data files under `dir` (recursive, `_`/`.`-prefixed names
    * excluded) — the compaction triggers' gauge. One FS listing, the
    * same order of work the parquet write just paid to commit.
    */
  def countDataFiles(spark: SparkSession, dir: String): Long = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) 0L
    else {
      val it = f.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        val name = it.next().getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) n += 1
      }
      n
    }
  }
}
