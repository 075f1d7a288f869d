package graft.tools

import scala.collection.concurrent.TrieMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Per-session registry for the engine's INTERNAL persists (intermediate
  * frames an operator caches because its own plan reads them several
  * times — e.g. the pre-cap shingle set, the tf table under TF-IDF).
  *
  * Why this exists: `df.persist()` registers a CacheManager entry that
  * outlives the query; Spark's LRU evicts *blocks* under pressure but
  * never the *entries*, so an operator that persists internally and
  * hands back a lazy result leaks one entry per distinct input in a
  * long-lived session, with no handle for the caller to release. This
  * registry (a) memoizes by canonical plan, so re-invoking an operator
  * on the same input reuses the one entry instead of stacking warnings
  * and bookkeeping, and (b) gives sessions a single release point:
  * [[release]] unpersists every graft-internal cache of that session.
  *
  * Keys carry the applicationId so a cached frame can never be handed
  * to a different (restarted) SparkContext in the same JVM.
  */
object InternalCaches {

  /** Registered frame plus the input files its plan read, snapshotted
    * AT REGISTRATION: once the frame is cached, `Dataset.inputFiles`
    * walks the cache-substituted optimized plan — an `InMemoryRelation`
    * leaf with no file relations — and returns empty, so the file list
    * must be taken before the persist makes it unobservable. None =
    * the enumeration failed; [[releaseByPath]] treats that as "might
    * read anything" and drops the entry.
    */
  private final case class Entry(df: DataFrame, files: Option[Seq[String]])

  private val entries = TrieMap.empty[(String, Int), Entry]

  /** The frame's input files read from the ANALYZED plan's file-source
    * relations, unioned with `Dataset.inputFiles` (which covers any
    * non-LogicalRelation file sources). The analyzed plan matters when
    * the new frame is built OVER an already-persisted registered frame:
    * `inputFiles` walks the OPTIMIZED plan, where the cached subtree is
    * already substituted by its `InMemoryRelation` — the index files
    * hidden behind it would be missing from the snapshot and
    * [[releaseByPath]] would keep the dependent frame stale after a
    * rebuild (round-14 advisory). Analysis happens before cache
    * substitution, so the file relations are still visible there.
    */
  private def snapshotInputFiles(df: DataFrame): Option[Seq[String]] =
    try {
      import org.apache.spark.sql.execution.FileRelation
      import org.apache.spark.sql.execution.datasources.LogicalRelation
      val analyzed = df.queryExecution.analyzed.collect {
        case l: LogicalRelation => l.relation match {
          case fr: FileRelation => fr.inputFiles.toSeq
          case _ => Seq.empty[String]
        }
      }.flatten
      Some((analyzed ++ df.inputFiles).distinct)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Persist `df` (idempotent per canonical plan per session) and
    * return the cached frame. MEMORY_AND_DISK by default: internal
    * intermediates are re-read within one plan and must survive
    * eviction by spilling, not by recompute.
    */
  def persist(
      df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val key = (df.sparkSession.sparkContext.applicationId,
      df.queryExecution.analyzed.semanticHash())
    entries.getOrElseUpdate(key,
      Entry(df.persist(level), snapshotInputFiles(df))).df
  }

  private val broadcasts = TrieMap.empty[(String, Long), Broadcast[_]]

  /** Track an internal broadcast variable for session-level release —
    * the broadcast analog of [[persist]]: an operator that broadcasts a
    * large object (e.g. the big-blob Bloom carrier) and hands back a
    * lazy plan has no point at which IT can destroy the broadcast, so
    * the handle registers here and [[release]] drops it with the
    * caches. Not memoized (broadcast payloads have no canonical plan);
    * callers that rebuild the same object re-register a new handle and
    * release reaps them all.
    */
  def trackBroadcast[T](spark: SparkSession, b: Broadcast[T]): Broadcast[T] = {
    broadcasts.put((spark.sparkContext.applicationId, b.id), b)
    b
  }

  /** Unpersist and deregister every internal cache of this session
    * whose plan reads files under `pathPrefix` — the invalidation hook
    * for index REBUILDS: the registry keys on the canonical plan, and
    * a plan reading "parquet at path P" hashes the same before and
    * after P's contents are replaced wholesale, so a memoized frame
    * (e.g. the screen's bench-assignment against stored centroids)
    * would silently serve the OLD geometry after a retrain-and-swap.
    * Appends don't need this (the memoized frames read only the frozen
    * artifacts); rebuilds replace the frozen artifacts themselves.
    * A frame whose input files cannot be enumerated is dropped too,
    * and so is one whose enumeration succeeded but came back EMPTY —
    * an empty list is what a plan whose file-reading subtree was
    * already cache-substituted reports (the round-14 verdict's
    * cache-on-cache blind spot), so it means "unknown", not "reads
    * nothing". Losing a cache costs a recompute, keeping a stale one
    * costs correctness.
    */
  def releaseByPath(spark: SparkSession, pathPrefix: String): Unit = {
    val appId = spark.sparkContext.applicationId
    val norm = new org.apache.hadoop.fs.Path(pathPrefix).toUri.getPath
    entries.keys.filter(_._1 == appId).foreach { k =>
      entries.get(k).foreach { e =>
        val reads = e.files.forall(fs => fs.isEmpty || fs.exists(f =>
          new org.apache.hadoop.fs.Path(f).toUri.getPath.startsWith(norm)))
        if (reads)
          entries.remove(k).foreach(_.df.unpersist(blocking = false))
      }
    }
  }

  /** Unpersist every internal cache and tracked broadcast registered by
    * this session. Call after the consuming actions complete (e.g. end
    * of a verify/bench pass).
    *
    * Broadcasts are UNPERSISTED, not destroyed: unpersist drops the
    * executor copies but leaves the driver value, so a still-held lazy
    * frame from e.g. `contaminationScreenBloom` re-ships the blob and
    * keeps working after release — whereas destroy would make such a
    * frame permanently unexecutable (SparkException on next action).
    * True teardown (JVM about to drop the session, no frames can
    * outlive it) goes through [[teardown]], which destroys.
    */
  def release(spark: SparkSession): Unit = {
    val appId = spark.sparkContext.applicationId
    entries.keys.filter(_._1 == appId).foreach { k =>
      entries.remove(k).foreach(_.df.unpersist(blocking = false))
    }
    broadcasts.keys.filter(_._1 == appId).foreach { k =>
      broadcasts.remove(k).foreach(_.unpersist(blocking = false))
    }
  }

  /** Session teardown: [[release]] semantics but broadcasts are
    * DESTROYED (driver value freed too). Only for the point where the
    * session itself is going away — any lazy frame still holding a
    * tracked broadcast becomes unexecutable after this.
    */
  def teardown(spark: SparkSession): Unit = {
    val appId = spark.sparkContext.applicationId
    entries.keys.filter(_._1 == appId).foreach { k =>
      entries.remove(k).foreach(_.df.unpersist(blocking = false))
    }
    broadcasts.keys.filter(_._1 == appId).foreach { k =>
      broadcasts.remove(k).foreach(_.destroy())
    }
  }

  /** Number of live internal cache entries for this session (test
    * observability).
    */
  def liveCount(spark: SparkSession): Int =
    entries.keys.count(_._1 == spark.sparkContext.applicationId)

  /** Number of tracked broadcasts of this session ([[trackBroadcast]];
    * test observability). */
  def trackedBroadcasts(spark: SparkSession): Int =
    broadcasts.keys.count(_._1 == spark.sparkContext.applicationId)

  /** The input-file snapshot of every live internal cache entry of this
    * session (test observability; None where enumeration failed).
    */
  private[graft] def inputFiles(spark: SparkSession): Seq[Option[Seq[String]]] =
    entries.toSeq.collect {
      case ((app, _), e) if app == spark.sparkContext.applicationId => e.files
    }
}
