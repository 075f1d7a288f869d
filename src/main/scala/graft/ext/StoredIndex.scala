package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.StructType

/** The directory protocol every tombstone/marker/count stored index
  * shares — near-dup ([[Dedup]]), semantic and IVF-PQ ([[Similarity]])
  * and the stored LM ([[LanguageModel]]). A family declares its tables
  * (the first is the file-count gauge), its tombstones if it has any
  * ([[Tombstones]]: key and takedown release scope) and its compaction's
  * release scope; the kernel owns everything that touches the directory
  * layout around them:
  *
  *   - swap recovery ([[heal]]): the whole directory first (a crashed
  *     rebuild swap), then each declared table (a crashed compaction
  *     swap), both through [[IndexFs.recoverSwap]];
  *   - takedown tombstones ([[tombstone]]) under `deletes/`, and the
  *     live-read anti-join on the key column ([[live]]);
  *   - the exactly-once batch marker `_batch_commits/b<id>` ([[once]]);
  *   - the whole-directory rebuild into `<dir>.compact` ([[rebuild]]),
  *     with marker rescue before and marker carry after the build;
  *   - the per-table compaction swap ([[compact]]), which clears the
  *     tombstones only after the last table has swapped;
  *   - the file-count inline-compaction trigger ([[compactIfOver]]);
  *   - cache release limited to what each kernel verb changed
  *     ([[Scope]]). Builds and appends write the live tables in the
  *     family's own code, so their release (if any) is the family's.
  *
  * Memoization invariant: the frames [[live]] returns are never
  * registry-persisted by the kernel. A family whose readers memoize a
  * frame over the live tables (the semantic chain order, the LM's merged
  * counts) must declare a whole-index release for every verb that can
  * change what that frame reads. A family whose readers memoize nothing
  * (near-dup: its screen and append leave no registry entry) may
  * release only the paths a verb rewrote.
  *
  * Reads take their schema from the first data file's footer on the
  * driver ([[IndexFs.footerSchema]]) unless the family pins one, so a
  * live read plans no schema-inference job, tombstones included.
  *
  * Everything here is driver-side control plane except the tombstone
  * write; no verb adds a Spark job to what the family's own writes run.
  */
private[graft] final class StoredIndex(
    tables: Seq[String],
    tombstones: Option[StoredIndex.Tombstones],
    compactRelease: StoredIndex.Scope,
    guard: (SparkSession, String) => Unit = (_, _) => ()) {
  import StoredIndex._

  private val dataTable = tables.head

  /** Heal any crashed tmp → old → live swap: the whole-directory rebuild
    * swap first, then each declared table's compaction swap. Run at the
    * top of every entry point, so "crash anywhere, re-run (or just read)
    * to finish" holds for the whole lifecycle.
    */
  def heal(spark: SparkSession, dir: String): Unit = {
    IndexFs.recoverSwap(spark, dir)
    tables.foreach(t => IndexFs.recoverSwap(spark, s"$dir/$t"))
  }

  /** [[heal]], then the family's format gate (every verb but a rebuild,
    * which is the gate's remedy). */
  def open(spark: SparkSession, dir: String): Unit = {
    heal(spark, dir)
    guard(spark, dir)
  }

  /** `df` with the takedown tombstones anti-joined out on the key. The
    * tombstone table is request-sized and broadcasts as it is: a
    * left-anti join needs no distinct keys. Physical removal waits for
    * [[compact]] or [[rebuild]].
    */
  def live(spark: SparkSession, dir: String, df: DataFrame): DataFrame = {
    val del = s"$dir/$Deletes"
    tombstones match {
      case Some(Tombstones(k, _)) if IndexFs.exists(spark, del) =>
        df.join(broadcast(parquet(spark, del)), Seq(k), "left_anti")
      case _ => df
    }
  }

  /** Live table `table` — read with the pinned `schema` when given (a
    * table a full takedown and compaction emptied has no file footer to
    * infer from) — through [[live]]. */
  def read(spark: SparkSession, dir: String, table: String,
      schema: Option[String] = None): DataFrame =
    live(spark, dir, parquet(spark, s"$dir/$table", schema.map(StructType.fromDDL)))

  /** Write the non-null, distinct keys of `ids` as one tombstone file
    * (`coalesce(1)` folds the write into the distinct's final stage, so
    * the takedown runs one exchange). Set semantics make it replay-safe
    * without a marker.
    */
  def tombstone(ids: DataFrame, dir: String): Unit = {
    val spark = ids.sparkSession
    val Tombstones(k, scope) = tombstones.getOrElse(
      throw new UnsupportedOperationException("index has no tombstones"))
    open(spark, dir)
    ids.select(col(k)).filter(col(k).isNotNull).distinct()
      .coalesce(1).write.mode("append").parquet(s"$dir/$Deletes")
    release(spark, dir, scope, Seq(Deletes))
  }

  /** Run `append` unless batch `batchId` already committed; returns
    * whether it ran. The marker is written AFTER the data: a crash
    * between the two makes the redelivery append twice, which the
    * family's compaction repairs, while marker-first would lose the
    * batch. Before the probe the rebuild swap heals (the markers live
    * inside the swapped directory) and markers a crashed rebuild left
    * in `<dir>.compact` move back, or a redelivery of a batch committed
    * before that crash would not see its marker.
    */
  def once(spark: SparkSession, dir: String, batchId: Long)(
      append: => Unit): Boolean = {
    IndexFs.recoverSwap(spark, dir)
    IndexFs.mergeMarkers(spark, s"$dir.compact/$Commits", s"$dir/$Commits")
    val marker = s"$dir/$Commits/b$batchId"
    if (IndexFs.exists(spark, marker)) false
    else {
      append
      IndexFs.touch(spark, marker)
      true
    }
  }

  /** Data files of the declared data table — the file-count trigger's
    * gauge, for inline triggers and the maintenance sweep alike. */
  def dataFiles(spark: SparkSession, dir: String): Long =
    Dedup.countDataFiles(spark, s"$dir/$dataTable")

  /** Takedown tombstone files under `deletes/`. Every read through
    * [[live]] opens them, and only [[compact]] or [[rebuild]] clears
    * them, so the maintenance sweep adds them to [[dataFiles]]. */
  def tombstoneFiles(spark: SparkSession, dir: String): Long =
    Dedup.countDataFiles(spark, s"$dir/$Deletes")

  /** The inline trigger: run `compact` when the data table holds more
    * than `perUnit × units` files. `perUnit <= 0` disables without
    * evaluating `units`, and `units` is evaluated only after the file
    * count (it may cost a job on a cache miss).
    */
  def compactIfOver(spark: SparkSession, dir: String, perUnit: Long,
      units: => Long = 1L)(compact: => Unit): Unit =
    if (perUnit > 0 && dataFiles(spark, dir) > perUnit * units) compact

  /** The per-table compaction: [[open]], `rewrite` each declared table
    * into the path `to(table)` names, swap every table tmp → old → live
    * ([[IndexFs.swapCompact]]), then clear the tombstones. The rewrite
    * reads through [[live]], so tombstones apply durably; clearing them
    * strictly after the LAST swap means a crash in between leaves
    * tombstones anti-joining already-absent keys (a no-op), never a
    * resurrected row. The rewrite must persist locally, not through the
    * registry: its frames read the very directories the swap replaces.
    */
  def compact(spark: SparkSession, dir: String)(
      rewrite: (String => String) => Unit): Unit = {
    open(spark, dir)
    rewrite(t => s"$dir/$t.compact")
    tables.foreach(t => IndexFs.swapCompact(spark, s"$dir/$t"))
    if (tombstones.isDefined) IndexFs.delete(spark, s"$dir/$Deletes")
    release(spark, dir, compactRelease, tables ++ tombstones.map(_ => Deletes))
  }

  /** The whole-directory rebuild: `write` builds a complete index into
    * the tmp directory it is handed, then the tmp directory swaps in as
    * one unit, so tables that must change together (hot list and
    * shingles, centroids and their layout) never mix generations. The
    * swapped-in directory starts without tombstones; a family filters
    * its retrain input through [[live]] so takedowns stay durable.
    *
    * Batch markers move per file with asserted renames
    * ([[IndexFs.mergeMarkers]]): first BACK from a tmp directory a
    * crashed earlier rebuild left behind (it may hold the only copy),
    * then FORWARD into the new directory just before the swap, so
    * redeliveries after the rebuild still skip. Every internal cache
    * reading the index is released: the rebuild replaced the frozen
    * artifacts memoized frames are keyed on.
    */
  def rebuild(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    heal(spark, dir)
    val tmp = s"$dir.compact"
    IndexFs.mergeMarkers(spark, s"$tmp/$Commits", s"$dir/$Commits")
    IndexFs.delete(spark, tmp)
    write(tmp)
    IndexFs.mergeMarkers(spark, s"$dir/$Commits", s"$tmp/$Commits")
    IndexFs.swapCompact(spark, dir)
    graft.tools.InternalCaches.releaseByPath(spark, dir)
  }

  private def release(spark: SparkSession, dir: String, scope: Scope,
      changed: Seq[String]): Unit = scope match {
    case Keep =>
    case Changed =>
      changed.foreach(t => graft.tools.InternalCaches.releaseByPath(spark, s"$dir/$t"))
    case Whole => graft.tools.InternalCaches.releaseByPath(spark, dir)
  }
}

private[graft] object StoredIndex {
  private val Deletes = "deletes"
  private val Commits = "_batch_commits"

  /** The parquet table at `path`, read with `schema` when given, else
    * with its footer's schema ([[IndexFs.footerSchema]]), and with plain
    * inference only when it has neither. */
  private[graft] def parquet(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame =
    schema.orElse(IndexFs.footerSchema(spark, path))
      .fold(spark.read)(spark.read.schema).parquet(path)

  /** Which internal caches a verb releases: none, only those reading
    * the paths it changed, or every one reading the index. */
  sealed trait Scope
  case object Keep extends Scope
  case object Changed extends Scope
  case object Whole extends Scope

  /** A family's takedown tombstones: the key column the live reads
    * anti-join on, and the release scope of [[StoredIndex.tombstone]]. */
  final case class Tombstones(key: String, release: Scope)
}
