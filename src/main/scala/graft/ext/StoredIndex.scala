package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.StructType

/** The directory protocol every stored index shares — near-dup and the
  * bucketed gram store ([[Dedup]]), semantic and IVF-PQ
  * ([[Similarity]]) and the stored LM ([[LanguageModel]]). A family
  * declares its tables (the first is the file-count gauge; none means
  * the data table is the index directory itself, as in the gram
  * store), its deletes if the kernel keeps them ([[Deletes]]) and its
  * compaction's release scope; the kernel owns everything that touches
  * the directory layout around them:
  *
  *   - swap recovery ([[heal]]): the whole directory first (a crashed
  *     rebuild swap), then each declared table (a crashed compaction
  *     swap), both through [[IndexFs.recover]];
  *   - deletion requests ([[tombstone]]) and the anti-join of a frame
  *     against them on the key column ([[live]]);
  *   - the exactly-once batch marker `_batch_commits/b<id>` ([[once]]);
  *   - the whole-directory rebuild into `<dir>.compact` ([[rebuild]]);
  *   - the per-table compaction swap ([[compact]]);
  *   - the file-count inline-compaction trigger ([[compactIfOver]]);
  *   - cache release limited to what each kernel verb changed
  *     ([[Scope]]). Builds and appends write the live tables in the
  *     family's own code, so their release (if any) is the family's.
  *
  * Six families, three delete algebras. Tombstones (near-dup, semantic,
  * IVF-PQ) sit under `deletes/`, apply at every read through [[live]]
  * and leave at the next [[compact]] or [[rebuild]]. The pending ledger
  * (the gram store, whose grams carry no provenance) sits under
  * `_pending_deletes/`, applies to incoming batches through [[live]],
  * and leaves only when a draining [[rebuild]] has applied it. The
  * LM's retractions are negated count rows the family appends itself;
  * the kernel keeps no deletes for it. The Events session store uses
  * the same swap and recovery ([[IndexFs.swap]]) with its own
  * `(user_id, before_us)` tombstones.
  *
  * The carry rule: a swap replaces a directory wholesale, so control
  * subdirectories that must outlive it — the batch markers and the
  * pending ledger — are copied into the new directory before it is
  * promoted ([[IndexFs.carry]]), files that land after that copy are
  * copied out of `.old` before it goes, and control files a crashed
  * rebuild left only in `<dir>.compact` are copied back before that
  * directory is rebuilt. Tombstones are never carried: the rebuilt
  * directory has them applied.
  *
  * Memoization invariant: the frames [[live]] returns are never
  * registry-persisted by the kernel. A family whose readers memoize a
  * frame over the live tables (the semantic chain order, the LM's merged
  * counts) must declare a whole-index release for every verb that can
  * change what that frame reads. A family whose readers memoize nothing
  * (near-dup and gram: their screens and appends leave no registry
  * entry) may release only the paths a verb rewrote.
  *
  * Reads take their schema from the first data file's footer on the
  * driver ([[IndexFs.footerSchema]]) unless the family pins one, so a
  * live read plans no schema-inference job, deletes included.
  *
  * Everything here is driver-side control plane except the request
  * write; no verb adds a Spark job to what the family's own writes run.
  */
private[graft] final class StoredIndex(
    tables: Seq[String],
    deletes: Option[StoredIndex.Deletes],
    compactRelease: StoredIndex.Scope,
    guard: (SparkSession, String) => Unit = (_, _) => ()) {
  import StoredIndex._

  private val deletesDir = deletes.map {
    case _: Tombstones => Tomb
    case _: Ledger => Pending
  }
  /** Control subdirectories every swap of the whole directory carries. */
  private val control = Commits +: deletes.collect { case _: Ledger => Pending }.toSeq

  /** Heal any crashed tmp → old → live swap: the whole-directory rebuild
    * swap first, then each declared table's compaction swap. Run at the
    * top of every entry point, so "crash anywhere, re-run (or just read)
    * to finish" holds for the whole lifecycle.
    */
  def heal(spark: SparkSession, dir: String): Unit = {
    IndexFs.recover(spark, dir, s"$dir.compact")
    tables.foreach(t => IndexFs.recover(spark, s"$dir/$t", s"$dir/$t.compact"))
  }

  /** [[heal]], then the family's format gate (every verb but a rebuild,
    * which is the gate's remedy). */
  def open(spark: SparkSession, dir: String): Unit = {
    heal(spark, dir)
    guard(spark, dir)
  }

  /** The stored deletion requests, None when there are none. */
  def requests(spark: SparkSession, dir: String): Option[DataFrame] =
    deletesDir.map(d => s"$dir/$d").filter(IndexFs.exists(spark, _))
      .map(parquet(spark, _))

  /** `df` without the rows whose key a deletion request names. The
    * requests are request-sized and broadcast as they are: a left-anti
    * join needs no distinct keys. Tombstones apply this way at every
    * read until [[compact]] or [[rebuild]] removes the rows; the ledger
    * applies it to incoming batches and to a drain's input.
    */
  def live(spark: SparkSession, dir: String, df: DataFrame): DataFrame =
    requests(spark, dir).fold(df)(r =>
      df.join(broadcast(r), Seq(deletes.get.key), "left_anti"))

  /** Live table `table` — read with the pinned `schema` when given (a
    * table a full takedown and compaction emptied has no file footer to
    * infer from) — through [[live]]. */
  def read(spark: SparkSession, dir: String, table: String,
      schema: Option[String] = None): DataFrame =
    live(spark, dir, parquet(spark, s"$dir/$table", schema.map(StructType.fromDDL)))

  /** Write the non-null, distinct keys of `ids` as one request file
    * (`coalesce(1)` folds the write into the distinct's final stage, so
    * the request runs one exchange). Set semantics make it replay-safe
    * without a marker.
    */
  def tombstone(ids: DataFrame, dir: String): Unit = {
    val spark = ids.sparkSession
    val d = deletes.getOrElse(
      throw new UnsupportedOperationException("index keeps no deletes"))
    open(spark, dir)
    val path = s"$dir/${deletesDir.get}"
    IndexFs.beforeMutation(s"request $path")
    ids.select(col(d.key)).filter(col(d.key).isNotNull).distinct()
      .coalesce(1).write.mode("append").parquet(path)
    d match {
      case Tombstones(_, scope) => release(spark, dir, scope, Seq(Tomb))
      case _: Ledger =>
    }
  }

  /** Pending requests, summed from the request files' footers (no Spark
    * job; a replayed request counts again). */
  def pending(spark: SparkSession, dir: String): Long = {
    heal(spark, dir)
    deletesDir.map(d => s"$dir/$d").filter(IndexFs.exists(spark, _))
      .fold(0L)(IndexFs.footerRows(spark, _))
  }

  /** Run `append` unless batch `batchId` already committed; returns
    * whether it ran. The marker is written AFTER the data: a crash
    * between the two makes the redelivery append twice, which the
    * family's compaction repairs, while marker-first would lose the
    * batch. Before the probe the rebuild swap heals (the markers live
    * inside the swapped directory) and markers a crashed rebuild left
    * only in `<dir>.compact` are copied back, or a redelivery of a batch
    * committed before that crash would not see its marker.
    */
  def once(spark: SparkSession, dir: String, batchId: Long)(
      append: => Unit): Boolean = {
    IndexFs.recover(spark, dir, s"$dir.compact")
    IndexFs.carry(spark, s"$dir.compact/$Commits", s"$dir/$Commits")
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
    IndexFs.countDataFiles(spark, tables.headOption.fold(dir)(t => s"$dir/$t"))

  /** Tombstone files under `deletes/`. Every read through [[live]] opens
    * them, and only [[compact]] or [[rebuild]] clears them, so the
    * maintenance sweep adds them to [[dataFiles]]. */
  def tombstoneFiles(spark: SparkSession, dir: String): Long =
    IndexFs.countDataFiles(spark, s"$dir/$Tomb")

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
    * ([[IndexFs.swap]]), then clear the tombstones. The rewrite reads
    * through [[live]], so tombstones apply durably; clearing them
    * strictly after the LAST swap means a crash in between leaves
    * tombstones anti-joining already-absent keys (a no-op), never a
    * resurrected row. The rewrite must persist locally, not through the
    * registry: its frames read the very directories the swap replaces.
    */
  def compact(spark: SparkSession, dir: String)(
      rewrite: (String => String) => Unit): Unit = {
    open(spark, dir)
    rewrite(t => s"$dir/$t.compact")
    tables.foreach(t => IndexFs.swap(spark, s"$dir/$t", s"$dir/$t.compact"))
    IndexFs.delete(spark, s"$dir/$Tomb")
    release(spark, dir, compactRelease, tables ++ deletesDir.filter(_ == Tomb))
  }

  /** The whole-directory rebuild: `write` builds a complete index into
    * the tmp directory it is handed, then the tmp directory swaps in as
    * one unit, so tables that must change together (hot list and
    * shingles, centroids and their layout, grams and their Bloom
    * sidecar) never mix generations. The swapped-in directory starts
    * without tombstones; a family filters its input through [[live]]
    * so takedowns stay durable.
    *
    * Control subdirectories follow the carry rule (class doc): copied
    * back from a tmp directory a crashed earlier rebuild left behind
    * (it may hold the only copy), copied forward into the new directory
    * before the swap, and late arrivals rescued from `.old` by the swap
    * itself. A pending ledger is carried like the markers; with `drain`
    * the request files present before `write` ran — the ones its
    * [[live]] read has applied — are then cleared from the promoted
    * ledger. A crash before that clear leaves them pending, and the
    * re-run drain applies them again (a no-op) and clears them. Every
    * internal cache reading the index is released: the rebuild replaced
    * the frozen artifacts memoized frames are keyed on.
    */
  def rebuild(spark: SparkSession, dir: String, drain: Boolean = false)(
      write: String => Unit): Unit = {
    heal(spark, dir)
    val tmp = s"$dir.compact"
    control.foreach(c => IndexFs.carry(spark, s"$tmp/$c", s"$dir/$c"))
    IndexFs.delete(spark, tmp)
    val ledger = s"$dir/$Pending"
    val applied = if (drain) IndexFs.listNames(spark, ledger).toSet else Set.empty[String]
    write(tmp)
    control.foreach(c => IndexFs.carry(spark, s"$dir/$c", s"$tmp/$c"))
    IndexFs.swap(spark, dir, tmp, control)
    if (applied.nonEmpty) {
      if (IndexFs.listNames(spark, ledger).forall(applied)) IndexFs.delete(spark, ledger)
      else applied.foreach(n => IndexFs.delete(spark, s"$ledger/$n"))
    }
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
  private val Tomb = "deletes"
  private val Pending = "_pending_deletes"
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

  /** A family's kernel-kept deletes, by algebra: the key column that
    * [[StoredIndex.live]] anti-joins on. */
  sealed trait Deletes { def key: String }

  /** Takedown tombstones under `deletes/`, applied at read, and the
    * release scope of [[StoredIndex.tombstone]]. */
  final case class Tombstones(key: String, release: Scope) extends Deletes

  /** A pending ledger under `_pending_deletes/`, applied by a draining
    * [[StoredIndex.rebuild]] and carried by every other swap. */
  final case class Ledger(key: String) extends Deletes
}
