package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** x144 — the ONE cronnable maintenance sweep the per-verb design has
  * been building toward: a deployment that runs the stored-index
  * families (gram substring, near-dup, semantic, IVF-PQ) no longer
  * crons five separate jobs (occupancy/cap-bind audit, cap-bind
  * retrain, drift-monitor retrain, pending-ledger drain, file-count
  * compaction) — it declares its stores once and calls
  * [[Maintenance.maintenanceSweep]] on the maintenance cadence. The
  * sweep walks the declared stores in order, evaluates each store's
  * triggers against the CURRENT state (later triggers observe earlier
  * verbs' effects — so the sweep is definitionally the hand-composed
  * sequence of the underlying guarded verbs, which is what the spec
  * pins), invokes the existing guarded verb when a trigger fires, and
  * returns one actions-taken frame.
  *
  * The sweep adds NO new mutation paths: every remedy is one of the
  * verbs that already carries its own correctness gate —
  * [[Similarity.retrainSemanticIfCapBound]] (x139),
  * [[Similarity.ivfPqRetrainIfCapBound]] (x140),
  * [[Similarity.ivfPqRebuildIndex]] (the x67/x72 drift response),
  * [[Dedup.drainGramTakedowns]] (x142),
  * [[Similarity.compactSemanticIndex]] / [[Similarity.ivfPqCompactIndex]]
  * / [[Dedup.compactGramIndex]] / [[Dedup.compactNearDupIndex]]
  * (the file-count fold). Concurrency is therefore the verbs' own
  * contract: single-writer per store among maintenance verbs (the
  * request-side [[Dedup.requestGramTakedown]] may race — the swap
  * carries a request that lands during a rebuild into the new
  * directory). Every store but the LM is a [[StoredIndex]] family, so
  * every remedy's swap, recovery and carry is the kernel's.
  *
  * Output (one row per store × trigger evaluated, in declaration
  * order): store, trigger, fired, acted, verb, gauge_before,
  * gauge_after. `fired` is the trigger's own predicate; `acted` is
  * whether its remedy has run this sweep (false under `dryRun`, and
  * for a drift alarm whose rebuild was coalesced into an earlier
  * cap-bind retrain it is TRUE with the coalescing named in `verb` —
  * one rebuild serves both triggers, exactly as a careful operator
  * would hand-compose it). Gauges are the trigger's own gauge —
  * stamped cap (cap-bind), pending-request count (ledger), data-file
  * count (file-count; near-dup adds its tombstone files) — and NULL
  * where the trigger reads no Long gauge (drift: its evidence is the
  * monitor frame, distilled to the fired bit). `gauge_after` re-reads
  * the gauge after the remedy; equal to `gauge_before` when nothing
  * acted.
  *
  * Cost when every alarm is quiet: one occupancy scan per
  * semantic/IVF-PQ store, one ledger row-count + one file listing per
  * gram store, two file listings (data table and tombstones) per
  * near-dup store — the audit bill a cron pays by design. A firing
  * trigger pays its verb's own documented bill (rebuild-class for
  * cap-bind/drain; rewrite-class for compaction).
  */
object Maintenance {

  /** A declared stored index the sweep maintains. Declaration order is
    * sweep order; each store's triggers run in the fixed per-family
    * order documented on its case class.
    */
  sealed trait Store { def name: String; def indexDir: String }

  /** Semantic (flat-quantizer) vector store. Triggers, in order:
    *  1. `cap_bind` — [[Similarity.retrainSemanticIfCapBound]] (the
    *     verb no-ops when the alarm is quiet; `widenFactor` passes
    *     through).
    *  2. `file_count` — appends accumulate files; when the data-file
    *     count of `vectors` exceeds `maxFilesPerCell × |centroids|`
    *     (the [[Similarity.appendSemanticIndex]] trigger, re-checked
    *     AFTER a cap-bind retrain — a retrain rewrites the layout and
    *     usually quiets this), [[Similarity.compactSemanticIndex]]
    *     folds them and applies tombstones durably. `0` disables.
    */
  final case class SemanticStore(name: String, indexDir: String,
      widenFactor: Int = 2, maxFilesPerCell: Int = 64) extends Store

  /** IVF-PQ (compressed) vector store. Triggers, in order:
    *  1. `cap_bind` / `code_cap_bind` — ONE
    *     [[Similarity.ivfPqRetrainIfCapBound]] call serves both rank
    *     cuts (it widens only the bound one); the sweep reports one row
    *     per cut so each alarm is individually visible. `corpus` is the
    *     hand-back every lossy-code rebuild needs (the x117/x138
    *     contract).
    *  2. `drift` — when `rerank` evidence is declared,
    *     [[Similarity.retrainMonitor]] distills it; a firing alarm
    *     rebuilds via [[Similarity.ivfPqRebuildIndex]] at the stamped
    *     geometry — unless the cap-bind retrain already rebuilt this
    *     sweep, in which case the remedy is COALESCED (fresh codebooks
    *     exist; a second rebuild would duplicate the bill). The
    *     monitor row is read BEFORE any verb swaps the store, so lazy
    *     evidence frames over the index directory stay valid.
    *  3. `file_count` — as the semantic store, over `codes`, remedied
    *     by [[Similarity.ivfPqCompactIndex]].
    */
  final case class IvfPqStore(name: String, indexDir: String,
      corpus: DataFrame, widenFactor: Int = 2, trainIters: Int = 0,
      maxFilesPerCell: Int = 64, rerank: Option[DataFrame] = None,
      maxMeanGap: Double = 0.05, maxRankChurn: Double = 0.9) extends Store

  /** Bucketed gram (substring-screen) store, the [[StoredIndex]] family
    * whose data table is the index directory and whose deletes are the
    * pending ledger. Triggers, in order:
    *  1. `ledger` — pending [[Dedup.requestGramTakedown]] requests
    *     (distinct doc_ids, not directory-probed) drain through ONE
    *     filtered rebuild ([[Dedup.drainGramTakedowns]]; `corpus` is
    *     the live-corpus hand-back the gram grain requires — no
    *     provenance at O(1) bytes/gram).
    *  2. `file_count` — re-checked after a drain (the drain IS a
    *     distinct rewrite and usually quiets it): data files under the
    *     index directory (the kernel's gauge; pending-request files
    *     count too) above `maxDataFiles` fold via
    *     [[Dedup.compactGramIndex]], which carries the ledger. `0` fires
    *     on any nonempty index ("compact every sweep" — a legitimate
    *     cron policy); negative disables.
    */
  final case class GramStore(name: String, indexDir: String,
      corpus: DataFrame, k: Int = 8, buckets: Int = 0,
      maxDataFiles: Long = 1024L) extends Store

  /** MinHash near-dup store (x40 family). One trigger: `file_count`
    * over the `shingles` table (the table the inline append trigger
    * counts) plus the takedown tombstone files under `deletes/`, which
    * every screen reads too, remedied by [[Dedup.compactNearDupIndex]]
    * (which applies the tombstones durably and removes their files). A
    * store that only receives takedowns therefore fires at its
    * threshold. The inline append trigger counts `shingles` only.
    * Thresholds as [[GramStore]].
    */
  final case class NearDupStore(name: String, indexDir: String,
      maxDataFiles: Long = 1024L) extends Store

  /** Stored bigram LM (x109 family). One trigger: `file_count` over
    * the `bigrams` table (appends add one file each; retraction rows
    * from [[LanguageModel.deleteFromLmIndex]] accumulate the same
    * way), remedied by [[LanguageModel.compactLmIndex]] — the distinct
    * rewrite that folds appends and applies retractions durably.
    * Thresholds as [[GramStore]].
    */
  final case class LmStore(name: String, indexDir: String,
      maxDataFiles: Long = 64L) extends Store

  private final case class Action(store: String, trigger: String,
      fired: Boolean, acted: Boolean, verb: String,
      gaugeBefore: Option[Long], gaugeAfter: Option[Long])

  /** Run one maintenance sweep over `stores`. `dryRun` evaluates every
    * trigger and reports what WOULD run without mutating any store
    * (the cap-bind verbs' own dryRun passes through). Returns the
    * actions-taken frame documented on the object.
    */
  def maintenanceSweep(spark: SparkSession, stores: Seq[Store],
      dryRun: Boolean = false): DataFrame = {
    import spark.implicits._
    val rows = stores.flatMap {
      case s: SemanticStore => semanticTriggers(spark, s, dryRun)
      case s: IvfPqStore => ivfPqTriggers(spark, s, dryRun)
      case s: GramStore => gramTriggers(spark, s, dryRun)
      case s: NearDupStore => nearDupTriggers(spark, s, dryRun)
      case s: LmStore => lmTriggers(spark, s, dryRun)
    }
    rows.map(a => (a.store, a.trigger, a.fired, a.acted, a.verb,
        a.gaugeBefore, a.gaugeAfter))
      .toDF("store", "trigger", "fired", "acted", "verb",
        "gauge_before", "gauge_after")
  }

  private def semanticTriggers(spark: SparkSession, s: SemanticStore,
      dryRun: Boolean): Seq[Action] = {
    val capBefore = Similarity
      .readStampMap(spark, s"${s.indexDir}/_quantizer").get("cap")
    // the verb audits, decides, rebuilds (or no-ops), re-audits — the
    // sweep only distills its two-phase frame into one action row
    val frame = Similarity.retrainSemanticIfCapBound(
      spark, s.indexDir, s.widenFactor, dryRun).collect()
    val before = frame.find(_.getAs[String]("phase") == "before").get
    val fired = before.getAs[Boolean]("cap_bound")
    val acted = before.getAs[Boolean]("acted")
    val capAfter =
      if (acted) Some(before.getAs[Long]("new_cap")) else capBefore
    val capRow = Action(s.name, "cap_bind", fired, acted,
      "retrainSemanticIfCapBound", capBefore, capAfter)
    capRow +: fileCountTrigger(s.name,
      () => Similarity.SemanticIndex.dataFiles(spark, s.indexDir),
      dryRun, threshold(spark, s.indexDir, s.maxFilesPerCell),
      "compactSemanticIndex",
      () => Similarity.compactSemanticIndex(spark, s.indexDir))
  }

  private def ivfPqTriggers(spark: SparkSession, s: IvfPqStore,
      dryRun: Boolean): Seq[Action] = {
    // drift evidence is read FIRST: the rerank frame may lazily read
    // the very directories a cap-bind retrain below swaps
    val driftFired = s.rerank.map(r =>
      Similarity.retrainMonitor(r, s.maxMeanGap, s.maxRankChurn)
        .head().getAs[Boolean]("needs_retrain"))
    val kv = Similarity.readStampMap(spark, s"${s.indexDir}/_quantizer")
    val frame = Similarity.ivfPqRetrainIfCapBound(
      s.corpus, s.indexDir, s.widenFactor, dryRun, s.trainIters).collect()
    val before = frame.find(_.getAs[String]("phase") == "before").get
    val coarseFired = before.getAs[Boolean]("cap_bound")
    val codeFired = before.getAs[Boolean]("code_cap_bound")
    val acted = before.getAs[Boolean]("acted")
    val capRows = Seq(
      Action(s.name, "cap_bind", coarseFired, acted,
        "ivfPqRetrainIfCapBound", kv.get("cap"),
        if (acted) Some(before.getAs[Long]("new_cap")) else kv.get("cap")),
      Action(s.name, "code_cap_bind", codeFired, acted,
        "ivfPqRetrainIfCapBound", kv.get("code_cap"),
        if (acted) Some(before.getAs[Long]("new_code_cap"))
        else kv.get("code_cap")))
    val driftRows = driftFired.toSeq.map { fired =>
      val doRebuild = fired && !dryRun && !acted
      if (doRebuild) {
        val m = Similarity.storedM(
          spark.read.parquet(s"${s.indexDir}/codebook"))
        Similarity.ivfPqRebuildIndex(s.corpus, s.indexDir,
          kv.getOrElse("modulus", 100L).toInt,
          math.min(kv.getOrElse("cap", 1024L),
            Int.MaxValue.toLong).toInt, m,
          kv.getOrElse("code_modulus", 5L).toInt,
          math.min(kv.getOrElse("code_cap", 256L),
            Int.MaxValue.toLong).toInt, s.trainIters)
      }
      Action(s.name, "drift", fired, fired && !dryRun,
        if (fired && acted) "ivfPqRetrainIfCapBound (coalesced)"
        else "ivfPqRebuildIndex",
        None, None)
    }
    capRows ++ driftRows ++ fileCountTrigger(s.name,
      () => Similarity.IvfPqIndex.dataFiles(spark, s.indexDir), dryRun,
      threshold(spark, s.indexDir, s.maxFilesPerCell),
      "ivfPqCompactIndex",
      () => Similarity.ivfPqCompactIndex(spark, s.indexDir))
  }

  private def gramTriggers(spark: SparkSession, s: GramStore,
      dryRun: Boolean): Seq[Action] = {
    val pending = Dedup.pendingGramTakedowns(spark, s.indexDir).count()
    val ledgerFired = pending > 0
    val ledgerActed = ledgerFired && !dryRun
    if (ledgerActed) Dedup.drainGramTakedowns(s.corpus, s.indexDir,
      s.k, s.buckets)
    val pendingAfter =
      if (ledgerActed) Dedup.pendingGramTakedowns(spark, s.indexDir).count()
      else pending
    val ledgerRow = Action(s.name, "ledger", ledgerFired, ledgerActed,
      "drainGramTakedowns", Some(pending), Some(pendingAfter))
    ledgerRow +: fileCountTrigger(s.name,
      () => Dedup.GramIndex.dataFiles(spark, s.indexDir), dryRun,
      if (s.maxDataFiles < 0) None else Some(s.maxDataFiles),
      "compactGramIndex",
      () => Dedup.compactGramIndex(spark, s.indexDir, buckets = s.buckets))
  }

  private def nearDupTriggers(spark: SparkSession, s: NearDupStore,
      dryRun: Boolean): Seq[Action] =
    fileCountTrigger(s.name,
      () => Dedup.NearDupIndex.dataFiles(spark, s.indexDir) +
        Dedup.NearDupIndex.tombstoneFiles(spark, s.indexDir), dryRun,
      if (s.maxDataFiles < 0) None else Some(s.maxDataFiles),
      "compactNearDupIndex",
      () => Dedup.compactNearDupIndex(spark, s.indexDir))

  private def lmTriggers(spark: SparkSession, s: LmStore,
      dryRun: Boolean): Seq[Action] =
    fileCountTrigger(s.name,
      () => LanguageModel.LmIndex.dataFiles(spark, s.indexDir), dryRun,
      if (s.maxDataFiles < 0) None else Some(s.maxDataFiles),
      "compactLmIndex",
      () => LanguageModel.compactLmIndex(spark, s.indexDir))

  /** The semantic/IVF-PQ file threshold: `maxFilesPerCell × |centroids|`
    * (the [[Similarity.appendSemanticIndex]] trigger). None disables
    * (`maxFilesPerCell == 0`, the appends' own convention).
    */
  private def threshold(spark: SparkSession, indexDir: String,
      maxFilesPerCell: Int): Option[Long] =
    if (maxFilesPerCell <= 0) None
    else Some(maxFilesPerCell.toLong *
      spark.read.parquet(s"$indexDir/centroids").count())

  /** The file-count rung over the store's data-file gauge (for the
    * stored-index families, their [[StoredIndex]] data table). */
  private def fileCountTrigger(store: String, dataFiles: () => Long,
      dryRun: Boolean, maxFiles: Option[Long],
      verb: String, remedy: () => Unit): Seq[Action] =
    maxFiles.toSeq.map { threshold =>
      val files = dataFiles()
      val fired = files > threshold
      val acted = fired && !dryRun
      if (acted) remedy()
      val filesAfter =
        if (acted) dataFiles() else files
      Action(store, "file_count", fired, acted, verb,
        Some(files), Some(filesAfter))
    }
}
