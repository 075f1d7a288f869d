package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Portable._

/** Statistical language-model fluency scoring — the CCNet-style
  * perplexity filter (Wenzek et al. 2020, arXiv:1911.00359): train an
  * n-gram LM per language, score every document by its per-token
  * log-probability, and partition each language into head / middle /
  * tail fluency buckets. The reference has no LM stage; this is the
  * pretraining-pipeline extension (SURVEY.md §2.11 family) — the
  * standard quality gate between heuristic filters (x10/x76) and
  * model-based selection.
  *
  * Design for cross-engine parity (the house rule
  * [[TextAnalysis.collocationLift]] documents — no libm value may
  * cross a row boundary as a double):
  *   - each bigram's smoothed probability is ONE exact-integer
  *     division, bit-identical everywhere;
  *   - its log is immediately fixed-pointed — `floor(1e6·ln p)` as
  *     BIGINT — so the per-document aggregate is an INTEGER sum,
  *     immune to float summation order across partitions/engines
  *     (a double `sum` would hash-diverge on reduction order alone);
  *   - the only doubles in the output are per-row ratios of those
  *     integers, rounded to 6 dp.
  * The one libm call (`ln`) happens on bit-identical arguments in
  * both engines and only its 1e-6-floored image is kept — a flip
  * needs the engines' `ln` to disagree ACROSS a floor boundary
  * (width ~1 ulp against a 1e-6 grid), verified stable by the round
  * gate every round.
  *
  * Scale shape: two corpus passes, exactly like production CCNet
  * (a train pass and a score pass). The count tables are
  * vocabulary-sized, not corpus-sized, and `minCount` prunes the
  * hapax tail BEFORE the scoring join — Zipf: the tail IS the table,
  * so the pruned LM is small enough to broadcast at any corpus size
  * while unseen/pruned bigrams fall back to the add-one floor. The
  * per-doc aggregation has map-side partial combines; the bucket
  * rank rides [[Sampling.rankWithinStrata]] — no per-language
  * single-task window.
  */
object LanguageModel {

  private def inScope(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id").isNotNull && col("lang").isNotNull)

  /** The per-document bigram stream (doc_id, lang, w1, w2) — narrow,
    * codegen'd, never materialized. */
  private def bigramStream(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), col("lang"),
      explode(shingleStructs(tokens(col("text")), 2)).as("bg"))
    .select(col("doc_id"), col("lang"),
      col("bg").getField("0").as("w1"), col("bg").getField("1").as("w2"))

  /** Score `scoreDocs` against a trained count table (lang, w1, w2,
    * c12). Derived frames (head totals, continuation vocabulary, the
    * pruned table) aggregate the — persisted, vocabulary-sized —
    * count table, never a corpus. Bigrams whose HEAD is outside the
    * model's vocabulary are unscorable and drop (inner c1 join);
    * self-training (lmScore) never hits that path, held-out scoring
    * (scoreAgainstLmIndex) does by design.
    */
  private def scoreWith(scoreDocs: DataFrame, c12: DataFrame,
      minCount: Long): DataFrame = {
    val c1 = c12.groupBy("lang", "w1").agg(sum("c12").as("c1"))
    val vocab = c12.groupBy("lang").agg(countDistinct("w2").as("v"))
    val kept = c12.filter(col("c12") >= minCount)
    val p = (coalesce(col("c12"), lit(0L)) + lit(1L)).cast("double") /
      (col("c1") + col("v")).cast("double")
    // the pruned model broadcasts (vocabulary-sized, Zipf-bounded by
    // minCount) so the score pass is ONE map-side stage over the
    // corpus — the exploded bigram stream never shuffles
    bigramStream(scoreDocs)
      .join(broadcast(kept), Seq("lang", "w1", "w2"), "left")
      .join(broadcast(c1), Seq("lang", "w1"))
      .join(broadcast(vocab), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        floor(log(p) * lit(1e6)).cast("long").as("__lp"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"), sum("__lp").as("lp_micro"))
      // avg_logprob rounds to 6 dp in EXACT integer arithmetic
      // (half-away-from-zero on lp_micro/n_bigrams, which is already
      // in micro-units): a float `round` disagrees across engines
      // precisely at .5 boundaries — the 10× probe caught
      // lp_micro = −115579898, n = 28 (ratio exactly −4127853.5)
      // rounding −4.127854 in Spark and −4.127853 in DuckDB. The
      // integer form is the same both sides; the final /1e6 is one
      // correctly-rounded division of identical doubles.
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("lp_micro"),
        (expr("""cast(signum(lp_micro) as bigint) *
                |((abs(lp_micro) * 2 + n_bigrams) div (n_bigrams * 2))"""
            .stripMargin.replace("\n", " "))
          .cast("double") / lit(1e6)).as("avg_logprob"))
  }

  /** The trained model of a corpus: per-(lang, w1, w2) bigram counts,
    * persisted (its three derived aggregates re-read it). */
  private def counts(docs: DataFrame): DataFrame =
    graft.tools.InternalCaches.persist(
      bigramStream(docs).groupBy("lang", "w1", "w2")
        .agg(count(lit(1)).as("c12")))

  /** Score every document against the corpus's own per-language
    * bigram LM (add-one smoothing; bigrams seen fewer than `minCount`
    * times are pruned from the model and score at the unseen floor
    * 1/(c1+V), the CCNet pruned-model arrangement). Documents with
    * fewer than two tokens have no bigram and drop out (the x28
    * convention); null-lang / null-id documents are out of scope — a
    * per-language model has nothing to say about them.
    *
    * Output: (doc_id, lang, n_bigrams, lp_micro, avg_logprob) where
    * `lp_micro` = Σ floor(1e6·ln P(w2|w1)) (BIGINT, the hash-exact
    * anchor) and `avg_logprob` = lp_micro/(1e6·n_bigrams) rounded to
    * 6 dp — the negated log-perplexity (ppl = e^(−avg_logprob);
    * the exp is left to the consumer: monotone, and keeping it out
    * of the verified surface keeps the gate libm-free).
    */
  def lmScore(docs: DataFrame, minCount: Long = 1L): DataFrame = {
    val base = inScope(docs)
    scoreWith(base, counts(base), minCount)
  }

  /** CCNet's head/middle/tail partition: within each language, rank
    * documents most-fluent-first (highest avg_logprob = lowest
    * perplexity; rounded-score ties broken by doc_id) and split the
    * ranking into thirds by integer arithmetic — no float quantile
    * thresholds to disagree over, and bucket populations per language
    * differ by at most one by construction.
    *
    * Output: (doc_id, lang, ppl_rank, n_lang, bucket).
    */
  def perplexityBuckets(docs: DataFrame, minCount: Long = 1L): DataFrame = {
    val scored = graft.tools.InternalCaches.persist(lmScore(docs, minCount))
    val nLang = scored.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val ranked = Sampling.rankWithinStrata(
      scored.select(col("doc_id"), col("lang"),
        (-col("avg_logprob")).as("__h")),
      "lang", "doc_id")
    ranked
      .join(broadcast(nLang), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("__r").as("ppl_rank"),
        col("n_lang"),
        expr("""CASE cast(((__r - 1) * 3) div n_lang as int)
               |  WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
               |  ELSE 'tail' END""".stripMargin).as("bucket"))
  }

  /** DSIR-style importance scoring (Xie et al. 2023, arXiv:2302.03169
    * §2 — Data Selection with Importance Resampling): score every
    * document under TWO per-language bigram LMs — one trained on the
    * `isTarget` slice (the distribution you want more of: a trusted
    * source, a curated domain) and one on the whole corpus — and rank
    * by the log-likelihood RATIO, the importance weight
    * log p_target(x) − log p_raw(x) per bigram. Positive importance =
    * the target model explains the document better than the corpus
    * average — the resampling keep-set. DSIR's Gumbel-noise sampling
    * step is deliberately NOT included: the deterministic importance
    * surface is the verifiable part, and the sampling composes
    * downstream via [[Sampling]]'s seeded machinery exactly like the
    * x110 fluency gate.
    *
    * Per-bigram log-probs ride the house fixed-point rule (BIGINT
    * micro-units end to end), and the importance is computed as a
    * DIFFERENCE OF INTEGERS — the two per-doc averages round
    * half-away-from-zero in exact integer arithmetic first (the
    * round-13 .5-boundary lesson), so the only double in the output
    * is one division by 1e6 of an exact BIGINT.
    *
    * Documents unscorable under the TARGET model (every bigram head
    * OOV — the target vocabulary is the smaller one) drop: there is
    * no importance estimate for them, and routing them is the
    * heuristic cascade's job (the x109 OOV convention). Scale shape:
    * two train passes (each vocabulary-sized output, broadcast) + one
    * score pass per model over the corpus — both score passes are
    * map-side joins against broadcast models, no corpus-keyed
    * exchange beyond the per-doc aggregate.
    *
    * Output: (doc_id, lang, n_bigrams_target, lp_target_micro,
    * n_bigrams_raw, lp_raw_micro, importance).
    */
  def dsirImportance(docs: DataFrame, isTarget: org.apache.spark.sql.Column,
      minCount: Long = 2L): DataFrame = {
    val base = inScope(docs)
    importancePair(base, counts(base.filter(isTarget)), counts(base), minCount)
  }

  /** [[dsirImportance]] against STORED models — the ingest-gate form
    * (the x121 streaming twin): the batch scores under a FIXED target
    * model (built once from the trusted corpus — the distribution is
    * given a priori, it does not learn from the stream) and the
    * growing raw model of every batch ingested so far, both read from
    * their stored-LM lifecycles ([[writeLmIndex]]/[[appendLmIndex]]).
    * Per-batch cost = two batch scans + two broadcast model reads —
    * nothing rescans history. Same output contract as
    * [[dsirImportance]].
    */
  def dsirAgainstLmIndexes(batch: DataFrame, targetIndexDir: String,
      rawIndexDir: String, minCount: Long = 2L): DataFrame = {
    val spark = batch.sparkSession
    val base = inScope(batch)
    importancePair(base, storedCounts(spark, targetIndexDir),
      storedCounts(spark, rawIndexDir), minCount)
  }

  /** The DSIR draw [[dsirImportance]] deliberately deferred, now
    * composed end to end: importance → seeded Gumbel perturbation →
    * top-`n` selection (Xie et al. 2023 §2.2 — resample WITHOUT
    * replacement with probability ∝ exp(importance), which is exactly
    * the Gumbel-top-n over the importance as log-weight,
    * [[graft.ext.Sampling.gumbelTopN]]). The draw rides the exact
    * integer `importance_micro`, so the only per-row libm is the
    * noise's own fixed-pointed −ln(−ln u); selection and ranking are
    * integer comparisons both engines replay bit-for-bit. The same
    * corpus under the same seed always selects the same documents —
    * re-runs, retries, and the DuckDB oracle agree — while different
    * seeds redraw, which is the property a resampling gate needs
    * (x38's determinism discipline applied to a stochastic estimator).
    *
    * Scale shape: [[dsirImportance]]'s two broadcast-model passes, one
    * narrow key projection, then a global top-n heap — no new
    * corpus-keyed exchange. Output: (doc_id, lang, importance,
    * gumbel_micro, key_micro, rank).
    */
  def dsirResample(docs: DataFrame, isTarget: org.apache.spark.sql.Column,
      n: Int, seed: String, minCount: Long = 2L): DataFrame =
    Sampling.gumbelTopN(dsirImportance(docs, isTarget, minCount),
        "importance_micro", "doc_id", n, seed)
      .select(col("doc_id"), col("lang"), col("importance"),
        col("gumbel_micro"), col("key_micro"), col("rank"))

  /** The shared importance tail as ONE corpus pass (round 19 — was two
    * [[scoreWith]] passes inner-joined per document, i.e. two exploded
    * bigram scans plus a (doc_id, lang)-keyed join exchange; the
    * round-18 verdict's per-batch driver-round-trip item measured that
    * shape at 31 Spark jobs per x121 micro-batch). Both models'
    * vocabulary-sized aggregates broadcast, the bigram stream is
    * scanned ONCE with a per-side score column gated on the side's
    * head-vocabulary membership (null = that side cannot score the
    * bigram — exactly the rows [[scoreWith]]'s inner c1 join dropped;
    * `count(col)` skips nulls, so the per-side n_bigrams/lp_micro
    * match the joined form bit for bit), and a document unscorable
    * under EITHER model drops via the post-aggregate filter — the
    * inner join's semantics. Importance is the same difference of
    * exact BIGINT micro-unit averages, emitted both as the integer
    * (`importance_micro` — what x120's merit grid and x123's Gumbel
    * key consume) and the one-division double (`importance`).
    */
  private def importancePair(scoreDocs: DataFrame, c12t: DataFrame,
      c12r: DataFrame, minCount: Long): DataFrame = {
    def parts(c12: DataFrame, sfx: String) = (
      c12.groupBy("lang", "w1").agg(sum("c12").as("c1" + sfx)),
      c12.groupBy("lang").agg(countDistinct("w2").as("v" + sfx)),
      c12.filter(col("c12") >= minCount).withColumnRenamed("c12", "c12" + sfx))
    val (c1t, vt, kt) = parts(c12t, "_t")
    val (c1r, vr, kr) = parts(c12r, "_r")
    // identical per-bigram arithmetic to scoreWith: add-one smoothing
    // over (c1 + V), floor(1e6·ln) in one double op, null when the
    // head is outside this side's vocabulary
    def lp(sfx: String) = {
      val p = (coalesce(col("c12" + sfx), lit(0L)) + lit(1L)).cast("double") /
        (col("c1" + sfx) + col("v" + sfx)).cast("double")
      when(col("c1" + sfx).isNotNull, floor(log(p) * lit(1e6)).cast("long"))
    }
    def avgMicro(lp: String, n: String) =
      expr(s"cast(signum($lp) as bigint) * ((abs($lp) * 2 + $n) div ($n * 2))")
    bigramStream(scoreDocs)
      .join(broadcast(kt), Seq("lang", "w1", "w2"), "left")
      .join(broadcast(c1t), Seq("lang", "w1"), "left")
      .join(broadcast(vt), Seq("lang"), "left")
      .join(broadcast(kr), Seq("lang", "w1", "w2"), "left")
      .join(broadcast(c1r), Seq("lang", "w1"), "left")
      .join(broadcast(vr), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"),
        lp("_t").as("__lp_t"), lp("_r").as("__lp_r"))
      .groupBy("doc_id", "lang")
      .agg(count(col("__lp_t")).as("n_bigrams_target"),
        sum(col("__lp_t")).as("lp_target_micro"),
        count(col("__lp_r")).as("n_bigrams_raw"),
        sum(col("__lp_r")).as("lp_raw_micro"))
      .filter(col("n_bigrams_target") > 0 && col("n_bigrams_raw") > 0)
      .select(col("doc_id"), col("lang"),
        col("n_bigrams_target"), col("lp_target_micro"),
        col("n_bigrams_raw"), col("lp_raw_micro"),
        (avgMicro("lp_target_micro", "n_bigrams_target") -
          avgMicro("lp_raw_micro", "n_bigrams_raw")).as("importance_micro"))
      .withColumn("importance",
        col("importance_micro").cast("double") / lit(1e6))
  }

  // ---------------------------------------------------------------------
  // Stored LM lifecycle — the x85/x104 storage discipline for an
  // ADDITIVE index. Counts can't use the gram index's set semantics
  // (a replayed append would INFLATE the model, corrupting every
  // score), so appends are BATCH-STAMPED: each append writes its
  // batch's deterministic per-(lang,w1,w2) counts under a caller-
  // supplied batch_id. Replaying an append with the same batch_id
  // reproduces byte-identical rows, so `distinct()` — at read time
  // and in compaction — collapses the replay: exactly-once model
  // semantics over at-least-once delivery, the same idempotence the
  // streaming span screen gets from per-batch overwrite (x103). Two
  // appends of the same DOCS under different batch_ids are the
  // caller declaring them distinct corpus increments — counted twice
  // on purpose.
  // ---------------------------------------------------------------------

  /** The stored LM's [[StoredIndex]] declaration: one batch-stamped
    * `bigrams` table and no tombstones (a takedown appends negated
    * counts). [[storedCounts]] memoizes the merged model, so every
    * mutation — build, append, takedown, compaction — releases the
    * whole index: a memoized model cached before it would silently
    * serve stale counts after it.
    */
  private[graft] val LmIndex = new StoredIndex(
    tables = Seq("bigrams"), tombstones = None,
    compactRelease = StoredIndex.Whole)

  /** Build the stored model: the corpus's bigram counts as parquet
    * under `indexDir/bigrams`, stamped batch_id='build'. */
  def writeLmIndex(docs: DataFrame, indexDir: String): Unit = {
    counts(inScope(docs)).withColumn("batch_id", lit("build"))
      .write.mode("overwrite").parquet(s"$indexDir/bigrams")
    // a memoized storedCounts over a PREVIOUS build at this path would
    // silently serve the old model — invalidate on every mutation
    graft.tools.InternalCaches.releaseByPath(docs.sparkSession, indexDir)
  }

  /** One batch's per-(lang, w1, w2) counts, negated for a takedown,
    * stamped `batchId` and appended as ONE file (the payload is
    * vocabulary-of-the-batch-sized; upstream compute stays parallel),
    * then the inline [[compactLmIndex]] trigger past `maxFiles` live
    * files (0 disables).
    */
  private def appendCounts(batch: DataFrame, indexDir: String,
      batchId: String, negate: Boolean, maxFiles: Int): Unit = {
    val spark = batch.sparkSession
    // heal a crashed compaction swap BEFORE appending (an append into a
    // missing live dir would mint a batch-only model and orphan .compact)
    LmIndex.open(spark, indexDir)
    bigramStream(inScope(batch)).groupBy("lang", "w1", "w2")
      .agg((if (negate) -count(lit(1)) else count(lit(1))).as("c12"))
      .withColumn("batch_id", lit(batchId))
      .repartition(1).write.mode("append").parquet(s"$indexDir/bigrams")
    // a memoized storedCounts cached before this append or takedown
    // would silently serve stale counts after it
    graft.tools.InternalCaches.releaseByPath(spark, indexDir)
    LmIndex.compactIfOver(spark, indexDir, maxFiles)(compactLmIndex(spark, indexDir))
  }

  /** Append one corpus increment's counts (ONE file per append — the
    * payload is vocabulary-of-the-batch-sized; upstream compute stays
    * parallel). Cost = one batch scan + a batch-sized aggregate,
    * independent of index size. `maxFiles` (0 disables) bounds the
    * live file count: past the threshold [[compactLmIndex]] runs
    * inline (the near-dup index trigger discipline).
    */
  def appendLmIndex(batch: DataFrame, indexDir: String, batchId: String,
      maxFiles: Int = 64): Unit =
    appendCounts(batch, indexDir, batchId, negate = false, maxFiles)

  /** Takedown at the model grain — the right-to-be-forgotten verb for
    * the ADDITIVE index: subtracting a document set from a count table
    * is appending its counts NEGATED, so the delete rides the exact
    * machinery appends already have. The caller hands back the
    * documents (the index stores aggregated counts — a takedown
    * request names content, and content cannot be reconstructed from
    * the model; the x117 hand-back contract), their per-(lang,w1,w2)
    * counts land negated under the caller's batch_id, and
    * [[storedCounts]]' post-sum `c12 > 0` filter retires any bigram
    * whose live count reaches zero from BOTH the count table and the
    * derived vocabulary — the merged model is bit-identical to one
    * trained on the remaining corpus (counts are additive over
    * documents; c1 and V derive from c12). Replay-safe like appends:
    * a redelivered delete under the same batch_id reproduces
    * byte-identical rows that distinct() collapses; two deletes of the
    * same docs under DIFFERENT ids are the caller declaring two
    * decrements — same contract as double-appends. Cost: one batch
    * scan + a batch-vocabulary aggregate + one file, independent of
    * index size; `maxFiles` (0 disables) bounds the live file count
    * with the same inline [[compactLmIndex]] trigger appends carry.
    */
  def deleteFromLmIndex(docs: DataFrame, indexDir: String,
      batchId: String, maxFiles: Int = 64): Unit =
    // same inline-compact trigger as appendLmIndex: a stream of
    // takedown requests is a stream of one-file appends, and without
    // the trigger the file count (and every storedCounts scan) grows
    // without bound until a manual compactLmIndex
    appendCounts(docs, indexDir, batchId, negate = true, maxFiles)

  /** Maintenance: distinct-rewrite (collapsing any replayed appends —
    * batch-stamped rows are deterministic, so a replay is a byte-
    * identical duplicate) then tmp → old → live swap
    * ([[StoredIndex.compact]]) — a crash at any point is healed by
    * the next touch. Batch stamps are KEPT: compaction must stay
    * idempotence-preserving — summing across batches here would make
    * the next replayed append undetectable.
    */
  def compactLmIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit =
    LmIndex.compact(spark, indexDir) { to =>
      // one writer: the model is vocabulary-sized, and the compacted
      // file count must land UNDER any append trigger threshold or the
      // trigger would re-fire on every append. (repartition(1), not
      // coalesce — the distinct upstream stays parallel.)
      val bg = spark.read.parquet(s"$indexDir/bigrams").distinct().persist()
      bg.repartition(1).write.mode("overwrite").parquet(to("bigrams"))
      bg.unpersist(blocking = false)
    }

  /** The stored model, merged for scoring: replayed appends collapse
    * (distinct over batch-stamped rows), then increments sum per
    * (lang, w1, w2). Vocabulary-sized at every step.
    *
    * Memoized through InternalCaches (round 19): the score path derives
    * THREE aggregates from this frame (head totals, smoothing
    * vocabulary, the pruned table), and un-persisted each re-ran the
    * whole distinct+sum chain over the stored files — measured as the
    * dominant share of x121's 31 driver jobs per micro-batch. The
    * staleness hazard the old non-memoized form defended against is
    * closed at the MUTATION sites instead: every verb that changes the
    * stored table ([[writeLmIndex]], [[appendLmIndex]],
    * [[deleteFromLmIndex]], [[compactLmIndex]]) invalidates the
    * registry by path, so a model read after a mutation re-derives
    * from the live files (the deleteFromNearDupIndex discipline). A
    * FIXED model (x121's target) is thus computed once per entry and
    * served from cache across every later batch — the round-18
    * verdict's "hoist per-batch stored-index reads" item.
    */
  private def storedCounts(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame = {
    // a reader after a mid-swap compactor crash self-heals (one rename)
    LmIndex.heal(spark, indexDir)
    graft.tools.InternalCaches.persist(
      spark.read.parquet(s"$indexDir/bigrams").distinct()
        .groupBy("lang", "w1", "w2").agg(sum("c12").as("c12"))
        // a bigram whose live count hit zero (appends fully retracted by
        // deleteFromLmIndex) must leave the model ENTIRELY: a zero-count
        // row would still inflate the smoothing vocabulary V and is not
        // a row a model trained on the remaining corpus would have.
        // Value-invariant on delete-free indexes (all counts positive).
        .filter(col("c12") > 0))
  }

  /** Score a held-out batch against the STORED model — the ingest-time
    * fluency gate: per-batch cost is the batch scan plus the
    * (broadcast) model read; nothing rescans training corpora.
    * Same output contract as [[lmScore]]; bigrams with an
    * out-of-vocabulary head drop as unscorable, and a fully-OOV
    * document drops entirely (nothing the model can say about it —
    * route those to the heuristic filters).
    */
  def scoreAgainstLmIndex(batch: DataFrame, indexDir: String,
      minCount: Long = 1L): DataFrame =
    scoreWith(inScope(batch),
      storedCounts(batch.sparkSession, indexDir), minCount)
}
