package graft.ext

import java.security.MessageDigest
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Portable._

/** Similarity search over an embedding column (SURVEY.md §2.11).
  *
  * Scale design: brute-force cosine top-k is the exactness baseline —
  * the probe side is tiny and broadcast, so the big side streams once
  * with no shuffle (cost O(n·k·d) per executor, embarrassingly
  * parallel). The scale paths bound the candidate set instead of
  * scanning: random-hyperplane LSH buckets (shuffle on 4-bit band
  * buckets) and IVF (coarse centroids → partition-pruned probe of
  * nprobe clusters). All floating reductions are sequential folds so
  * results reproduce bit-identically on the DuckDB oracle
  * ([[graft.functions.Portable]]).
  */
object Similarity {

  /** Fixture embedding dimensionality (fixed-dim lets every cosine stay
    * inside whole-stage codegen as an expanded expression).
    */
  val Dims = 64

  /** Embeddings with the float vector cast to double (float32 values are
    * exactly representable — both engines see identical doubles).
    */
  private def vecs(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** The native codegen'd cosine ([[graft.functions.CosineSim]]) —
    * left-fold accumulation, bit-identical to the oracle's list_reduce.
    */
  private def cos(va: Column, vb: Column): Column =
    graft.functions.CosineSim.cosine_sim(va, vb)

  /** The semantic index's [[StoredIndex]] declaration: one
    * `partitionBy(centroid_id)` table, `vectors`, with `vec_id`
    * tombstones. Readers memoize frames over the live vectors (the
    * stored chain order), so a takedown releases the whole index;
    * compactions release nothing, and builds and appends call no release.
    */
  private[graft] val SemanticIndex = new StoredIndex(
    tables = Seq("vectors"),
    deletes = Some(StoredIndex.Tombstones("vec_id", StoredIndex.Whole)),
    compactRelease = StoredIndex.Keep)

  /** The stored `vectors` table with takedown tombstones applied — the
    * read every consumer of the semantic index routes through. Deleted
    * vec_ids ([[deleteFromSemanticIndex]]) are suppressed by a
    * broadcast anti-join; the physical rows are removed at the next
    * [[compactSemanticIndex]] / [[rebuildSemanticIndex]]
    * (merge-on-read: a takedown never pays an index-sized rewrite).
    * Duplicate-row semantics are untouched — callers that need the
    * replay-collapse still `dropDuplicates`. Schema-pinned (the gram
    * grain's round-17 lesson, Dedup.gramTable): a compaction after a
    * FULL-corpus takedown legally leaves this partitionBy table with
    * zero data files, and schema inference over that directory throws
    * instead of reading zero rows.
    */
  private def liveVectors(spark: SparkSession, indexDir: String): DataFrame =
    SemanticIndex.read(spark, indexDir, "vectors",
      Some("vec_id LONG, v ARRAY<DOUBLE>, centroid_id LONG"))

  /** Takedown at the vector grain — the right-to-be-forgotten verb for
    * the stored semantic index. Writes the vec_ids as TOMBSTONES
    * ([[StoredIndex.tombstone]], one tiny file per request): every reader
    * (screen, occupancy audit, mining, rebuild, compaction) anti-joins
    * them out, so the delete is effective at the next read for
    * O(|request|) I/O — never an index-sized rewrite on the takedown
    * path. Physical removal is deferred to the next
    * [[compactSemanticIndex]] (applies tombstones durably, then clears
    * them) or [[rebuildSemanticIndex]] (retrains over the live set —
    * the swapped-in directory starts with no tombstones). Set
    * semantics make the write replay-safe without markers: deleting
    * twice is deleting once.
    *
    * Re-admission contract: tombstones WIN over appends until a
    * compaction clears the applied set — a deleted vec_id re-appended
    * before the compact stays suppressed (suppressing the old physical
    * rows is exactly what keeps the takedown correct). Re-admit with
    * compact-then-append; spec-pinned in TakedownSpec.
    */
  def deleteFromSemanticIndex(vecIds: DataFrame, indexDir: String): Unit =
    // a screen memoized before the takedown would keep serving the
    // deleted rows — the same staleness class as the rebuild
    SemanticIndex.tombstone(vecIds, indexDir)

  /** Brute-force cosine top-k: query vectors are those with
    * vec_id % queryModulus == 0; for each, the k nearest others by
    * cosine (ties broken by neighbor id).
    * Output: (query_id, rank, neighbor_id, cos_sim).
    *
    * Ranking runs on the custom heap operator
    * ([[graft.plans.TopKPerGroup]]), not `row_number().over(Window)`:
    * the window form shuffles ALL n·Q scored pairs to Q reducers (the
    * grouping key has query cardinality — maximal skew) and sorts each.
    * The heap operator's map-side partial keeps only k rows per (query,
    * partition) before the exchange, so the shuffle carries O(P·Q·k)
    * rows however large the corpus, and no sort ever runs.
    */
  def bruteForceTopK(emb: DataFrame, k: Int = 10, queryModulus: Int = 100,
      queryIds: Seq[Long] = Nil): DataFrame = {
    val all = vecs(emb)
    // explicit queryIds override the modulus selection — the recall
    // harness needs ground truth for a FIXED query set at corpus sizes
    // where the modulus family itself grows with the data (every
    // replica stride is ≡ 0 mod 100, so a 100× corpus has 100× the
    // modulus queries and the exact pass would be quadratic in scale)
    val queries = (if (queryIds.nonEmpty) all.filter(col("vec_id").isin(queryIds: _*))
      else all.filter(col("vec_id") % queryModulus === 0))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = all.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cos(col("qv"), col("v")), 6).as("cos_sim"))
    rankTopK(scored, k)
  }

  /** Brute-force top-k of explicit QUERY vectors against a SEPARATE
    * corpus — the ground-truth form when the searchable set is not the
    * queries' own corpus (x80's representative index: a hot-cloud
    * query may itself have been deduplicated away, so its exact
    * neighbors must be ranked over the REP set, not the raw one).
    * Self-matches (same vec_id) are excluded; otherwise identical to
    * [[bruteForceTopK]] — one broadcast of the query rows, the heap
    * operator for ranking.
    */
  def bruteForceTopKAgainst(
      corpus: DataFrame, queryFrame: DataFrame, k: Int = 10): DataFrame = {
    val all = vecs(corpus)
    val queries = vecs(queryFrame)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = all.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cos(col("qv"), col("v")), 6).as("cos_sim"))
    rankTopK(scored, k)
  }

  /** Hard-negative mining for contrastive training data (the DPR
    * arrangement — Karpukhin et al. 2020, arXiv:2004.04906 §3.2: the
    * strongest negatives are the retriever's own near-misses): for
    * each anchor vector, the `k` highest-cosine corpus vectors BELOW
    * the near-dup ceiling `dupCos`. The ceiling is the false-negative
    * guard — a candidate at cosine ≥ dupCos is a duplicate/paraphrase
    * of the anchor (the x33 grain), and training against it as a
    * negative teaches the model to separate copies of the same thing;
    * everything under it, ranked descending, is "hard" by
    * construction. Anchors are the modulus convention (vec_id %
    * queryModulus == 0), overridable with explicit `queryIds` for
    * fixed-anchor harnesses (the [[bruteForceTopK]] rationale: the
    * modulus family grows with the corpus).
    *
    * Plan shape is [[bruteForceTopK]]'s exactly — broadcast anchors,
    * one streamed corpus scan, the map-side heap top-k — plus one
    * codegen'd filter between them; the decade story is x54/x55's.
    * This form is anchors × corpus — the EXACT baseline. At production
    * anchor counts (every training example wants negatives) use
    * [[hardNegativesIVF]], which swaps the scored-pair source for the
    * IVF probed-cell candidate set; the ranking tail is shared.
    * Output: (query_id, rank, neighbor_id, cos_sim).
    */
  def hardNegatives(emb: DataFrame, k: Int = 5, queryModulus: Int = 100,
      dupCos: Double = 0.9, queryIds: Seq[Long] = Nil): DataFrame = {
    val all = vecs(emb)
    val anchors = (if (queryIds.nonEmpty)
        all.filter(col("vec_id").isin(queryIds: _*))
      else all.filter(col("vec_id") % queryModulus === 0))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = all.join(broadcast(anchors), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cos(col("qv"), col("v")), 6).as("cos_sim"))
      .filter(col("cos_sim") < dupCos)
    rankTopK(scored, k)
  }

  /** [[hardNegativesIVF]] against the PERSISTED semantic index — the
    * deployment form, which removes the assignment term entirely: the
    * corpus-sized nearest-centroid assignment was paid ONCE at ingest
    * (build + appends, the x59/x90 cost model) and sits on disk in the
    * index's `partitionBy(centroid_id)` layout, so a mining run costs
    * only the anchors' probe ranking (anchors × stored centroids,
    * broadcast), ONE pruned read of the probed cell directories
    * (literal partition filter — ≤ |anchors|·nprobe cells of the
    * ~1024), and probed-cell scoring under the dup ceiling. Anchors
    * are an explicit frame (training examples come from outside the
    * index). Stored vectors collapse replay duplicates by vec_id — the
    * appendOnce crash window's over-approximation, same repair
    * [[compactSemanticIndex]]'s distinct-rewrite applies; a duplicate
    * row would otherwise surface twice in the top-k. Ceiling,
    * ranking, and output contract are [[hardNegatives]]'s verbatim;
    * against a fresh index this is bit-identical to
    * [[hardNegativesIVF]] at the same geometry (spec-gated, and the
    * registered oracle IS x122's SQL — the storage round-trip is
    * hash-enforced every round).
    */
  def hardNegativesIndexed(anchors: DataFrame, indexDir: String, k: Int = 5,
      dupCos: Double = 0.9, nprobe: Int = 2): DataFrame = {
    val spark = anchors.sparkSession
    // a reader after a mid-swap compactor/rebuild crash self-heals
    SemanticIndex.heal(spark, indexDir)
    val cents = spark.read.parquet(s"$indexDir/centroids")
    val a = vecs(anchors).select(col("vec_id").as("query_id"), col("v").as("qv"))
    import graft.plans.TopKPerGroup
    val probeScored = a.join(broadcast(cents))
      .select(col("query_id"), col("qv"), col("centroid_id"),
        round(cos(col("qv"), col("cv")), 6).as("q_sim"))
    val probes = TopKPerGroup.topK(probeScored, Seq("query_id"),
        Seq("q_sim" -> TopKPerGroup.Desc, "centroid_id" -> TopKPerGroup.Asc),
        nprobe)
      .select(col("query_id"), col("qv"), col("centroid_id"))
    // probed cell ids: control-plane (≤ |anchors|·nprobe longs) into a
    // literal partition filter — the x90 pruned-read discipline
    val probedIds = probes.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val cells = liveVectors(spark, indexDir)
      .filter(col("centroid_id").isin(probedIds.map(Long.box): _*))
      .dropDuplicates("vec_id")
    val scored = cells.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cos(col("qv"), col("v")), 6).as("cos_sim"))
      .filter(col("cos_sim") < dupCos)
    rankTopK(scored, k)
  }

  /** Shared ranking tail: best `k` rows per query_id by (cos_sim desc,
    * neighbor_id asc) with a 1-based `rank`, via the heap operator.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    import graft.plans.TopKPerGroup
    TopKPerGroup.topK(scored, Seq("query_id"),
        Seq("cos_sim" -> TopKPerGroup.Desc, "neighbor_id" -> TopKPerGroup.Asc), k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** Deterministic pseudo-random hyperplane weights, computed on the
    * driver with the same md5 formula the oracle uses:
    * w(p,d) = ((hash60(p + ":" + d) mod 2001) − 1000) / 1000 ∈ [−1, 1].
    */
  def hyperplanes(numPlanes: Int, dims: Int): Seq[Seq[Double]] = {
    val md = MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    (0 until numPlanes).map(p =>
      (0 until dims).map(d => ((h60(s"$p:$d") % 2001) - 1000) / 1000.0))
  }

  /** Random-hyperplane signatures: bit p of the signature is 1 iff
    * dot(v, plane_p) >= 0 (sequential fold — sign must be reproducible).
    * Output: (vec_id, v, sig) with sig a numPlanes-bit int.
    */
  def lshSignatures(emb: DataFrame, numPlanes: Int = 16, dims: Int = Dims): DataFrame =
    vecs(emb).withColumn("sig",
      graft.functions.HyperplaneSignature.hyperplane_sig(
        col("v"), hyperplanes(numPlanes, dims)))

  /** LSH-bucketed near-duplicate pairs: candidates share at least one
    * `bandBits`-bit band of the `numPlanes`-bit signature; candidates
    * are verified with exact cosine and filtered at `minCos`.
    * Output: (vec_a, vec_b, cos_sim).
    *
    * SIZE THE BUCKETS TO THE CORPUS: expected bucket occupancy is
    * n / 2^bandBits per band, and the candidate join emits
    * O(occupancy²·buckets·bands) pairs — with the fixture default
    * (4-bit buckets, 16 per band) a 2000-vector corpus already puts
    * ~125 vectors per bucket and ~500k pairs through verification. At
    * scale, grow `bandBits` ≈ log2(n / desired_occupancy) and restore
    * recall by growing `numPlanes` (more bands of wider buckets): a
    * band match at 2·bandBits implies a match of both constituent
    * bandBits halves, so wider bands strictly shrink the candidate set.
    * The fixture default stays (16, 4) — the x06 oracle mirrors it
    * bit-for-bit.
    */
  def lshNearDup(
      emb: DataFrame,
      minCos: Double = 0.45,
      numPlanes: Int = 16,
      bandBits: Int = 4): DataFrame = {
    require(numPlanes % bandBits == 0 && numPlanes <= 60,
      s"numPlanes ($numPlanes) must be a multiple of bandBits ($bandBits), <= 60")
    val nBands = numPlanes / bandBits
    val mask = (1L << bandBits) - 1
    val all = vecs(emb)
    // candidate pairs carry ids only (deduping (id,id) pairs shuffles
    // 16 bytes/row; carrying the vectors through the shuffle costs ~30×)
    val bands = lshSignatures(emb, numPlanes)
      .select(col("vec_id"), explode(sequence(lit(0), lit(nBands - 1))).as("band"),
        col("sig"))
      .withColumn("bucket", expr(s"shiftright(sig, band * $bandBits) & $mask"))
      .select(col("vec_id"), col("band"), col("bucket"))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val ea = all.select(col("vec_id").as("vec_a"), col("v").as("va"))
    val eb = all.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    cand.join(broadcast(ea), "vec_a").join(broadcast(eb), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(cos(col("va"), col("vb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Deterministic coarse centroids: the vectors with
    * vec_id % modulus == 0 (the shared IVF/k-means seeding rule).
    */
  private def modulusCentroids(all: DataFrame, modulus: Int): DataFrame =
    all.filter(col("vec_id") % modulus === 0)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"))

  /** Nearest-centroid assignment (the IVF "coarse quantizer"): the heap
    * operator with k=1, NOT a row_number window and NOT max_by — the
    * window shuffles+sorts all n·C scored rows on vec_id, and max_by
    * over a struct payload plans as SortAggregate (struct buffers are
    * not hash-aggregable), which sorts again. The heap operator's
    * map-side partial reduces to one row per (vector, partition) before
    * the exchange, sort-free. Ties: highest cosine, then lowest
    * centroid id. Output: (vec_id, v, centroid_id).
    */
  private def assignToCentroids(all: DataFrame, centroids: DataFrame): DataFrame =
    nearestRef(all, Seq("vec_id"), "v", centroids, "centroid_id", "cv")

  /** The generic quantizer behind every assignment in this file: for
    * each point, the single nearest reference vector by rounded cosine
    * (ties to the lowest reference id), via the broadcast join + heap
    * top-1. Keeping ONE implementation is a bit-compatibility
    * requirement, not style: flat and hierarchical SemDeDup must agree
    * wherever their cell structures coincide, which only holds if both
    * share the exact rounding and tie-break expressions.
    * Output: point id columns + vCol + refId.
    */
  private def nearestRef(points: DataFrame, idCols: Seq[String], vCol: String,
      refs: DataFrame, refId: String, refVec: String, k: Int = 1): DataFrame =
    topKByCos(points.join(broadcast(refs)), idCols, vCol, refId, refVec, k)

  /** Top-k-by-cosine over ALREADY-PAIRED (point, candidate-ref) rows —
    * for callers whose candidate set is not a full cross join (the
    * hierarchical quantizer pairs each vector only with its super-cell's
    * centroids). k=1 is the assignment case; k>1 is the multi-probe
    * case (keep the k nearest refs per point). Same rounding and
    * tie-break as [[nearestRef]].
    */
  private def topKByCos(pairs: DataFrame, idCols: Seq[String], vCol: String,
      refId: String, refVec: String, k: Int = 1): DataFrame = {
    import graft.plans.TopKPerGroup
    TopKPerGroup.topK(
        pairs.select(idCols.map(col) :+ col(vCol) :+ col(refId) :+
          round(cos(col(vCol), col(refVec)), 6).as("__sim"): _*),
        idCols,
        Seq("__sim" -> TopKPerGroup.Desc, refId -> TopKPerGroup.Asc), k)
      .select(idCols.map(col) :+ col(vCol) :+ col(refId): _*)
  }

  /** The semantic cell id of every vector — the shared capped coarse
    * quantizer ([[ivfCentroids]] seeds + the family-wide
    * [[nearestRef]] rounding/tie-break) exposed as a public frame for
    * compositions that organize DOCUMENTS by embedding neighborhood
    * (x131's in-context packing groups context windows by this cell).
    * One broadcast-centroid scan + the sort-free heap top-1; the cap
    * keeps the assignment O(n·maxCentroids) (the x56 linearity
    * discipline). Output: (vec_id, centroid_id).
    */
  def semanticCells(emb: DataFrame, centroidModulus: Int = 100,
      maxCentroids: Int = 1024): DataFrame = {
    val all = vecs(emb)
    assignToCentroids(all, ivfCentroids(all, centroidModulus, maxCentroids))
      .select(col("vec_id"), col("centroid_id"))
  }

  /** x134 — greedy nearest-neighbor CHAIN order within each semantic
    * cell: the within-window document ordering In-Context Pretraining
    * actually prescribes (Shi et al. 2023, arXiv:2310.10638 §2 —
    * x131 approximated it with id order inside the cell, and the
    * round-15 verdict noted the paper's gains live in exactly this
    * ordering). Deterministic by construction: the chain seeds at the
    * cell's lowest vec_id, and each step extends to the
    * highest-cosine unvisited member (rounded-6 cosine, ties to the
    * lowest id), so both engines replay the same traversal.
    *
    * Scale shape: the shared capped assignment (broadcast centroids +
    * the sort-free heap top-1), then ONE within-cell pairwise cosine
    * pass — Σ|cell|², the same cap-bounded quadratic the SemDeDup
    * witness already pays (the x33 scale argument: cost ≈
    * n·occupancy, never n²) — and a per-cell sequential fold over the
    * PRE-SORTED pair rows (`flatMapSortedGroups` on (a, cs desc, b):
    * adjacency lists arrive argmax-first, so each step is a scan for
    * the first unvisited candidate; O(|cell|²) total per cell, the
    * pair pass's own size class). A chain is inherently sequential —
    * parallelism is #cells, and the cap bounds any one task. The
    * cosines ride the SAME codegen'd [[graft.functions.CosineSim]] +
    * round-6 expression as every sibling, so the fold itself does no
    * float arithmetic — pure selection, bit-parity free.
    *
    * Output: (vec_id, centroid_id, chain_pos) — chain_pos is 1-based
    * and contiguous per cell (singleton cells are chains of length 1).
    *
    * `chainCellCap` guards the one non-spillable piece: the per-cell
    * fold buffers the full within-cell adjacency (|cell|·(|cell|−1)
    * longs) in one task's heap, so a runaway hot cell — exactly the
    * condition the occupancy alarms ([[storedSemanticOccupancy]] /
    * [[cellOccupancyAudit]]) exist to detect under frozen or drifted
    * centroids — would become an unspillable OOM instead of a slow
    * task. The fold refuses FAST (the sorted input delivers one
    * adjacency list at a time, so detection costs O(cap) memory, not
    * O(|cell|²)) with the remedy in the message: rebuild at a wider
    * `maxCentroids`, or raise the cap if the executor heap affords
    * |cell|² × 8 bytes. At the default 4096 a worst-case cell buffers
    * ~128 MiB.
    */
  def semanticChainOrder(emb: DataFrame, centroidModulus: Int = 100,
      maxCentroids: Int = 1024,
      chainCellCap: Int = DefaultChainCellCap): DataFrame = {
    val all = vecs(emb)
    val assigned = graft.tools.InternalCaches.persist(
      assignToCentroids(all, ivfCentroids(all, centroidModulus, maxCentroids))
        .select(col("vec_id"), col("v"), col("centroid_id")))
    chainWithinCells(assigned, chainCellCap)
  }

  /** x141 — [[semanticChainOrder]] over the PERSISTED semantic index:
    * the "stored" rung of the chain-packing family (the x124 / x104
    * amortization pattern). The corpus-sized assignment was paid once
    * at ingest ([[writeSemanticIndex]] / [[appendSemanticIndex]] store
    * `centroid_id` with every vector), so the chain pays only the
    * cap-bounded Σ|cell|² pair pass plus the per-cell fold — no
    * re-derivation from raw embeddings.
    *
    * Composes with takedowns for free: members come through
    * [[liveVectors]], so a tombstoned vec_id
    * ([[deleteFromSemanticIndex]]) can never land in a packed window —
    * the chain re-threads around it on the next run (callers of the
    * in-plan variant must pre-filter by hand). Replayed append rows
    * collapse via the vec_id distinct (assignment under frozen
    * centroids is deterministic, so duplicates are byte-identical).
    * Output and determinism contract identical to
    * [[semanticChainOrder]]; same `chainCellCap` guard.
    */
  def semanticChainOrderStored(spark: SparkSession, indexDir: String,
      chainCellCap: Int = DefaultChainCellCap): DataFrame = {
    SemanticIndex.heal(spark, indexDir)
    val assigned = graft.tools.InternalCaches.persist(
      liveVectors(spark, indexDir).dropDuplicates("vec_id")
        .select(col("vec_id"), col("v"), col("centroid_id")))
    chainWithinCells(assigned, chainCellCap)
  }

  /** [[semanticChainOrderStored]] × [[semanticChainOrderKnn]] — the
    * fourth cell of the {in-plan, stored} × {exact, k-capped} matrix:
    * assignment amortized to ingest AND task heap bounded at
    * O(|cell| · k), with tombstoned vectors excluded by the same
    * [[liveVectors]] route. The gates cover both axes independently
    * (x141 pins the stored read + takedown composition, x143 pins the
    * k-capped restart rule over the identical fold), so this
    * composition carries no separate registered entry; the spec pins
    * it equal to the in-plan kNN chain on a mirror corpus.
    */
  def semanticChainOrderStoredKnn(spark: SparkSession, indexDir: String,
      maxNeighbors: Int = 8,
      chainCellCap: Int = DefaultKnnChainCellCap): DataFrame = {
    require(maxNeighbors >= 1, s"maxNeighbors must be >= 1, got $maxNeighbors")
    SemanticIndex.heal(spark, indexDir)
    val assigned = graft.tools.InternalCaches.persist(
      liveVectors(spark, indexDir).dropDuplicates("vec_id")
        .select(col("vec_id"), col("v"), col("centroid_id")))
    chainWithinCells(assigned, chainCellCap, maxNeighbors)
  }

  /** Per-cell buffer bound for the chain fold — 4096 members buffers at
    * most ~128 MiB of adjacency longs in one task (4096² × 8 B). */
  private[graft] val DefaultChainCellCap = 4096

  /** Member-count bound for the k-capped chain rungs — one shared
    * default so [[semanticChainOrderKnn]] and
    * [[semanticChainOrderStoredKnn]] cannot silently drift apart
    * (the exact rungs share [[DefaultChainCellCap]] the same way).
    * High by design: the k cap bounds list length, so the fold's heap
    * is O(cap · k) and the guard protects member COUNT, not the
    * |cell|² adjacency the exact fold buffers.
    */
  private[graft] val DefaultKnnChainCellCap = 1 << 18

  /** x143 — the MEMORY-BOUNDED chain rung: [[semanticChainOrder]] with
    * each member's candidate list capped at its `maxNeighbors` nearest
    * cell-mates (rounded-6 cosine desc, ties to lowest id — the sorted
    * fold input delivers exactly that prefix), and a deterministic
    * RESTART at the lowest-id unvisited member when the current node's
    * capped list is exhausted. This is what In-Context Pretraining
    * actually runs at corpus scale (Shi et al. 2023 §2 build an
    * approximate kNN graph and traverse greedily, restarting when
    * stuck — the exact chain's complete graph is the k = |cell| − 1
    * special case, spec-gated as bit-identical for large k); the trade
    * is a possible coherence dip at each restart seam for task memory
    * O(|cell| · k) instead of O(|cell|²) — the remedy the chain-cap
    * guard's refusal message can point hot-cell corpora at without a
    * quantizer rebuild. The pair-pass COST is still Σ|cell|² rows
    * (they stream through the fold; only k per node are retained), so
    * the cap guard here bounds member COUNT (detection memory
    * O(cap · k)) with a high default — the heap, not the CPU, was the
    * non-spillable resource. Output contract identical to
    * [[semanticChainOrder]]: (vec_id, centroid_id, chain_pos),
    * 1-based contiguous per cell across restarts.
    */
  def semanticChainOrderKnn(emb: DataFrame, centroidModulus: Int = 100,
      maxCentroids: Int = 1024, maxNeighbors: Int = 8,
      chainCellCap: Int = DefaultKnnChainCellCap): DataFrame = {
    require(maxNeighbors >= 1, s"maxNeighbors must be >= 1, got $maxNeighbors")
    val all = vecs(emb)
    val assigned = graft.tools.InternalCaches.persist(
      assignToCentroids(all, ivfCentroids(all, centroidModulus, maxCentroids))
        .select(col("vec_id"), col("v"), col("centroid_id")))
    chainWithinCells(assigned, chainCellCap, maxNeighbors)
  }

  /** The chain fold shared by [[semanticChainOrder]] (in-plan
    * assignment), [[semanticChainOrderStored]] (stored assignment),
    * and [[semanticChainOrderKnn]] (k-capped lists + restarts):
    * within-cell pair graph → greedy NN traversal per cell.
    * `assigned` must be (vec_id, v, centroid_id) with distinct vec_ids;
    * persist it — the plan reads it three times (pairs ×2, singles).
    * `maxNeighbors` = 0 keeps the complete adjacency (the exact chain);
    * > 0 retains only each node's top-k list and restarts at the
    * lowest-id unvisited member when a list exhausts.
    */
  private def chainWithinCells(assigned: DataFrame,
      chainCellCap: Int, maxNeighbors: Int = 0): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    require(chainCellCap >= 2, s"chainCellCap must be >= 2, got $chainCellCap")
    val lhs = assigned.select(col("centroid_id"), col("vec_id").as("a"),
      col("v").as("va"))
    val rhs = assigned.select(col("centroid_id"), col("vec_id").as("b"),
      col("v").as("vb"))
    // the within-cell complete pair graph (both directions — each step
    // looks outward from its current endpoint); one co-keyed self-join
    val pairs = lhs.join(rhs, Seq("centroid_id"))
      .filter(col("a") =!= col("b"))
      .select(col("centroid_id"), col("a"), col("b"),
        round(cos(col("va"), col("vb")), 6).as("cs"))
    val chained = pairs
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups($"a", $"cs".desc, $"b") { case (cell, rows) =>
        // rows arrive (a asc, cs desc, b asc): adjacency lists build in
        // candidate-preference order, and the first key IS the seed
        val adj = scala.collection.mutable.LinkedHashMap
          .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
        rows.foreach { case (_, a, b, _) =>
          val buf = adj.getOrElseUpdate(a,
            new scala.collection.mutable.ArrayBuffer[Long])
          // k-capped mode retains only the top-k prefix of each list
          // (the sorted input IS cs-desc/ties-to-id per node, so the
          // first k rows are exactly the k nearest cell-mates)
          if (maxNeighbors == 0 || buf.length < maxNeighbors) buf += b
          // exact mode: a list reaching the cap means |cell| > cap —
          // refuse while only ONE list is buffered (sorted input builds
          // lists one at a time), not after the heap holds the full
          // |cell|² graph. k-capped mode bounds MEMBER count instead
          // (lists are O(k); detection memory O(cap · k)).
          if ((maxNeighbors == 0 && buf.length >= chainCellCap) ||
              adj.size > chainCellCap)
            throw new IllegalStateException(
              s"semanticChainOrder: cell $cell exceeds chainCellCap=" +
                s"$chainCellCap members; the exact chain fold buffers the " +
                "full within-cell adjacency (|cell|^2 longs) in one task. " +
                "This occupancy is what storedSemanticOccupancy/" +
                "cellOccupancyAudit alarm on — rebuildSemanticIndex at a " +
                "wider maxCentroids, use semanticChainOrderKnn " +
                "(O(|cell|*k) memory), or raise chainCellCap if the heap " +
                "affords it.")
        }
        val visited = scala.collection.mutable.HashSet.empty[Long]
        val out = new scala.collection.mutable
          .ArrayBuffer[(Long, Long, Long)](adj.size)
        var cur = adj.keysIterator.next()
        visited += cur
        out += ((cur, cell, 1L))
        var pos = 1L
        while (visited.size < adj.size) {
          // exact mode: the pair graph is complete within the cell, so
          // an unvisited candidate always exists while any member is
          // left. k-capped mode: an exhausted list RESTARTS the chain
          // at the lowest-id unvisited member (keys iterate in
          // insertion order = ascending id — the sorted input's a-order)
          val nxt = adj(cur).find(!visited(_))
            .getOrElse(adj.keysIterator.find(!visited(_)).get)
          visited += nxt
          pos += 1L
          out += ((nxt, cell, pos))
          cur = nxt
        }
        out
      }
      .toDF("vec_id", "centroid_id", "chain_pos")
    // singleton cells produce no pair rows: they are chains of length 1
    val sizes = assigned.groupBy("centroid_id").agg(count(lit(1)).as("__n"))
    val singles = assigned.join(sizes.filter(col("__n") === 1L),
        Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"), lit(1L).as("chain_pos"))
    chained.unionByName(singles)
  }

  /** One Lloyd iteration of k-means over the embedding column — the
    * training step that produces a real IVF coarse quantizer (the
    * modulus seeding above is iteration 0). Assignment is the shared
    * sort-free quantizer; the update step computes per-centroid
    * elementwise means DETERMINISTICALLY: `posexplode` to (centroid,
    * dim, value) rows, exact DECIMAL sums per (centroid, dim) — double
    * summation order under parallelism is nondeterministic and would
    * break reproducibility (and the oracle) — then one rounded double
    * division. Long-format output (one row per centroid × dimension)
    * keeps the result SQL-comparable and sortable.
    * Scale: two shuffles total — the k=1 heap assignment and one
    * (centroid, dim)-keyed aggregate of narrow rows with map-side
    * partials; n·64 exploded rows never materialize (codegen pipelines
    * the explode into the partial aggregate).
    * Output: (centroid_id, dim, n_members, mean_val).
    */
  def kmeansStep(emb: DataFrame, centroidModulus: Int = 100): DataFrame = {
    val all = vecs(emb)
    val assigned = assignToCentroids(all, modulusCentroids(all, centroidModulus))
    assigned
      .select(col("centroid_id"), posexplode(col("v")).as(Seq("dim", "val")))
      .groupBy(col("centroid_id"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("val").cast("decimal(28,10)")).cast("double") / count(lit(1)), 6)
          .as("mean_val"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the shared
    * coarse quantizer, then compare vectors ONLY within their cluster —
    * a vector is a duplicate iff some lower-id cluster-mate has cosine
    * >= `minCos` with it. Lowest id per neighborhood survives, so the
    * keep-set is deterministic (the paper keeps a random point per
    * ε-ball; a stable tie-break is what makes the operator testable and
    * idempotent across runs).
    *
    * Scale: this is the paper's own trick for avoiding O(n²) — the
    * pairwise pass runs per cluster after ONE shuffle of (id, vector)
    * rows keyed by centroid, so cost is Σ|cluster|² ≈ n·occupancy.
    * Size `centroidModulus` so occupancy = n/k stays O(10³) at the
    * target corpus (k ≈ n/1000), exactly like the IVF bucket knob; a
    * pathologically hot centroid is bounded by occupancy², not n², and
    * AQE splits the skewed partition.
    *
    * Output: (vec_id, centroid_id, n_witnesses, max_sim, is_dup) —
    * witnesses are the lower-id cluster-mates above threshold; max_sim
    * is NULL for survivors.
    */
  def semDedup(
      emb: DataFrame,
      minCos: Double = 0.7,
      centroidModulus: Int = 100,
      cellCap: Int = DefaultCellCap): DataFrame = {
    val all = vecs(emb)
    witnessDedup(
      assignToCentroids(all, modulusCentroids(all, centroidModulus)), minCos,
      cellCap)
  }

  /** Hard per-cell bound on the witness pass. The quantizer's balance
    * assumption FAILS on the one corpus shape a deduplicator exists
    * for: a duplicate cloud `anchor + ε·p` has
    * cos(v, c) = 1 − ε²/2·|p_v⊥ − q_c⊥|², whose −|q_c⊥|²/2 term is
    * vector-independent — every cloud member prefers the centroid with
    * the smallest perturbation norm, the cloud collapses into one
    * mega-cell, and the within-cell join goes quadratic in the CLOUD,
    * not the occupancy. Measured, not argued: on the 200k hot-cloud
    * corpus the assignment put ~40k vectors in each of 4 cells
    * (`tools.CellOccupancy`), ~3·10⁹ witness pairs; at 2M that is
    * ~3·10¹¹ — the round-13 x80 recall run died on it.
    *
    * Cells above the cap sub-split by `pmod(vec_id, ceil(n/cap))`, and
    * witnesses are found within sub-cells: cost is bounded by
    * Σ min(occ, cap)·occ, and the error is ONE-SIDED — every flagged
    * dup still has a real witness (soundness unchanged); a mega-cell
    * keeps ≤ ceil(n/cap) survivors instead of exactly one (bounded
    * recall loss, deterministic, and the survivors ARE representatives
    * of the cloud). At sane occupancies the cap never binds and the
    * output is bit-identical to the uncapped form (spec-gated).
    */
  private[graft] val DefaultCellCap = 1024

  /** The within-cluster witness pass shared by both semDedup variants:
    * pairwise cosine strictly inside each cluster (sub-split past
    * `cellCap` — see [[DefaultCellCap]]), a vector is a dup iff a
    * lower-id (sub-)cluster-mate scores >= minCos.
    *
    * The assignment is registered in [[graft.tools.InternalCaches]]:
    * the plan reads it four ways (cell sizes, both join sides, the
    * verdict join-back), and before the cap landed each read re-ran
    * the full quantizer.
    */
  private def witnessDedup(assigned0: DataFrame, minCos: Double,
      cellCap: Int = DefaultCellCap): DataFrame = {
    require(cellCap >= 2, s"cellCap must be >= 2, got $cellCap")
    val assigned = graft.tools.InternalCaches.persist(assigned0)
    val sizes = assigned.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("__cn"))
    val sized = assigned.join(sizes, Seq("centroid_id"))
      .withColumn("__sub",
        pmod(col("vec_id"),
          ceil(col("__cn") / lit(cellCap.toDouble)).cast("long")))
    // explicit renames on the probe side: both join inputs descend from
    // the same `assigned` plan, and self-join attribute resolution would
    // otherwise be ambiguous
    val a = sized.select(col("centroid_id"), col("__sub"),
      col("vec_id").as("id_a"), col("v").as("va"))
    val b = sized.select(col("centroid_id").as("centroid_b"),
      col("__sub").as("__sub_b"), col("vec_id").as("id_b"), col("v").as("vb"))
    val witnesses = a.join(b,
        col("centroid_id") === col("centroid_b") &&
          col("__sub") === col("__sub_b") && col("id_a") < col("id_b"))
      .select(col("id_b").as("vec_id"),
        round(cos(col("va"), col("vb")), 6).as("c_sim"))
      .filter(col("c_sim") >= minCos)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_witnesses"), max(col("c_sim")).as("max_sim"))
    assigned.select(col("vec_id"), col("centroid_id"))
      .join(witnesses, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        coalesce(col("n_witnesses"), lit(0L)).as("n_witnesses"),
        col("max_sim"),
        col("n_witnesses").isNotNull.as("is_dup"))
  }

  /** x84 — SEMANTIC contamination screen: flag benchmark (eval-suite)
    * vectors whose embedding has a close corpus neighbor. The lexical
    * screens (x30 exact 5-grams, x65's Bloom pre-gate, x83's span
    * scalpel) catch verbatim leakage; a paraphrased eval question
    * shares no n-grams with its source and sails through all three —
    * embedding-space proximity is the published countermeasure, and
    * this is that check with the same machinery the dedup family
    * already verifies: corpus-derived modulus centroids, the shared
    * [[nearestRef]] quantizer (bit-identical rounding/tie-breaks), and
    * within-cell exact cosine.
    *
    * Semantics: centroids come from the CORPUS (the index side); both
    * sides assign to their nearest centroid; a benchmark vector is
    * `contaminated` iff some corpus vector IN ITS CELL scores
    * ≥ minCos. Cell-boundary misses are the standard IVF trade-off
    * (exactly x33's): the single-cell degenerate provably equals the
    * brute-force screen (spec-gated), and a production caller widens
    * recall by raising `centroidModulus` (fewer, larger cells) or
    * pre-collapsing the corpus with x37.
    *
    * Scale shape: two broadcast-centroid assignments (map-side + heap
    * top-1, sort-free), ONE within-cell join whose benchmark side is
    * eval-suite-sized, and a bench-keyed aggregate. No corpus×bench
    * cross join exists anywhere in the plan. The quantizer is CAPPED
    * (`maxCentroids`, the x56 discipline — fixed index structures are
    * what keep the build linear): an uncapped modulus quantizer grows
    * its centroid set with the corpus and the assignment turns
    * O(n²/modulus) — the first decade probe of this operator measured
    * exactly that (decade2 19.6× at 200k vectors) before the cap
    * landed. With the cap, assignment is O(n·maxCentroids) and the
    * within-cell join is O(|bench| · corpus/maxCentroids) — both
    * linear in the corpus at fixed bench size.
    * Output: (bench_id, n_matches, max_sim, contaminated) — one row
    * per benchmark vector, x30's shape.
    */
  def semanticScreen(
      corpus: DataFrame,
      bench: DataFrame,
      minCos: Double = 0.4,
      centroidModulus: Int = 100,
      maxCentroids: Int = 1024): DataFrame = {
    val c = vecs(corpus)
    val b = vecs(bench)
    val cents = ivfCentroids(c, centroidModulus, maxCentroids)
    val ca = assignToCentroids(c, cents)
      .select(col("centroid_id").as("cc"),
        col("vec_id").as("corpus_id"), col("v").as("cv2"))
    val ba = assignToCentroids(b, cents)
    val matches = ba
      .select(col("centroid_id"), col("vec_id").as("bench_id"), col("v").as("bv"))
      .join(ca, col("centroid_id") === col("cc"))
      .select(col("bench_id"),
        round(cos(col("bv"), col("cv2")), 6).as("c_sim"))
      .filter(col("c_sim") >= minCos)
      .groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_matches"), max(col("c_sim")).as("max_sim"))
    b.select(col("vec_id").as("bench_id")).join(matches, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("max_sim"),
        col("n_matches").isNotNull.as("contaminated"))
  }

  /** x90 index half — persist the corpus's semantic-screen index: the
    * capped centroids plus every corpus vector laid out
    * `partitionBy(centroid_id)` (one directory per cell, the x59
    * layout), so a screen probing Q cells reads ~Q/#cells of the
    * vector files via a literal partition filter. Built once at
    * ingest; the nightly screen ([[semanticScreenIndex]]) never
    * re-assigns the corpus.
    *
    * STALE-CENTROID HAZARD (round-12 advisory, documented by design):
    * the stored centroids are frozen at build time, so a corpus that
    * drifts after appends degrades the screen's pruning — new-regime
    * vectors pile into whatever old cell is nearest, occupancy skews,
    * and the probed-cell read grows. The screen stays CORRECT (every
    * vector is in exactly one stored cell and the bench probes the
    * cell it assigns to under the same frozen centroids — both sides
    * use the index's own geometry), but the performance contract
    * erodes. The detector is x67's retrain monitor
    * ([[retrainMonitor]] / [[retrainMonitorPerBatch]] over the stored
    * assignment vs a fresh one): run it on the append cadence and
    * rebuild the index when it trips, exactly as the x67→x72
    * lifecycle does for the ANN index.
    */
  def writeSemanticIndex(
      corpus: DataFrame,
      indexDir: String,
      centroidModulus: Int = 100,
      maxCentroids: Int = 1024): Unit = {
    val c = vecs(corpus)
    val cents = ivfCentroids(c, centroidModulus, maxCentroids)
    // the three materializations are independent (the vectors plan
    // consumes `cents` as its own broadcast aggregate), so they overlap
    // from a driver pool (guide §2.6) — the tiny centroid write and the
    // eligibility count back-fill the partitioned vectors write's tail
    graft.tools.DriverPool.awaitAll(Seq(
      () => assignToCentroids(c, cents)
        .select(col("vec_id"), col("v"), col("centroid_id"))
        .transform(IndexFs.keyPartitioned(_, col("centroid_id"), maxCentroids.toLong))
        .write.mode("overwrite").partitionBy("centroid_id")
        .parquet(s"$indexDir/vectors"),
      () => cents.write.mode("overwrite").parquet(s"$indexDir/centroids"),
      () => writeQuantizerStamp(corpus.sparkSession, indexDir, centroidModulus,
        maxCentroids,
        c.filter(col("vec_id") % centroidModulus === 0).count())))
    invalidateCentroidCount(corpus.sparkSession, indexDir)
  }

  /** The index's quantizer parameters, stamped at build/rebuild so the
    * drift alarm audits against the REAL cap, not whatever default the
    * monitoring job happens to pass (the deployment-false trap the
    * round-15 dense-id bug lived in). Control-plane small file; absent
    * on pre-stamp indexes, where [[storedSemanticOccupancy]] falls
    * back to its arguments.
    */
  private def writeQuantizerStamp(spark: SparkSession, indexDir: String,
      centroidModulus: Long, maxCentroids: Long, eligible: Long): Unit =
    IndexFs.writeSmall(spark, s"$indexDir/_quantizer",
      s"modulus=$centroidModulus\ncap=$maxCentroids\neligible=$eligible")

  private[graft] def readStampMap(spark: SparkSession,
      stampPath: String): Map[String, Long] =
    IndexFs.readSmall(spark, stampPath).map { s =>
      s.linesIterator.flatMap { ln =>
        ln.split("=", 2) match {
          case Array(k, v) => v.toLongOption.map(k.trim -> _)
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)

  private def readQuantizerStamp(spark: SparkSession,
      indexDir: String): Option[(Long, Long)] = {
    val kv = readStampMap(spark, s"$indexDir/_quantizer")
    for (m <- kv.get("modulus"); c <- kv.get("cap")) yield (m, c)
  }

  /** Ingest-time cap-bind probe (the round-16 verdict's item 6):
    * `Some(eligible > cap)` from the stamp's append-maintained running
    * eligibility total — detection at the moment eligibility grows,
    * without a layout scan; `None` on pre-upgrade stamps (no
    * `eligible` field — run [[storedSemanticOccupancy]] or rebuild to
    * mint one). ADVISORY by contract: exact under the exactly-once
    * append discipline ([[appendSemanticIndexOnce]]); an append-crash
    * window undercounts, as does a concurrent-append stamp race (the
    * read-modify-write is single-writer by contract — a lost increment
    * means the alarm fires LATE, and only the scan audit catches it);
    * takedowns never decrement it (conservative — after heavy deletes
    * THAT direction fires early). The occupancy scan is the audit of
    * record, and every rebuild recomputes the total exactly over the
    * live corpus.
    */
  def semanticIngestCapBind(spark: SparkSession,
      indexDir: String): Option[Boolean] = {
    val kv = readStampMap(spark, s"$indexDir/_quantizer")
    for (e <- kv.get("eligible"); c <- kv.get("cap")) yield e > c
  }

  /** Retrain-and-migrate for the frozen-centroid hazard — the wired
    * response to x67's alarm that the round-13 verdict noted was
    * missing: re-derive the centroid set from the LIVE vector corpus
    * (build + every append, replay-duplicates collapsed — the same
    * deterministic [[ivfCentroids]] rule as the build, now over ids
    * the appends contributed), re-assign every vector under the new
    * geometry, and swap the WHOLE index directory tmp → old → live.
    *
    * One swap, not two: vectors and centroids must change together —
    * a screen that probed new-geometry cell ids against an
    * old-geometry `partitionBy` layout (or vice versa) would read the
    * wrong cells, a correctness break, not a pruning loss. Swapping
    * `indexDir` as a unit ([[StoredIndex.rebuild]]) makes the only
    * no-live window the single window every lifecycle entry already
    * heals. The batch markers move into the new directory
    * BEFORE the swap so post-rebuild redeliveries still skip; a crash
    * between the marker move and the swap degrades that one batch to
    * at-least-once, which [[compactSemanticIndex]]'s vec_id
    * distinct-rewrite repairs (the documented crash-window contract).
    *
    * Cost: one corpus scan for the retrain filter + the corpus-sized
    * assignment — the same bill as the original build, paid only when
    * the drift monitor trips (the appends it replaces are each
    * batch-sized; see HEADROOM's rebuild-vs-append pricing).
    */
  def rebuildSemanticIndex(spark: SparkSession, indexDir: String,
      centroidModulus: Int = 100, maxCentroids: Int = 1024): Unit = {
    // the rebuild releases every internal cache reading this index: the
    // bench-assignment a screen memoizes reads the centroid table, and
    // a stale one would assign under the old geometry while probing
    // the new layout — silently wrong, not just slow
    SemanticIndex.rebuild(spark, indexDir) { tmp =>
      // local persist, not the memoized registry: the frame reads the
      // very directory the swap replaces. Tombstoned vec_ids are OUT of
      // the live set — the retrain must not learn geometry from taken-
      // down vectors, and the rebuilt index removes them physically.
      val v = liveVectors(spark, indexDir)
        .dropDuplicates("vec_id").select(col("vec_id"), col("v")).persist()
      val cents = ivfCentroids(v, centroidModulus, maxCentroids)
      // both writes complete BEFORE any mutation of the live directory
      assignToCentroids(v, cents)
        .select(col("vec_id"), col("v"), col("centroid_id"))
        .transform(IndexFs.keyPartitioned(_, col("centroid_id"), maxCentroids.toLong))
        .write.mode("overwrite").partitionBy("centroid_id")
        .parquet(s"$tmp/vectors")
      cents.write.mode("overwrite").parquet(s"$tmp/centroids")
      // the rebuild recomputes the eligibility total EXACTLY over the
      // live retrained corpus — the append-maintained running count
      // (advisory, see [[semanticIngestCapBind]]) resets here
      writeQuantizerStamp(spark, tmp, centroidModulus, maxCentroids,
        v.filter(col("vec_id") % centroidModulus === 0).count())
      v.unpersist(blocking = false)
    }
    invalidateCentroidCount(spark, indexDir)
  }

  /** Occupancy audit of the STORED semantic index — x113's balance
    * check read from the index's own `partitionBy(centroid_id)` layout
    * instead of a fresh assignment: one scan of the partition column
    * (and vec_id for the replay-collapse), nothing pairwise. This is
    * the drift detector's cheap half on the append cadence: appends
    * under frozen centroids pile new-regime vectors into whatever old
    * cell is nearest, `max_occupancy` climbs, and when
    * `cells_over_cap > 0` the probed-cell read has outgrown the cap —
    * run [[rebuildSemanticIndex]] to retrain.
    *
    * The round-15 recall decomposition added the alarm's second half:
    * `eligible_seeds` counts the LIVE vectors matching the seeding
    * rule (vec_id % modulus == 0), and `cap_bound` fires when that
    * count exceeds the centroid cap — the rank cut in [[ivfCentroids]]
    * is then binding, which was measured as the dominant recall-loss
    * mode of the capped miners at 100× (~10 of 14 points; 0.862 →
    * 0.9646 when every eligible seed becomes a centroid) and which
    * widening nprobe CANNOT reclaim (saturates at 0.867). On the
    * TIGHT-CELL MoG fixture the stakes are larger, not smaller:
    * recall at the binding 100× drops to 0.618 at nprobe=2, the cap
    * fix alone reclaims +24.7 points (→ 0.865), and nprobe no longer
    * saturates (0.550 → 0.824 across 1–8) — under realistic density
    * both remedies matter and the cap is the single biggest lever
    * (HEADROOM round 18). The remedy fork: [[rebuildSemanticIndex]]
    * at a wider `maxCentroids` reclaims the loss at the price of a
    * proportionally larger assignment term; leaving the cap accepts
    * the measured loss (document it, don't rediscover it). The modulus/cap audited against are the index's
    * own `_quantizer` stamp (written at build/rebuild); the arguments
    * are the fallback for pre-stamp indexes. One extra per-row
    * conditional on ids the occupancy scan already reads — no new
    * pass. Output (one row): n_cells, max_occupancy, cells_over_cap,
    * vectors_over_cap, eligible_seeds, cap_bound.
    */
  def storedSemanticOccupancy(spark: SparkSession, indexDir: String,
      cellCap: Int = DefaultCellCap,
      centroidModulus: Int = 100,
      maxCentroids: Int = 1024): DataFrame = {
    SemanticIndex.heal(spark, indexDir)
    val (mod, cap) = readQuantizerStamp(spark, indexDir)
      .getOrElse((centroidModulus.toLong, maxCentroids.toLong))
    liveVectors(spark, indexDir)
      .dropDuplicates("vec_id")
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("vec_id") % mod === 0, 1L)), lit(0L))
          .as("__elig"))
      .agg(count(lit(1)).as("n_cells"),
        max(col("n")).as("max_occupancy"),
        coalesce(sum(when(col("n") > cellCap, 1L)), lit(0L))
          .as("cells_over_cap"),
        coalesce(sum(when(col("n") > cellCap, col("n"))), lit(0L))
          .as("vectors_over_cap"),
        coalesce(sum(col("__elig")), lit(0L)).as("eligible_seeds"))
      .withColumn("cap_bound", col("eligible_seeds") > lit(cap))
  }

  /** x139 — the cap-bind remedy as ONE guarded maintenance verb: read
    * the audit ([[storedSemanticOccupancy]]), and when `cap_bound`
    * fires, retrain via the existing safe rebuild
    * ([[rebuildSemanticIndex]] — whole-directory swap, tombstones
    * excluded from the retrain) at a widened centroid cap, then
    * re-audit. This closes the loop round 16 left open: a deployment
    * crons ONE call instead of hand-composing
    * read-alarm → choose-cap → rebuild → re-audit.
    *
    * The widened cap is `max(cap × widenFactor, eligible_seeds)` — the
    * round-15 recall decomposition showed the loss mode is the rank cut
    * binding on eligible seeds (0.862 → 0.9646 when every eligible seed
    * becomes a centroid, and nprobe CANNOT reclaim it), so the remedy
    * that actually clears the alarm is a cap that covers eligibility;
    * `widenFactor` is the minimum growth when eligibility is close to
    * the old cap. By construction the post-retrain audit's `cap_bound`
    * is false — spec- and oracle-gated, not asserted.
    *
    * `dryRun` returns the decision without acting (the audit rows +
    * the cap a retrain would stamp). When the alarm is not firing the
    * verb is a no-op and `new_cap` reports the CURRENT cap. Output
    * (two rows, phases `before`/`after`; after == before when nothing
    * acted): phase, n_cells, max_occupancy, cells_over_cap,
    * vectors_over_cap, eligible_seeds, cap_bound, acted, new_cap.
    *
    * Cost: one audit scan when the alarm is quiet; alarm firing pays
    * the rebuild (the original build's bill — that is the point) plus
    * a second audit scan. The audit rows are collected eagerly (one
    * row each — control-plane): a lazy `before` plan would re-read the
    * SWAPPED directory after the rebuild (the x116
    * materialize-before-swap lesson).
    */
  def retrainSemanticIfCapBound(spark: SparkSession, indexDir: String,
      widenFactor: Int = 2, dryRun: Boolean = false): DataFrame = {
    require(widenFactor >= 1, s"widenFactor must be >= 1, got $widenFactor")
    import spark.implicits._
    val before = storedSemanticOccupancy(spark, indexDir).head()
    val (mod, cap) = readQuantizerStamp(spark, indexDir)
      .getOrElse((100L, 1024L))
    val eligible = before.getAs[Long]("eligible_seeds")
    val bound = before.getAs[Boolean]("cap_bound")
    // clamp where the decision is made, not at the call site: the
    // rebuild takes an Int, so the ACTED cap is the clamped one and
    // the reported/stamped new_cap must match it (an unclamped report
    // would diverge from the stamp beyond 2^31 eligibility)
    val newCap =
      if (bound) math.min(math.max(cap * widenFactor, eligible),
        Int.MaxValue.toLong)
      else cap
    val acted = bound && !dryRun
    if (acted)
      rebuildSemanticIndex(spark, indexDir, mod.toInt, newCap.toInt)
    val after =
      if (acted) storedSemanticOccupancy(spark, indexDir).head() else before
    def row(phase: String, r: org.apache.spark.sql.Row) =
      (phase, r.getAs[Long]("n_cells"), r.getAs[Long]("max_occupancy"),
        r.getAs[Long]("cells_over_cap"), r.getAs[Long]("vectors_over_cap"),
        r.getAs[Long]("eligible_seeds"), r.getAs[Boolean]("cap_bound"),
        acted, newCap)
    Seq(row("before", before), row("after", after))
      .toDF("phase", "n_cells", "max_occupancy", "cells_over_cap",
        "vectors_over_cap", "eligible_seeds", "cap_bound", "acted",
        "new_cap")
  }

  /** x90 screen half — [[semanticScreen]] against the PERSISTED index:
    * benchmark vectors assign against the stored centroids, the probed
    * cell ids are collected (control-plane — ≤ |bench| longs) into a
    * LITERAL partition filter on the vectors table, and the
    * within-cell exact-cosine pass runs over only the probed
    * directories. Results are bit-identical to the in-plan
    * [[semanticScreen]] at the same parameters (the registered x90
    * oracle IS x84's SQL, so the storage round-trip is hash-enforced
    * every round); the cost model is x59's — the corpus-sized
    * assignment is paid once at ingest, the screen pays
    * O(|bench| · occupancy) plus the pruned read.
    */
  def semanticScreenIndex(
      bench: DataFrame,
      indexDir: String,
      minCos: Double = 0.4): DataFrame = {
    val spark = bench.sparkSession
    // a reader after a mid-swap compactor crash self-heals (one rename)
    SemanticIndex.heal(spark, indexDir)
    val cents = spark.read.parquet(s"$indexDir/centroids")
    val b = vecs(bench)
    val ba = graft.tools.InternalCaches.persist(assignToCentroids(b, cents))
    val probedIds = ba.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val cells = liveVectors(spark, indexDir)
      .filter(col("centroid_id").isin(probedIds: _*))
      .select(col("centroid_id").as("cc"),
        col("vec_id").as("corpus_id"), col("v").as("cv2"))
    val matches = ba
      .select(col("centroid_id"), col("vec_id").as("bench_id"), col("v").as("bv"))
      .join(cells, col("centroid_id") === col("cc"))
      .select(col("bench_id"),
        round(cos(col("bv"), col("cv2")), 6).as("c_sim"))
      .filter(col("c_sim") >= minCos)
      .groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_matches"), max(col("c_sim")).as("max_sim"))
    b.select(col("vec_id").as("bench_id")).join(matches, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("max_sim"),
        col("n_matches").isNotNull.as("contaminated"))
  }

  /** Append a vector batch into the stored semantic index under its
    * FROZEN centroids — the lifecycle piece x90 documented as the
    * stale-centroid hazard and round 13 makes real: batch vectors
    * assign against the STORED centroid set (never re-learned — the
    * x104 frozen-hot contract at the vector grain) and land in the
    * `partitionBy(centroid_id)` layout as one file per touched cell.
    * Cost = one batch scan + the broadcast-centroid assignment,
    * independent of index size. Drift erodes PRUNING, not correctness
    * (x90's documented contract); x67's retrain monitor is the
    * detector, [[rebuildSemanticIndex]] the remedy. `maxFilesPerCell`
    * (0 disables) triggers [[compactSemanticIndex]] inline when the
    * busiest cell exceeds the threshold; the trigger's centroid count
    * is memoized per (app, indexDir) — the centroid set is frozen
    * between rebuilds, so one parquet-footer count serves every append
    * on the streaming cadence (the gram index's sidecar-cache
    * discipline; the build/rebuild invalidate).
    *
    * SINGLE-WRITER, explicitly including the `_quantizer` stamp: the
    * ingest-time eligibility total is a non-atomic read-modify-write,
    * so two appends racing it can lose an increment (the alarm would
    * then fire late). Serialize appends like every stateful verb here;
    * the occupancy scan remains the audit of record and every rebuild
    * recomputes the total exactly.
    */
  def appendSemanticIndex(batch: DataFrame, indexDir: String,
      maxFilesPerCell: Int = 64): Unit = {
    val spark = batch.sparkSession
    // heal a crashed compaction swap BEFORE appending (an append into a
    // missing live dir would fork the index away from the .compact copy)
    SemanticIndex.heal(spark, indexDir)
    val cents = spark.read.parquet(s"$indexDir/centroids")
    // persisted because the eligibility probe below re-reads it: the
    // stamp must count the frame ACTUALLY appended (post-assignment —
    // rows the quantizer drops never land, so counting the raw batch
    // would overcount), and re-deriving the assignment for one count
    // would double the append's compute
    val appended = assignToCentroids(vecs(batch), cents)
      .select(col("vec_id"), col("v"), col("centroid_id")).persist()
    appended
      .repartition(1)
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$indexDir/vectors")
    // ingest-time cap-bind check (round 17, the verdict's item 6):
    // maintain the stamp's eligibility RUNNING TOTAL — one batch-sized
    // aggregate per append — so the bind is detected at the moment
    // eligibility grows, not when a monitoring job next scans the
    // layout. Data before stamp (a crash between undercounts — the
    // advisory direction; [[semanticIngestCapBind]] documents the
    // contract, the occupancy scan stays the audit of record). The
    // update is a non-atomic read-modify-write of the stamp:
    // CONCURRENT appends can lose an increment (undercount — the alarm
    // would fire LATE), which is why the stamp shares the append
    // path's single-writer contract rather than merely its
    // exactly-once one; the next rebuild recomputes the total exactly.
    // Silent no-op on pre-upgrade stamps without the field.
    locally {
      val kv = readStampMap(spark, s"$indexDir/_quantizer")
      for (mod <- kv.get("modulus"); cap <- kv.get("cap");
           old <- kv.get("eligible")) {
        // distinct ids: a duplicate batch row lands twice physically
        // but collapses at the next compaction's vec_id rewrite, so
        // counting occurrences would inflate eligibility forever
        val total = old + appended.filter(col("vec_id") % mod === 0)
          .select("vec_id").distinct().count()
        writeQuantizerStamp(spark, indexDir, mod, cap, total)
        if (total > cap)
          System.err.println(s"[graft] appendSemanticIndex($indexDir): " +
            s"eligible seeds $total exceed the stamped centroid cap $cap " +
            "— the next retrain's rank cut binds (recall loss nprobe " +
            "cannot reclaim). Remedy: retrainSemanticIfCapBound / " +
            "rebuildSemanticIndex at a wider cap.")
      }
    }
    appended.unpersist(blocking = false)
    SemanticIndex.compactIfOver(spark, indexDir, maxFilesPerCell,
      cachedCentroidCount(spark, indexDir, cents))(
      compactSemanticIndex(spark, indexDir))
  }

  /** Centroid count per (application, indexDir), computed once: frozen
    * between rebuilds by the lifecycle contract, so appends reuse it.
    */
  private val centroidCountCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  private def cachedCentroidCount(spark: SparkSession, indexDir: String,
      cents: DataFrame): Long =
    centroidCountCache.computeIfAbsent(
      (spark.sparkContext.applicationId, indexDir), _ => cents.count())

  private[graft] def invalidateCentroidCount(spark: SparkSession,
      indexDir: String): Unit =
    centroidCountCache.remove((spark.sparkContext.applicationId, indexDir))

  /** [[appendSemanticIndex]] under an at-least-once delivery contract
    * (the x115 streaming gate): duplicated vector rows INFLATE the
    * screen's n_matches (the x104/x114 rationale at the vector grain),
    * so each append commits a per-batch marker and a redelivered batch
    * skips. Marker AFTER data (marker-first would lose the batch); the
    * crash window's double-append is repaired by
    * [[compactSemanticIndex]]'s distinct rewrite. Marker I/O goes
    * through [[graft.ext.IndexFs]] (the Hadoop API), so the
    * exactly-once contract holds on hdfs/s3a index dirs, not just
    * local disk. Returns whether the append ran.
    */
  def appendSemanticIndexOnce(batch: DataFrame, indexDir: String,
      batchId: Long, maxFilesPerCell: Int = 64): Boolean =
    SemanticIndex.once(batch.sparkSession, indexDir, batchId)(
      appendSemanticIndex(batch, indexDir, maxFilesPerCell))

  /** Offline maintenance for the semantic index: deduplicate `vectors`
    * by vec_id (assignment under the frozen centroids is deterministic,
    * so replayed rows are byte-identical and any one survives), rewrite
    * the partitioned layout, and swap tmp → old → live so a crash at
    * any point leaves a readable index ([[StoredIndex.compact]]:
    * tombstones apply durably and clear after the swap).
    * Single-writer per the lifecycle convention. Centroids are left as
    * built — refreshing them is a REBUILD ([[rebuildSemanticIndex]]),
    * not a compaction.
    */
  def compactSemanticIndex(spark: SparkSession, indexDir: String): Unit =
    SemanticIndex.compact(spark, indexDir) { to =>
      val v = liveVectors(spark, indexDir)
        .dropDuplicates("vec_id").persist()
      v.transform(IndexFs.keyPartitioned(_, col("centroid_id"),
        readQuantizerStamp(spark, indexDir).map(_._2).getOrElse(1024L)))
        .write.mode("overwrite").partitionBy("centroid_id")
        .parquet(to("vectors"))
      v.unpersist(blocking = false)
    }

  /** [[semDedup]] with a TWO-LEVEL quantizer — the assignment scale
    * path. The flat quantizer scores every vector against every
    * centroid: with occupancy held constant (k = n/occ, the SemDeDup
    * sizing rule) that is O(n²/occ) — the 10× probe measured it 13–16×
    * (HEADROOM.md). Here centroids are first assigned to
    * `superFactor`-times-sparser super-centroids, and each vector is
    * scored only against its super-cell's centroids: O(n·(k₁ + k/k₁))
    * — with k₁ ≈ √k the classic √n speedup, and every stage stays a
    * broadcast join + the sort-free heap top-1.
    *
    * The result is an APPROXIMATE nearest-centroid assignment (exact
    * within the probed super-cells; a vector near a cell boundary may
    * land in the second-best cluster — the standard IVF trade-off).
    * `nprobe` is the standard recovery knob: each vector considers the
    * centroids of its `nprobe` nearest super-cells instead of only the
    * best one, at cost O(n·(k₁ + nprobe·k/k₁)) — still a broadcast
    * join + heap top-1, no new shuffle. nprobe=1 is the pure
    * hierarchical assignment; nprobe=k₁ degenerates to the exact flat
    * assignment, so on a boundary fixture nprobe=2 provably recovers
    * dup verdicts the single-probe pass misses (see CurationOpsSpec).
    *
    * The default is nprobe=2, set by measurement, not convention
    * ([[graft.tools.NprobeRecall]] on the sf0.1 corpus, x33/x37
    * parameters): nprobe=1 recovers only 18/28 of the flat quantizer's
    * dup verdicts (recall 0.64); nprobe=2 recovers 28/28 with 100%
    * verdict agreement at 2× the candidate rows (20k → 40k), and the
    * 10× probe times the two within noise of each other (HEADROOM
    * round 7: 2.59× vs 3.09× scale ratio). The witness pass and output
    * contract are identical to [[semDedup]]; the x37 oracle mirrors the
    * 2-probe assignment.
    */
  // Shared quantizer defaults: semDedupHierarchical (the production
  // path) and hierCandidates (the NprobeRecall diagnostic that
  // calibrates it) MUST agree, or the published recall numbers would
  // describe a different quantizer than the one that ships.
  private[graft] val DefaultCentroidModulus = 100
  private[graft] val DefaultSuperFactor = 16
  private[graft] val DefaultNprobe = 2

  def semDedupHierarchical(
      emb: DataFrame,
      minCos: Double = 0.7,
      centroidModulus: Int = DefaultCentroidModulus,
      superFactor: Int = DefaultSuperFactor,
      nprobe: Int = DefaultNprobe,
      cellCap: Int = DefaultCellCap): DataFrame = {
    val assigned = topKByCos(
      hierCandidates(emb, centroidModulus, superFactor, nprobe),
      Seq("vec_id"), "v", "centroid_id", "cv")
    witnessDedup(assigned, minCos, cellCap)
  }

  /** x112 — iterated capped SemDeDup: run [[semDedupHierarchical]] a
    * fixed number of passes, each pass re-clustering only the previous
    * pass's survivors. Why iterate: [[DefaultCellCap]] bounds the
    * witness pass by keeping ≤ ceil(n/cap) survivors per mega-cell —
    * ε-tied representatives of the same duplicate cloud. Pass k+1
    * re-clusters the survivor corpus, the per-cloud survivor groups
    * now fit inside the cap (391 ≪ 1024 at the 2M probe), and each
    * collapses to ONE representative by the ordinary witness rule —
    * so the composition converges to the uncapped keep-set while every
    * individual pass stays linear. Measured in HEADROOM round 13: the
    * 2M hot-cloud corpus goes 2M → 54k → 26k (per-cloud singletons),
    * the rep-grain ε-ties disappear, and the hot query's own
    * representative is retrieved top-1 at every probe width. The
    * honest fine print (also measured): a singleton rep has no
    * density around it, so its coarse-cell assignment is arbitrary
    * relative to the query's — post-convergence indexes want a wider
    * nprobe (that loss RECOVERS with probes, the pruning signature,
    * where the pre-convergence tie loss was nprobe-flat).
    *
    * Fixed `passes` (default 2) keeps the operator deterministic and
    * oracle-expressible (the registered x112 oracle instantiates the
    * verified hierarchical CTE stack once per pass); production
    * callers that want the fixed point use [[semDedupConverged]].
    *
    * Output: (vec_id, pass_dropped, n_witnesses, max_sim, is_dup) —
    * pass_dropped = 0 for survivors; n_witnesses/max_sim come from the
    * pass that dropped the vector.
    */
  def semDedupPasses(
      emb: DataFrame,
      minCos: Double = 0.7,
      passes: Int = 2,
      centroidModulus: Int = DefaultCentroidModulus,
      superFactor: Int = DefaultSuperFactor,
      nprobe: Int = DefaultNprobe,
      cellCap: Int = DefaultCellCap): DataFrame = {
    require(passes >= 1, s"passes must be >= 1, got $passes")
    var current = emb
    var dropped: Option[DataFrame] = None
    for (p <- 1 to passes) {
      val dd = semDedupHierarchical(current, minCos, centroidModulus,
        superFactor, nprobe, cellCap)
      val d = dd.filter(col("is_dup"))
        .select(col("vec_id"), lit(p.toLong).as("pass_dropped"),
          col("n_witnesses"), col("max_sim"))
      dropped = Some(dropped.fold(d)(_.unionByName(d)))
      current = current.join(
        dd.filter(!col("is_dup")).select("vec_id"), Seq("vec_id"))
    }
    vecs(emb).select(col("vec_id"))
      .join(dropped.get, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("pass_dropped"), lit(0L)).as("pass_dropped"),
        coalesce(col("n_witnesses"), lit(0L)).as("n_witnesses"),
        col("max_sim"),
        col("pass_dropped").isNotNull.as("is_dup"))
  }

  /** [[semDedupPasses]] run to the fixed point: passes apply until one
    * drops nothing (each pass's emptiness probe is a driver-side
    * action — control-plane, one per pass, the same convention as the
    * conversion cascade). Incremental on purpose: ONE hierarchical
    * dedup executes per pass, its frame persisted so the emptiness
    * probe, the next pass's survivor join, and the final assembly all
    * read the same materialization — the naive form (re-invoke
    * [[semDedupPasses]] per probe, then once more for the result) runs
    * O(maxPasses²) dedups for a p-pass answer, the round-13 advisory.
    * The assembled result is plan-for-plan the frame
    * `semDedupPasses(emb, …, passesRun)` builds (same drops, same
    * left-join tail), so the two stay oracle-interchangeable.
    * Returns (result, passesRun); `maxPasses` bounds the loop;
    * convergence is typically 2 (the cap only binds on mega-cells, and
    * their survivor groups fit the cap next pass).
    */
  def semDedupConverged(
      emb: DataFrame,
      minCos: Double = 0.7,
      maxPasses: Int = 8,
      centroidModulus: Int = DefaultCentroidModulus,
      superFactor: Int = DefaultSuperFactor,
      nprobe: Int = DefaultNprobe,
      cellCap: Int = DefaultCellCap): (DataFrame, Int) = {
    var current = emb
    var dropped: Option[DataFrame] = None
    var p = 0
    var done = false
    while (!done && p < maxPasses) {
      p += 1
      val dd = graft.tools.InternalCaches.persist(semDedupHierarchical(
        current, minCos, centroidModulus, superFactor, nprobe, cellCap))
      val d = dd.filter(col("is_dup"))
        .select(col("vec_id"), lit(p.toLong).as("pass_dropped"),
          col("n_witnesses"), col("max_sim"))
      dropped = Some(dropped.fold(d)(_.unionByName(d)))
      if (d.limit(1).isEmpty) done = true
      else current = current.join(
        dd.filter(!col("is_dup")).select("vec_id"), Seq("vec_id"))
    }
    val result = vecs(emb).select(col("vec_id"))
      .join(dropped.get, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("pass_dropped"), lit(0L)).as("pass_dropped"),
        coalesce(col("n_witnesses"), lit(0L)).as("n_witnesses"),
        col("max_sim"),
        col("pass_dropped").isNotNull.as("is_dup"))
    (result, p)
  }

  /** Per-cell occupancy of the hierarchical assignment — the
    * [[graft.tools.CellOccupancy]] diagnostic's data half. Output:
    * (centroid_id, n).
    */
  private[graft] def assignmentOccupancy(
      emb: DataFrame,
      centroidModulus: Int = DefaultCentroidModulus,
      superFactor: Int = DefaultSuperFactor,
      nprobe: Int = DefaultNprobe): DataFrame =
    topKByCos(hierCandidates(emb, centroidModulus, superFactor, nprobe),
        Seq("vec_id"), "v", "centroid_id", "cv")
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n"),
        // seeding-rule members per cell, summed downstream into the
        // cap-bind alarm — a conditional on ids this pass already
        // scans, not a second corpus read
        coalesce(sum(when(col("vec_id") % centroidModulus === 0, 1L)),
          lit(0L)).as("elig"))

  /** x113 — quantizer balance audit: the pre-flight that detects
    * dup-cloud collapse BEFORE a semantic operator pays for it. The
    * round-13 lesson (HEADROOM): a duplicate cloud collapses the
    * nearest-centroid assignment into one mega-cell, and any
    * within-cell pass (the semDedup witness, the per-cell screens)
    * turns quadratic in the cloud. This is the one-scan detector —
    * run it at ingest; `cells_over_cap > 0` means run [[semDedupPasses]]
    * (the cap bounds the damage) and widen nprobe on the cell's
    * queries. Cost: the shared assignment (memoized) + one
    * centroid-keyed count — nothing pairwise anywhere.
    *
    * `eligible_seeds`/`cap_bound` are the round-15 recall
    * decomposition wired into the audit (the
    * [[storedSemanticOccupancy]] Scaladoc has the measurements and
    * the remedy fork): when the corpus's seeding-rule members exceed
    * `maxCentroids`, every CAPPED consumer of this quantizer family
    * ([[ivfCentroids]]' rank cut — the stored index, the IVF/stored/PQ
    * miners) is operating under a binding cap, losing recall that
    * nprobe cannot reclaim — rebuild at a wider cap or accept the
    * measured loss. The hierarchical audit itself is uncapped; the
    * column exists so the ingest pre-flight alarms for the capped
    * family without a second scan.
    *
    * Output (one row): n_cells, max_occupancy, cells_over_cap,
    * vectors_over_cap, eligible_seeds, cap_bound.
    */
  def cellOccupancyAudit(
      emb: DataFrame,
      centroidModulus: Int = DefaultCentroidModulus,
      superFactor: Int = DefaultSuperFactor,
      nprobe: Int = DefaultNprobe,
      cellCap: Int = DefaultCellCap,
      maxCentroids: Int = 1024): DataFrame =
    assignmentOccupancy(emb, centroidModulus, superFactor, nprobe)
      .agg(count(lit(1)).as("n_cells"),
        max(col("n")).as("max_occupancy"),
        coalesce(sum(when(col("n") > cellCap, 1L)), lit(0L))
          .as("cells_over_cap"),
        coalesce(sum(when(col("n") > cellCap, col("n"))), lit(0L))
          .as("vectors_over_cap"),
        coalesce(sum(col("elig")), lit(0L)).as("eligible_seeds"))
      .withColumn("cap_bound", col("eligible_seeds") > lit(maxCentroids.toLong))

  /** The (vector, centroid) candidate frame the hierarchical assignment
    * scores — the top-1 over it is the assignment. Factored out so the
    * nprobe diagnostics ([[graft.tools.NprobeRecall]]) can count the
    * candidate rows (the assignment's cost driver) without duplicating
    * the quantizer logic.
    */
  private[graft] def hierCandidates(
      emb: DataFrame,
      centroidModulus: Int = DefaultCentroidModulus,
      superFactor: Int = DefaultSuperFactor,
      nprobe: Int = DefaultNprobe): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val all = vecs(emb)
    val superMod = centroidModulus.toLong * superFactor
    val centroids = modulusCentroids(all, centroidModulus)
    val supers = all.filter(col("vec_id") % superMod === 0)
      .select(col("vec_id").as("super_id"), col("v").as("sv"))
    // Every super-centroid is itself a centroid; pin it to ITS OWN cell
    // rather than trusting the cosine assignment. Without this, two
    // near-identical supers can tie at rounded cos 1.000000 and the
    // tie-break strands the higher-id super's cell with zero centroids —
    // any vector whose rounded similarity still prefers that cell would
    // then vanish at the cell join, violating the one-verdict-per-vector
    // contract.
    val centToSuper = nearestRef(centroids, Seq("centroid_id"), "cv", supers,
        "super_id", "sv")
      .withColumn("super_id",
        when(col("centroid_id") % superMod === 0, col("centroid_id"))
          .otherwise(col("super_id")))
    // nprobe nearest super-cells per vector; each centroid belongs to
    // exactly ONE cell (centToSuper is a top-1 assignment), so the
    // candidate set below is duplicate-free and the top-1 over it is
    // exact within the probed cells.
    val vecToSuper = nearestRef(all, Seq("vec_id"), "v", supers, "super_id", "sv",
      k = nprobe)
    vecToSuper.join(broadcast(centToSuper), Seq("super_id"))
  }

  /** IVF-style ANN: coarse centroids are the vectors with
    * vec_id % centroidModulus == 0; every vector is assigned to its
    * nearest centroid (cosine, ties to lowest centroid id); each query
    * probes its `nprobe` nearest centroids and takes top-k within the
    * probed clusters.
    * Output: (query_id, rank, neighbor_id, cos_sim).
    */
  def ivfTopK(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int = 5,
      nprobe: Int = 2,
      centroidModulus: Int = 100): DataFrame = {
    val all = vecs(emb)
    val queries = all.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    rankTopK(
      ivfProbedScored(all, queries, nprobe, modulusCentroids(all, centroidModulus)),
      k)
  }

  /** The IVF candidate generator shared by [[ivfTopK]] and
    * [[hardNegativesIVF]]: every (query, in-probed-cell vector) pair
    * with its rounded cosine. Assignment, probe ranking, and
    * self-exclusion as [[ivfTopK]] documents them; the caller owns the
    * centroid list (uncapped modulus for x08's registered contract,
    * capped [[ivfCentroids]] for the production paths) and the final
    * cut (top-k, or filter-then-top-k). `queries` must carry
    * (query_id, qv).
    */
  private def ivfProbedScored(all: DataFrame, queries: DataFrame,
      nprobe: Int, centroids: DataFrame): DataFrame = {
    val assigned = assignToCentroids(all, centroids)
    import graft.plans.TopKPerGroup
    // probe list: nprobe nearest centroids per query (tiny frame, but the
    // heap operator keeps the plan sort-free end to end)
    val probeScored = queries.join(broadcast(centroids))
      .select(col("query_id"), col("qv"), col("centroid_id"),
        round(cos(col("qv"), col("cv")), 6).as("q_sim"))
    val probes = TopKPerGroup.topK(probeScored, Seq("query_id"),
        Seq("q_sim" -> TopKPerGroup.Desc, "centroid_id" -> TopKPerGroup.Asc), nprobe)
      .select(col("query_id"), col("qv"), col("centroid_id"))
    // search only the probed clusters; the probe list is |queries|·nprobe
    // rows, so broadcast it explicitly (post-operator stats are opaque to
    // the planner and would otherwise pick a sort-merge join)
    assigned.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cos(col("qv"), col("v")), 6).as("cos_sim"))
  }

  /** [[hardNegatives]] at production anchor counts — the scale path the
    * brute form's Scaladoc names, now real: the scored-pair source is
    * the IVF probed-cell candidate set ([[ivfProbedScored]] — the x56
    * pruning discipline) instead of anchors × corpus, so per-anchor
    * cost is the probed cells' occupancy, not the corpus. The dup
    * ceiling then filters the WHOLE probed candidate set BEFORE the
    * heap cut — the "shortlist widened past k" requirement falls out
    * structurally (the shortlist here is every probed-cell candidate,
    * not a pre-cut top-k), so the post-filter top-k under-fills only
    * where the probed cells genuinely hold fewer than k sub-ceiling
    * candidates. Approximation is exactly IVF's: a hard negative
    * assigned to an unprobed cell is missed; raise `nprobe` to trade
    * cost for recall (the x72 recall harness prices this).
    *
    * The centroid list is the CAPPED [[ivfCentroids]] (the x56
    * production discipline): without the cap the modulus convention
    * grows the broadcast list — and the per-vector assignment cost —
    * linearly with the corpus, turning the assignment quadratic
    * overall. With it, assignment is O(n·maxCentroids) and per-anchor
    * search is probed-cell occupancy.
    *
    * Anchor selection, ceiling semantics, ranking, and output contract
    * are [[hardNegatives]]'s verbatim — the brute form stays registered
    * as the exact baseline (the x62/x63 labeled-pair convention).
    * Output: (query_id, rank, neighbor_id, cos_sim).
    */
  def hardNegativesIVF(emb: DataFrame, k: Int = 5, queryModulus: Int = 100,
      dupCos: Double = 0.9, nprobe: Int = 2, centroidModulus: Int = 100,
      maxCentroids: Int = 1024, queryIds: Seq[Long] = Nil): DataFrame = {
    val all = vecs(emb)
    val anchors = (if (queryIds.nonEmpty)
        all.filter(col("vec_id").isin(queryIds: _*))
      else all.filter(col("vec_id") % queryModulus === 0))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    rankTopK(
      ivfProbedScored(all, anchors, nprobe,
          ivfCentroids(all, centroidModulus, maxCentroids))
        .filter(col("cos_sim") < dupCos), k)
  }

  // -------------------------------------------------------------------
  // Product quantization (Jégou et al. 2011, "Product Quantization for
  // Nearest Neighbor Search") — the billion-scale memory story IVF-flat
  // lacks: each vector compresses to m codeword ids (m bytes at k ≤ 256
  // codewords), and queries score the COMPRESSED corpus through a
  // per-query lookup table without touching the original vectors.
  // -------------------------------------------------------------------

  /** Split a d-dim vector column into its m contiguous subvectors as
    * (subspace, subvector) rows.
    */
  private def subvectors(df: DataFrame, vCol: String, m: Int): DataFrame = {
    val subDim = Dims / m
    df.select(df.columns.map(col) :+ posexplode(
        array((0 until m).map(s => slice(col(vCol), s * subDim + 1, subDim)): _*))
        .as(Seq("__sp", "__sv")): _*)
      .withColumn("subspace", col("__sp").cast("long"))
      .drop("__sp", vCol)
  }

  /** Codebook of a PQ index: the s-th subvectors of the FIRST
    * `maxCodes` vectors (lowest vec_id) with
    * `vec_id % codeModulus == 0`. The cap is what makes PQ linear:
    * real PQ trains a FIXED codebook (k ≤ 256 per subspace — one byte
    * per code — in Jégou et al. and every production ANN index);
    * without it the modulus-convention codebook grows with the corpus
    * and the encode join degenerates to the n·k shape x33 exists to
    * warn about.
    *
    * The cap is a RANK cut (`ORDER BY vec_id LIMIT maxCodes` — a
    * per-partition heap, never a sort), NOT the former
    * `vec_id < codeModulus·maxCodes` id threshold: the threshold
    * assumed vec_ids dense from 0, which held on the driver fixtures
    * and silently broke everywhere else — the round-15 decade hunt
    * found the strided replica corpora selecting 20 of the intended
    * 1024 coarse cells (50× probed-cell occupancy, a measured 40M
    * candidate pairs for 2000 anchors), and a production id space with
    * an offset (snowflake ids, partition-prefixed ids) could select
    * NONE. Rank semantics agree with the threshold exactly when ids
    * ARE dense from 0, so the registered fixture gates are unchanged.
    */
  private def codewords(
      all: DataFrame, m: Int, codeModulus: Int, maxCodes: Int): DataFrame =
    subvectors(
        all.filter(col("vec_id") % codeModulus === 0)
          .orderBy(col("vec_id")).limit(maxCodes), "v", m)
      .select(col("vec_id").as("code_id"), col("subspace"), col("__sv").as("cw"))

  /** The per-subspace codebook in the flat primitive layout
    * [[graft.functions.PqArgMin]] consumes: one row per subspace with
    * an id array and the concatenated codeword values. argmin is
    * order-free (min over a set), so the unordered collect_list is
    * deterministic here; ids and flattened values are derived from the
    * SAME collected array, so they stay aligned. The flat primitive
    * layout is what makes each PqArgMin call allocation-free — see its
    * Scaladoc.
    */
  private def pqCodebookFlat(cws: DataFrame): DataFrame =
    cws
      .groupBy(col("subspace"))
      .agg(collect_list(struct(col("code_id"), col("cw"))).as("__cbs"))
      .select(col("subspace"),
        transform(col("__cbs"), c => c("code_id")).as("__cb_ids"),
        flatten(transform(col("__cbs"), c => c("cw"))).as("__cb_flat"))

  /** Codeword table for the family: the training-free convention
    * codebook, refined by `trainIters` Lloyd iterations when > 0
    * ([[trainedCodewords]]). Every PQ entry point resolves its
    * codebook here so encode and LUT always agree.
    */
  private def pqCodewords(
      all: DataFrame, m: Int, codeModulus: Int, maxCodes: Int,
      trainIters: Int): DataFrame =
    if (trainIters <= 0) codewords(all, m, codeModulus, maxCodes)
    else trainedCodewords(all, m, codeModulus, maxCodes, trainIters)

  /** k-means-TRAINED codewords: `iters` Lloyd iterations per subspace,
    * initialized from the convention codebook ([[codewords]] — the
    * deterministic seed that keeps the whole training oracle-
    * reproducible). Each iteration is the x22 step in subvector space:
    * assign every subvector to its nearest codeword (argmin rounded
    * squared-L2, ties to the lowest code id — the SAME
    * [[graft.functions.PqArgMin]] in-row fold the encode uses, so
    * assignment costs one map-only pass), then recompute each codeword
    * as the elementwise mean of its members (exact DECIMAL(28,10)
    * sums — double summation order is nondeterministic under
    * parallelism — divided by the member count and rounded to 6, the
    * x22 contract). A codeword whose cluster goes EMPTY keeps its
    * previous value (deterministic, and standard practice short of
    * re-seeding).
    *
    * Scale shape per iteration: one broadcast-codebook scan of the
    * n·m subvector rows (map-only, the x54 plan) plus ONE
    * (subspace, code_id, dim) exchange of m·maxCodes·subDim = Dims ·
    * maxCodes mean cells — the shuffle carries codebook-sized data,
    * not corpus-sized, after map-side partial aggregation. Training
    * cost is `iters` corpus scans; a 100 TB pipeline trains on a
    * sampled slice instead (pass a sampled `emb` — nothing here
    * assumes the full corpus) and amortizes the codebook across runs.
    */
  private def trainedCodewords(
      all: DataFrame, m: Int, codeModulus: Int, maxCodes: Int,
      iters: Int): DataFrame = {
    import graft.functions.PqArgMin.pq_argmin
    val subs = subvectors(all, "v", m)
      .select(col("subspace"), col("__sv").as("sv"))
    // Persist each iteration's codebook (≤ m·maxCodes tiny rows): the
    // next iteration references it TWICE (as the join's left side and
    // inside the assignment book), so an unpersisted chain recomputes
    // iteration N−1 2× per reference — ~2^iters corpus scans by the
    // final encode. With the registry persist, training costs exactly
    // one corpus scan per iteration (measured 1.74 s → 0.90 s at
    // sf0.1, iters=2).
    var cws = codewords(all, m, codeModulus, maxCodes)
    for (_ <- 1 to iters) {
      val book = pqCodebookFlat(cws)
      val assigned = subs.join(broadcast(book), Seq("subspace"))
        .select(col("subspace"), col("sv"),
          explode(array(pq_argmin(
            col("sv"), col("__cb_ids"), col("__cb_flat")))).as("__best"))
        .select(col("subspace"), col("__best.code_id").as("code_id"), col("sv"))
      // per-dim sums as agg COLUMNS, one exchange (round 19 — was
      // posexplode to (sub, code, dim) rows then TWO keyed exchanges
      // plus a collect_list re-assembly): subDim is a plan-time
      // constant (Dims/m, 4 at the defaults), so the elementwise mean
      // is subDim aggregate columns over the un-exploded subvector
      // rows. Arithmetic identical: exact DECIMAL sums (order-free),
      // one rounded double division per cell — and the per-(sub,code,
      // dim) count the old form divided by is exactly the group count
      // (every sv has subDim cells, none null).
      val subDim = Dims / m
      val sumCols = (0 until subDim).map(d =>
        sum(col("sv")(d).cast("decimal(28,10)")).as(s"__s$d"))
      val means = assigned
        .groupBy(col("subspace"), col("code_id"))
        .agg(count(lit(1)).as("__n"), sumCols: _*)
        .select(col("subspace"), col("code_id"),
          array((0 until subDim).map(d =>
            round(col(s"__s$d").cast("double") / col("__n"), 6)): _*).as("ncw"))
      cws = graft.tools.InternalCaches.persist(
        cws.join(means, Seq("subspace", "code_id"), "left")
          .select(col("code_id"), col("subspace"),
            coalesce(col("ncw"), col("cw")).as("cw")))
    }
    cws
  }

  /** x54 — PQ encoding: each vector becomes m codeword ids, one per
    * subspace. The codebook is training-free and deterministic (the
    * same convention as the IVF centroids, capped at `maxCodes` per
    * subspace — see [[codewords]]): codewords of subspace s are the
    * s-th subvectors of the first `maxCodes` vectors with
    * `vec_id % codeModulus == 0`.
    * Assignment is argmin squared-L2 ([[graft.functions.L2Sq]] — the
    * reconstruction-error objective of PQ; rounded to 6 decimals before
    * ranking so the argmin reproduces on the oracle), ties to the
    * lowest code id.
    *
    * Defaults (m = 16 → 4-dim subspaces, codewords every 5th vector)
    * are MEASURED against brute force on the fixture
    * (`tools.PqSweep`): the synthetic embeddings are near-uniform —
    * the worst case for PQ, which exploits structure — and recall@5
    * climbs monotonically with finer subspaces and denser codebooks
    * (m=4/cm=25: 0.16 → m=16/cm=5: 0.52 → m=32/cm=5: 0.72). Both
    * production refinements ship in-family: `trainIters > 0` trains
    * the codebook with Lloyd iterations ([[trainedCodewords]], x58 —
    * 0.52 → 0.56 at m=16 on this worst-case fixture), and
    * [[ivfPqRerankTopK]] (x57) appends the verified re-rank of the
    * ADC short-list against the original vectors — measured
    * 0.52 → 1.00 recall@5 at shortlist 50.
    *
    * Scale shape: MAP-ONLY. The codebook collapses to ONE broadcast
    * row per subspace holding its codeword array (m rows of ≤ maxCodes
    * structs — 16 rows at the defaults), the corpus explodes to n·m
    * subvector rows joined 1:1 against it, and the argmin runs INSIDE
    * each row via the native [[graft.functions.PqArgMin]] expression
    * (codegen'd; see its Scaladoc for why the higher-order
    * `array_min(transform(...))` form was 25× slower). No n·maxCodes
    * pair rows ever materialize and NOTHING crosses a non-broadcast
    * exchange — the only shuffle in the plan is the 4096-row codebook
    * build on the broadcast side. (First cut ranked m·n exploded pair
    * rows on [[graft.plans.TopKPerGroup]]: with n·m tiny groups of
    * ≤ maxCodes rows the heap's per-row non-codegen path measured
    * 6.7 s at sf0.1 vs 0.4 s for an agg — the heap wins when groups
    * are few and huge, x07's shape, not here; the in-row fold beats
    * both and drops the exchange.)
    * Output: (vec_id, subspace, code_id, l2_sq).
    */
  def pqEncode(
      emb: DataFrame,
      m: Int = 16,
      codeModulus: Int = 5,
      maxCodes: Int = 256,
      trainIters: Int = 0): DataFrame = {
    require(Dims % m == 0, s"m ($m) must divide $Dims")
    val all = vecs(emb)
    val subs = subvectors(all, "v", m)
      .select(col("vec_id"), col("subspace"), col("__sv").as("sv"))
    val codebook = pqCodebookFlat(
      pqCodewords(all, m, codeModulus, maxCodes, trainIters))
    // explode(array(...)) is a deliberate Generate barrier: as a plain
    // projection the argmin gets re-inlined by projection collapse and
    // constraint-inference pushdown — x55's LUT join inferred its
    // build-side codeword filters onto this derived key and evaluated
    // FOUR copies of the fold per row inside a join condition. A
    // generator's output is a bound attribute, so every downstream
    // reference (join keys, inferred filters, field extracts) reads the
    // materialized struct instead of re-running the fold.
    subs.join(broadcast(codebook), Seq("subspace"))
      .select(col("vec_id"), col("subspace"),
        explode(array(graft.functions.PqArgMin.pq_argmin(
          col("sv"), col("__cb_ids"), col("__cb_flat")))).as("__best"))
      .select(col("vec_id"), col("subspace"),
        col("__best.code_id").as("code_id"), col("__best.l2_sq").as("l2_sq"))
  }

  /** x55 — asymmetric-distance (ADC) top-k over the PQ-compressed
    * corpus: for each query, build the lookup table
    * `dp(s, c) = dot(query_s, codeword(s, c))` and
    * `cn2(s, c) = |codeword(s, c)|²`, then score every vector FROM ITS
    * CODES ALONE: `approx_cos = Σ_s dp(s, code) / (|q| · √Σ_s cn2(s,
    * code))` — dot products compose additively across subspaces, so
    * the reconstruction is never materialized. The corpus-side scan
    * touches only (vec_id, subspace, code_id) rows; at 100 TB that is
    * the whole point — m small ints per vector instead of d floats
    * (256× smaller at d=64, m=4, doubles), with the original vectors
    * needed only for the final verified re-rank
    * ([[ivfPqRerankTopK]], x57 — the x07 metric over the shortlist
    * alone). Compose with [[ivfTopK]]'s coarse
    * pruning for IVF-PQ; the novel piece here is the compressed-domain
    * scoring.
    *
    * Determinism: lookup-table entries are rounded to 9 decimals and
    * summed as DECIMAL(28,12) (exact, order-free — the x31/x50
    * pattern), so the per-(query, vector) sums are bit-reproducible
    * under any partitioning and on the oracle; the final score rounds
    * to 6 like every similarity in this module. The LUT build uses the
    * native [[graft.functions.DotProduct]] fold (Q·k·m rows — tiny).
    * Output: (query_id, rank, neighbor_id, approx_cos).
    */
  def pqTopK(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int = 5,
      m: Int = 16,
      codeModulus: Int = 5,
      maxCodes: Int = 256,
      trainIters: Int = 0): DataFrame = {
    import graft.functions.DotProduct.dot_product
    val all = vecs(emb)
    val encoded = pqEncode(emb, m, codeModulus, maxCodes, trainIters)
      .select(col("vec_id"), col("subspace"), col("code_id"))
    val queries = all.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val qsubs = subvectors(queries, "qv", m)
      .select(col("query_id"), col("subspace"), col("__sv").as("qsv"))
    val cws = pqCodewords(all, m, codeModulus, maxCodes, trainIters)
    val lut = qsubs.join(broadcast(cws), Seq("subspace"))
      .select(col("query_id"), col("subspace"), col("code_id"),
        round(dot_product(col("qsv"), col("cw")), 9).as("dp"),
        round(dot_product(col("cw"), col("cw")), 9).as("cn2"))
    val contrib = encoded.join(broadcast(lut), Seq("subspace", "code_id"))
      .filter(col("vec_id") =!= col("query_id"))
    val sums = contrib.groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("dp").cast("decimal(28,12)")).as("dsum"),
        sum(col("cn2").cast("decimal(28,12)")).as("n2sum"))
    val qnorm = queries.select(col("query_id"),
      sqrt(dot_product(col("qv"), col("qv"))).as("qn"))
    val scored = sums.join(broadcast(qnorm), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("dsum").cast("double") /
          (col("qn") * sqrt(col("n2sum").cast("double"))), 6).as("approx_cos"))
    import graft.plans.TopKPerGroup
    TopKPerGroup.topK(scored, Seq("query_id"),
        Seq("approx_cos" -> TopKPerGroup.Desc, "neighbor_id" -> TopKPerGroup.Asc), k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("approx_cos"))
  }

  /** Coarse IVF centroids for the IVF-PQ index, CAPPED like the PQ
    * codebook ([[codewords]]) and for the same reason: a production
    * coarse quantizer is a FIXED list (trained once, a few thousand
    * entries in FAISS's IVF at any corpus size), and without the cap
    * the modulus convention grows the broadcast codebook — and the
    * per-row assignment cost — linearly with the corpus. The cap is a
    * RANK cut (lowest `maxCentroids` eligible ids), not an id
    * threshold — see [[codewords]] for the dense-id assumption the
    * threshold form silently broke on.
    */
  private def ivfCentroids(
      all: DataFrame, centroidModulus: Int, maxCentroids: Int): DataFrame =
    all.filter(col("vec_id") % centroidModulus === 0)
      .orderBy(col("vec_id")).limit(maxCentroids)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"))

  /** x56 — IVF-PQ top-k (Jégou et al. 2011 §V; the FAISS IVFPQ
    * architecture): [[ivfTopK]]'s coarse pruning composed with
    * [[pqTopK]]'s compressed-domain ADC scoring. The index holds, per
    * vector, ONE coarse bucket id and m codeword ids; a query probes
    * its `nprobe` nearest coarse centroids and ADC-scores ONLY the
    * probed buckets' codes. This is the production shape at 100 TB:
    * x55's ADC already never touches the original vectors, but it
    * still scans every code row — IVF-PQ cuts the scanned fraction to
    * ~nprobe/#centroids on top of the ~(d·8)/(m·1) byte compression.
    *
    * The coarse quantizer assigns by the SAME metric as the code
    * assignment — argmin rounded squared-L2, ties to the lowest
    * centroid id, via [[graft.functions.PqArgMin]] over the full-dim
    * vector against the flat centroid codebook (FAISS's IVF is also
    * L2-coarse by default; x08 keeps the cosine convention as the
    * IVF-flat variant). That makes the INDEX BUILD one map-only pass:
    * both the bucket id and the m codes are in-row folds against
    * broadcast codebooks — no corpus-keyed exchange anywhere in the
    * build, so the index scales with the scan exactly like x54
    * (plan-gated). The search side shuffles only the probed buckets'
    * contribution rows into the (query, vector) sum — the one exchange
    * IVF-PQ exists to shrink.
    *
    * Determinism: centroid probe list ranks the same rounded-6 L2 the
    * assignment minimizes; LUT entries round to 9 and sum as
    * DECIMAL(28,12) (the x55 contract), so the oracle reproduces
    * bit-for-bit. Output: (query_id, rank, neighbor_id, approx_cos).
    *
    * This entry rebuilds the index in-plan every run; production
    * builds ONCE via [[ivfPqWriteIndex]] and searches the stored
    * tables with [[ivfPqSearchIndex]] (x59 — measured: the search
    * half alone is ~1/3 of build+search at 100×).
    */
  def ivfPqTopK(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int = 5,
      nprobe: Int = 2,
      centroidModulus: Int = 100,
      maxCentroids: Int = 1024,
      m: Int = 16,
      codeModulus: Int = 5,
      maxCodes: Int = 256,
      trainIters: Int = 0): DataFrame = {
    val all = vecs(emb)
    val (codes, cents, cws) =
      ivfPqIndexFrames(all, centroidModulus, maxCentroids, m, codeModulus,
        maxCodes, trainIters)
    val queries = all.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    ivfPqSearchFrames(codes, cents, cws, queries, k, nprobe, m)
  }

  /** The IVF-PQ index as three frames: codes (vec_id, centroid_id,
    * subspace, code_id — the compressed corpus), cents (centroid_id,
    * cv — the coarse quantizer), cws (code_id, subspace, cw — the PQ
    * codebook). The build is the map-only pipeline [[ivfPqTopK]]
    * documents: in-row coarse assignment + per-subspace codes in one
    * scan against broadcast codebooks, no corpus-keyed exchange.
    */
  private[graft] def ivfPqIndexFrames(
      all: DataFrame,
      centroidModulus: Int,
      maxCentroids: Int,
      m: Int,
      codeModulus: Int,
      maxCodes: Int,
      trainIters: Int = 0): (DataFrame, DataFrame, DataFrame) = {
    require(Dims % m == 0, s"m ($m) must divide $Dims")
    val cents = ivfCentroids(all, centroidModulus, maxCentroids)
    val cws = pqCodewords(all, m, codeModulus, maxCodes, trainIters)
    (encodeAgainst(all, cents, cws, m), cents, cws)
  }

  /** The encode half of the index build against GIVEN quantizers
    * (coarse centroids + PQ codebook): vectors → (vec_id, centroid_id,
    * subspace, code_id). Shared by the initial build ([[ivfPqIndexFrames]],
    * which derives the quantizers first) and the incremental append
    * ([[ivfPqAppendIndex]], which reads them from the stored index) —
    * one implementation, so a batch appended later is encoded
    * bit-identically to one present at build time.
    */
  private def encodeAgainst(
      all: DataFrame, cents: DataFrame, cws: DataFrame, m: Int): DataFrame = {
    import graft.functions.PqArgMin.pq_argmin
    // one-row coarse codebook (id array + flat values) — the same
    // alignment argument as [[pqCodebookFlat]]; the join is a broadcast
    // of a single row, the pattern every totals-frame crossJoin in this
    // repo uses
    val coarseBook = cents
      .agg(collect_list(struct(col("centroid_id"), col("cv"))).as("__cs"))
      .select(
        transform(col("__cs"), c => c("centroid_id")).as("__cent_ids"),
        flatten(transform(col("__cs"), c => c("cv"))).as("__cent_flat"))
    // index build, pass 1 of the same map-only pipeline: in-row coarse
    // assignment (explode(array(..)) is the Generate barrier — see
    // pqEncode's rationale)
    val assigned = all.join(broadcast(coarseBook))
      .select(col("vec_id"), col("v"),
        explode(array(pq_argmin(
          col("v"), col("__cent_ids"), col("__cent_flat")))).as("__cc"))
      .select(col("vec_id"), col("v"), col("__cc.code_id").as("centroid_id"))
    // pass 2: the m per-subspace codes, bucket id carried through —
    // still the same single scan, no self-join against x54's output
    val subs = subvectors(assigned, "v", m)
      .select(col("vec_id"), col("centroid_id"), col("subspace"),
        col("__sv").as("sv"))
    val codebook = pqCodebookFlat(cws)
    subs.join(broadcast(codebook), Seq("subspace"))
      .select(col("vec_id"), col("centroid_id"), col("subspace"),
        explode(array(pq_argmin(
          col("sv"), col("__cb_ids"), col("__cb_flat")))).as("__best"))
      .select(col("vec_id"), col("centroid_id"), col("subspace"),
        col("__best.code_id").as("code_id"))
  }

  /** The IVF-PQ search half over index frames (see
    * [[ivfPqIndexFrames]] for their shapes): probe list and final
    * ranking on the heap, per-query LUT identical to x55's, and the
    * probed-bucket contribution sum as the single corpus-derived
    * exchange.
    */
  private[graft] def ivfPqSearchFrames(
      codes: DataFrame,
      cents: DataFrame,
      cws: DataFrame,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      m: Int,
      precomputedProbes: Option[DataFrame] = None,
      broadcastLut: Boolean = true): DataFrame = {
    import graft.functions.DotProduct.dot_product
    import graft.plans.TopKPerGroup
    // probe list: nprobe nearest centroids per query by the assignment
    // metric (tiny frame; the heap keeps it sort-free) — or the
    // caller's, when it already resolved the list for file pruning
    val probes = precomputedProbes.getOrElse(
      ivfPqProbes(cents, queries, nprobe))
    // per-query ADC lookup table — identical to x55's
    val qsubs = subvectors(queries, "qv", m)
      .select(col("query_id"), col("subspace"), col("__sv").as("qsv"))
    val lut = qsubs.join(broadcast(cws), Seq("subspace"))
      .select(col("query_id"), col("subspace"), col("code_id"),
        round(dot_product(col("qsv"), col("cw")), 9).as("dp"),
        round(dot_product(col("cw"), col("cw")), 9).as("cn2"))
    // search: the probe join attaches query_id to ONLY the probed
    // buckets' code rows, so the LUT join is 1:1 (x55's fans out
    // Q-ways — here the fan-out already happened on the pruned set).
    // The LUT is m·maxCodes rows PER QUERY (4096 at the defaults):
    // broadcast it for harness-sized query sets (the x56/x57 shape —
    // a few thousand rows), but NEVER for a corpus-growing query set
    // (the x125 mining shape) — a forced broadcast of a
    // queries×4096-row relation is a driver-built multi-hundred-MB
    // hash table (measured: 117 s for the 2000-anchor 100× probe vs
    // ~20 s shuffled); callers with many queries shuffle both sides on
    // the (query, subspace, code) key instead.
    val lutJoined = {
      val base = codes.join(broadcast(probes), Seq("centroid_id"))
        .filter(col("vec_id") =!= col("query_id"))
      base.join(if (broadcastLut) broadcast(lut) else lut,
        Seq("query_id", "subspace", "code_id"))
    }
    val contrib = lutJoined
    // exact order-free sums in BIGINT NANO-units, not DECIMAL(28,12):
    // the LUT entries are 9-dp-rounded, so ×1e9 is integral-valued and
    // the long sum is the same exact rational the decimal sum carried —
    // and the final doubles are IDENTICAL (both reduce to
    // nearest-double(n/1e9): a < 2^53 long casts exactly, then one
    // correctly-rounded division; Decimal.toDouble is the same
    // correctly-rounded value). What changes is the COST: the decimal
    // path built a BigDecimal from Double.toString per contribution
    // row — jstack-measured as the dominant frames of the 2000-anchor
    // mining probe (x125, 117 s at 100×) — where the long path is
    // codegen'd integer arithmetic. Magnitudes: |entry| ≲ 10 ⇒ nano
    // units ≲ 1e10, × m=16 terms ≲ 2e11 per sum — 2^63 has eight
    // orders of headroom.
    val sums = contrib.groupBy(col("query_id"), col("vec_id"))
      .agg(sum(round(col("dp") * lit(1e9)).cast("long")).as("dsum9"),
        sum(round(col("cn2") * lit(1e9)).cast("long")).as("n2sum9"))
    val qnorm = queries.select(col("query_id"),
      sqrt(dot_product(col("qv"), col("qv"))).as("qn"))
    val scored = sums.join(broadcast(qnorm), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round((col("dsum9").cast("double") / lit(1e9)) /
          (col("qn") * sqrt(col("n2sum9").cast("double") / lit(1e9))), 6)
          .as("approx_cos"))
    TopKPerGroup.topK(scored, Seq("query_id"),
        Seq("approx_cos" -> TopKPerGroup.Desc, "neighbor_id" -> TopKPerGroup.Asc), k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("approx_cos"))
  }

  /** x59 build half — PERSIST the IVF-PQ index (the x40 stored-index
    * pattern made literal): the three index frames are written to
    * `indexDir` as parquet tables `codes` (bucketed by centroid_id so
    * a search reads only probed buckets' files at scale), `centroids`,
    * and `codebook`. This is what amortizes x56's one residual — the
    * per-run index rebuild: production builds once at ingest (cost =
    * the map-only build + one write) and every query pays only
    * [[ivfPqSearchIndex]]. Long/double parquet round-trips are exact,
    * so a search over the persisted index is bit-identical to the
    * in-plan composition (spec-gated).
    *
    * FRESH paths only: the three table writes are not atomic as a
    * group, so building OVER a live index risks new-geometry codes
    * beside old-geometry quantizers on a crash — retrain a live index
    * with [[ivfPqRebuildIndex]] (whole-directory swap) instead.
    */
  def ivfPqWriteIndex(
      emb: DataFrame,
      indexDir: String,
      centroidModulus: Int = 100,
      maxCentroids: Int = 1024,
      m: Int = 16,
      codeModulus: Int = 5,
      maxCodes: Int = 256,
      trainIters: Int = 0): Unit = {
    val (codes, cents, cws) = ivfPqIndexFrames(
      vecs(emb), centroidModulus, maxCentroids, m, codeModulus, maxCodes,
      trainIters)
    // PARTITION by bucket (directory per centroid, pre-clustered so
    // each bucket is one file): the search side pushes its probed
    // centroid ids as a literal partition filter, so an nprobe=2
    // search over a 1024-bucket index READS ~2/1024 of the code files
    // — genuine partition pruning, not just row clustering. The write
    // exchange is the index's ONLY corpus-keyed shuffle (paid once at
    // build time, by design).
    // the four materializations share only read-only lazy inputs (the
    // registry-persisted codebook chain computes once under its
    // per-partition lock), so they overlap from a driver pool (guide
    // §2.6): the tiny centroid/codebook/stamp jobs back-fill the codes
    // write's tail instead of each paying full job latency after it.
    // Crash exposure is unchanged — a torn build directory was already
    // possible at any point of the sequential form; rebuild callers
    // write into a tmp dir and swap ([[rebuildIvfPqIndex]]).
    graft.tools.DriverPool.awaitAll(Seq(
      () => codes
        .transform(IndexFs.keyPartitioned(_, col("centroid_id"), maxCentroids.toLong))
        .write.mode("overwrite").partitionBy("centroid_id")
        .parquet(s"$indexDir/codes"),
      () => cents.write.mode("overwrite").parquet(s"$indexDir/centroids"),
      () => cws.write.mode("overwrite").parquet(s"$indexDir/codebook"),
      // both quantizer caps stamped for the drift audit ([[ivfPqOccupancy]])
      // — the alarm must read the REAL build parameters, not a monitoring
      // job's defaults (the semantic index's _quantizer discipline) —
      // plus both eligibility totals for the ingest-time cap-bind probe
      // ([[ivfPqIngestCapBind]]), computed in ONE aggregate over the
      // corpus the build just scanned anyway
      () => {
        val eligRow = vecs(emb).agg(
          coalesce(sum(when(col("vec_id") % centroidModulus === 0, 1L)),
            lit(0L)),
          coalesce(sum(when(col("vec_id") % codeModulus === 0, 1L)),
            lit(0L))).head()
        IndexFs.writeSmall(emb.sparkSession, s"$indexDir/_quantizer",
          s"modulus=$centroidModulus\ncap=$maxCentroids\n" +
            s"code_modulus=$codeModulus\ncode_cap=$maxCodes\n" +
            s"eligible=${eligRow.getLong(0)}\n" +
            s"code_eligible=${eligRow.getLong(1)}")
      }))
  }

  /** x61 — INCREMENTAL append to a persisted IVF-PQ index: the ingest
    * path a production corpus runs between rebuilds (FAISS's
    * `IndexIVFPQ.add`). The stored quantizers are FIXED — the batch's
    * vectors are coarse-assigned against the stored centroids and
    * PQ-encoded against the stored codebook by the SAME
    * [[encodeAgainst]] pipeline the initial build ran, then the new
    * code rows land as additional files inside the existing
    * `centroid_id=` partition directories (`mode("append")` under the
    * same `partitionBy`), so the search side's partition pruning sees
    * old and new rows alike. No existing file is rewritten and no
    * quantizer changes: append cost is one map-only scan of the BATCH
    * (broadcast quantizers, in-row argmin) plus the batch-sized write
    * exchange — independent of how large the index already is.
    *
    * Equivalence contract (spec-gated, and the x61 oracle proves it at
    * sf0.01): because encode depends only on (vector, quantizers),
    * build(A) + append(B) yields byte-for-byte the index that
    * build(A ∪ B) would, PROVIDED the quantizers derived from A equal
    * those derived from A ∪ B. With the convention (training-free)
    * quantizers that holds whenever B contains no convention id;
    * with TRAINED codebooks (x58) it is deliberately NOT the
    * contract — production accepts codebook staleness between
    * retrains (so does FAISS: `add` never retrains), and the recall
    * monitor x57's audit column feeds decides when a rebuild is due.
    *
    * SINGLE-WRITER, explicitly including the `_quantizer` stamp: both
    * running eligibility totals are a non-atomic read-modify-write, so
    * two appends racing it can lose increments (the ingest alarm would
    * fire late). Serialize appends; [[ivfPqOccupancy]] remains the
    * audit of record and every rebuild recomputes the totals exactly.
    */
  def ivfPqAppendIndex(newEmb: DataFrame, indexDir: String): Unit = {
    val spark = newEmb.sparkSession
    // heal a crashed swap BEFORE appending (an append into a missing
    // live dir would fork the index away from the .compact copy)
    IvfPqIndex.heal(spark, indexDir)
    val cents = spark.read.parquet(s"$indexDir/centroids")
    val cws = spark.read.parquet(s"$indexDir/codebook")
    encodeAgainst(vecs(newEmb), cents, cws, storedM(cws))
      .transform(IndexFs.keyPartitioned(_, col("centroid_id"),
        cachedCentroidCount(spark, indexDir, cents)))
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$indexDir/codes")
    // ingest-time cap-bind check at the compressed grain — BOTH running
    // totals maintained in one batch-sized aggregate; the contract is
    // [[semanticIngestCapBind]]'s (advisory, data-before-stamp,
    // rebuild recomputes exactly); silent no-op on pre-upgrade stamps
    locally {
      val kv = readStampMap(spark, s"$indexDir/_quantizer")
      for (mod <- kv.get("modulus"); cap <- kv.get("cap");
           cmod <- kv.get("code_modulus"); ccap <- kv.get("code_cap");
           old <- kv.get("eligible"); cold <- kv.get("code_eligible")) {
        val r = vecs(newEmb).agg(
          coalesce(sum(when(col("vec_id") % mod === 0, 1L)), lit(0L)),
          coalesce(sum(when(col("vec_id") % cmod === 0, 1L)), lit(0L)))
          .head()
        val (total, ctotal) = (old + r.getLong(0), cold + r.getLong(1))
        IndexFs.writeSmall(spark, s"$indexDir/_quantizer",
          s"modulus=$mod\ncap=$cap\ncode_modulus=$cmod\ncode_cap=$ccap\n" +
            s"eligible=$total\ncode_eligible=$ctotal")
        if (total > cap || ctotal > ccap)
          System.err.println(s"[graft] ivfPqAppendIndex($indexDir): " +
            s"eligibility crossed a stamped rank cap (coarse $total/$cap, " +
            s"code $ctotal/$ccap) — the next retrain's cut binds. " +
            "Remedy: ivfPqRetrainIfCapBound / ivfPqRebuildIndex wider.")
      }
    }
  }

  /** [[semanticIngestCapBind]] at the compressed grain:
    * `Some((coarse_bound, code_bound))` from the stamp's running
    * eligibility totals; `None` on pre-upgrade stamps. Same advisory
    * contract (exactly-once appends exact; crash window undercounts;
    * deletes never decrement; [[ivfPqOccupancy]] is the audit of
    * record; rebuilds recompute exactly).
    */
  def ivfPqIngestCapBind(spark: SparkSession,
      indexDir: String): Option[(Boolean, Boolean)] = {
    val kv = readStampMap(spark, s"$indexDir/_quantizer")
    for (e <- kv.get("eligible"); c <- kv.get("cap");
         ce <- kv.get("code_eligible"); cc <- kv.get("code_cap"))
      yield (e > c, ce > cc)
  }

  /** Subspace count of a stored codebook — one control-plane lookup,
    * so callers cannot mismatch the subvector split the index was
    * built with.
    */
  private[graft] def storedM(cws: DataFrame): Int =
    (cws.agg(max(col("subspace"))).head().getLong(0) + 1).toInt

  /** The IVF-PQ index's [[StoredIndex]] declaration — the semantic
    * index's at the compressed grain: one `codes` table, `vec_id`
    * tombstones, whole-index release on takedown only.
    */
  private[graft] val IvfPqIndex = new StoredIndex(
    tables = Seq("codes"),
    deletes = Some(StoredIndex.Tombstones("vec_id", StoredIndex.Whole)),
    compactRelease = StoredIndex.Keep)

  /** The stored `codes` table with takedown tombstones applied — the
    * [[liveVectors]] discipline for the IVF-PQ index, schema-pinned for
    * the same full-takedown-then-compact state (an emptied codes table
    * must read as zero rows). Callers heal first.
    */
  private def liveCodes(spark: SparkSession, indexDir: String): DataFrame =
    IvfPqIndex.read(spark, indexDir, "codes",
      Some("vec_id LONG, subspace LONG, code_id LONG, centroid_id LONG"))

  /** x138 — retrain-and-migrate for the persisted IVF-PQ index: the
    * x116 discipline at the compressed grain, and the SAFE form of the
    * cap-bind remedy [[ivfPqOccupancy]] prescribes. A bare
    * [[ivfPqWriteIndex]] over a live index is NOT atomic — it
    * overwrites `codes`, then `centroids`, then `codebook`, and a
    * crash between the writes leaves new-geometry codes beside
    * old-geometry quantizers: WRONG search results, not just a torn
    * directory. This verb builds into `indexDir.compact` and swaps the
    * whole directory tmp → old → live ([[StoredIndex.rebuild]]), so
    * vectors/centroids/codebook/stamp change together and the only
    * no-live window is the single window every IVF-PQ entry point
    * heals.
    *
    * The corpus is handed back by the caller (codes are LOSSY — the
    * original vectors cannot be reconstructed from the index; the
    * x117 hand-back contract, same as the near-dup rebuild).
    * Tombstoned vec_ids are filtered OUT of the handed-back corpus —
    * the retrain must not learn geometry from taken-down vectors, and
    * the swapped-in directory starts clean, so takedowns stay durable
    * across a careless hand-back.
    * Memoized searches over the old geometry are released (the x116
    * stale-geometry lesson). Cost = the original build's.
    */
  def ivfPqRebuildIndex(
      corpus: DataFrame,
      indexDir: String,
      centroidModulus: Int = 100,
      maxCentroids: Int = 1024,
      m: Int = 16,
      codeModulus: Int = 5,
      maxCodes: Int = 256,
      trainIters: Int = 0): Unit = {
    val spark = corpus.sparkSession
    IvfPqIndex.rebuild(spark, indexDir)(tmp =>
      ivfPqWriteIndex(IvfPqIndex.live(spark, indexDir, corpus), tmp,
        centroidModulus, maxCentroids, m, codeModulus, maxCodes, trainIters))
  }

  /** x135 — occupancy + cap-bind audit of the STORED IVF-PQ index:
    * [[storedSemanticOccupancy]]'s drift alarm at the compressed
    * grain, where BOTH frozen quantizers have a binding rank cut
    * ([[ivfCentroids]]' coarse cap and the PQ codebook's `maxCodes` —
    * the same eligible-vs-cap structure the round-15 recall
    * decomposition measured). One scan of the codes table's id/
    * partition columns (`subspace = 0` projects one row per vector;
    * tombstones applied — the audit describes the LIVE corpus):
    * per-cell counts feed the occupancy half, and two conditionals on
    * ids the scan already reads feed the cap-bind half. Audited
    * against the index's own `_quantizer` stamp (written at build);
    * arguments are the pre-stamp fallback. `cap_bound` means the next
    * retrain at the same parameters would rank-cut eligible coarse
    * seeds (recall loss nprobe cannot reclaim — rebuild wider or
    * accept the measured loss); `code_cap_bound` is the same statement
    * for the codebook (finer quantization lost to the cut).
    *
    * Output (one row): n_cells, max_occupancy, cells_over_cap,
    * vectors_over_cap, eligible_seeds, cap_bound,
    * eligible_code_seeds, code_cap_bound.
    */
  def ivfPqOccupancy(spark: SparkSession, indexDir: String,
      cellCap: Int = DefaultCellCap,
      centroidModulus: Int = 100, maxCentroids: Int = 1024,
      codeModulus: Int = 5, maxCodes: Int = 256): DataFrame = {
    IvfPqIndex.heal(spark, indexDir)
    val kv = readStampMap(spark, s"$indexDir/_quantizer")
    val mod = kv.getOrElse("modulus", centroidModulus.toLong)
    val cap = kv.getOrElse("cap", maxCentroids.toLong)
    val cmod = kv.getOrElse("code_modulus", codeModulus.toLong)
    val ccap = kv.getOrElse("code_cap", maxCodes.toLong)
    liveCodes(spark, indexDir)
      .filter(col("subspace") === 0)
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("vec_id") % mod === 0, 1L)), lit(0L))
          .as("__elig"),
        coalesce(sum(when(col("vec_id") % cmod === 0, 1L)), lit(0L))
          .as("__celig"))
      .agg(count(lit(1)).as("n_cells"),
        max(col("n")).as("max_occupancy"),
        coalesce(sum(when(col("n") > cellCap, 1L)), lit(0L))
          .as("cells_over_cap"),
        coalesce(sum(when(col("n") > cellCap, col("n"))), lit(0L))
          .as("vectors_over_cap"),
        coalesce(sum(col("__elig")), lit(0L)).as("eligible_seeds"),
        coalesce(sum(col("__celig")), lit(0L)).as("eligible_code_seeds"))
      .select(col("n_cells"), col("max_occupancy"), col("cells_over_cap"),
        col("vectors_over_cap"), col("eligible_seeds"),
        (col("eligible_seeds") > lit(cap)).as("cap_bound"),
        col("eligible_code_seeds"),
        (col("eligible_code_seeds") > lit(ccap)).as("code_cap_bound"))
  }

  /** x140 — [[retrainSemanticIfCapBound]] at the compressed grain: read
    * [[ivfPqOccupancy]], and when EITHER rank cut is binding
    * (`cap_bound` on the coarse quantizer, `code_cap_bound` on the PQ
    * codebook), retrain via the safe [[ivfPqRebuildIndex]]
    * (whole-directory swap — never the non-atomic in-place overwrite)
    * with each bound cap widened to `max(cap × widenFactor, eligible)`
    * and each quiet cap left untouched, then re-audit. The corpus is
    * handed back by the caller (codes are lossy — the x117/x138
    * contract); tombstoned vec_ids are filtered out by the rebuild, so
    * takedowns stay durable through the remedy. `m` is read from the
    * stored codebook (a caller cannot mismatch the subvector split);
    * `trainIters` passes through for indexes built with trained
    * codebooks (the stamp does not record it — the caller owns that
    * choice, as with [[ivfPqRebuildIndex]] itself).
    *
    * Output (two rows, phases `before`/`after`; after == before when
    * nothing acted): phase, n_cells, max_occupancy, cells_over_cap,
    * vectors_over_cap, eligible_seeds, cap_bound, eligible_code_seeds,
    * code_cap_bound, acted, new_cap, new_code_cap. Audit rows are
    * collected eagerly (the x116 materialize-before-swap lesson).
    */
  def ivfPqRetrainIfCapBound(corpus: DataFrame, indexDir: String,
      widenFactor: Int = 2, dryRun: Boolean = false,
      trainIters: Int = 0): DataFrame = {
    require(widenFactor >= 1, s"widenFactor must be >= 1, got $widenFactor")
    val spark = corpus.sparkSession
    import spark.implicits._
    val before = ivfPqOccupancy(spark, indexDir).head()
    val kv = readStampMap(spark, s"$indexDir/_quantizer")
    val mod = kv.getOrElse("modulus", 100L)
    val cap = kv.getOrElse("cap", 1024L)
    val cmod = kv.getOrElse("code_modulus", 5L)
    val ccap = kv.getOrElse("code_cap", 256L)
    val coarseBound = before.getAs[Boolean]("cap_bound")
    val codeBound = before.getAs[Boolean]("code_cap_bound")
    // clamped at the decision (the rebuild takes Ints): reported,
    // stamped, and acted caps stay one number past 2^31 eligibility
    val newCap =
      if (coarseBound)
        math.min(math.max(cap * widenFactor,
          before.getAs[Long]("eligible_seeds")), Int.MaxValue.toLong)
      else cap
    val newCodeCap =
      if (codeBound)
        math.min(math.max(ccap * widenFactor,
          before.getAs[Long]("eligible_code_seeds")), Int.MaxValue.toLong)
      else ccap
    val acted = (coarseBound || codeBound) && !dryRun
    if (acted) {
      val m = storedM(spark.read.parquet(s"$indexDir/codebook"))
      ivfPqRebuildIndex(corpus, indexDir, mod.toInt, newCap.toInt, m,
        cmod.toInt, newCodeCap.toInt, trainIters)
    }
    val after =
      if (acted) ivfPqOccupancy(spark, indexDir).head() else before
    def row(phase: String, r: org.apache.spark.sql.Row) =
      (phase, r.getAs[Long]("n_cells"), r.getAs[Long]("max_occupancy"),
        r.getAs[Long]("cells_over_cap"), r.getAs[Long]("vectors_over_cap"),
        r.getAs[Long]("eligible_seeds"), r.getAs[Boolean]("cap_bound"),
        r.getAs[Long]("eligible_code_seeds"),
        r.getAs[Boolean]("code_cap_bound"), acted, newCap, newCodeCap)
    Seq(row("before", before), row("after", after))
      .toDF("phase", "n_cells", "max_occupancy", "cells_over_cap",
        "vectors_over_cap", "eligible_seeds", "cap_bound",
        "eligible_code_seeds", "code_cap_bound", "acted", "new_cap",
        "new_code_cap")
  }

  /** Takedown for the persisted IVF-PQ index — the
    * [[deleteFromSemanticIndex]] verb at the compressed grain: vec_ids
    * land as tombstones (set-semantics replay-safe),
    * searches anti-join them out of the codes read (so a taken-down
    * vector can never reach a shortlist, and therefore never the exact
    * re-rank either), and [[ivfPqCompactIndex]] applies them durably.
    * Quantizers are untouched — data, not geometry (the x126
    * doctrine); a retrain is [[ivfPqWriteIndex]] with `trainIters`.
    * Tombstones win over re-appends until a compaction clears them
    * (re-admission = compact-then-append).
    */
  def deleteFromIvfPqIndex(vecIds: DataFrame, indexDir: String): Unit =
    IvfPqIndex.tombstone(vecIds, indexDir)

  /** Offline maintenance for the codes table: apply takedown
    * tombstones durably and collapse the per-append file accumulation
    * ([[ivfPqAppendIndex]] adds files, never rewrites — this is where
    * they fold), preserving the `partitionBy(centroid_id)` layout the
    * search side's partition pruning depends on. tmp → old → live swap
    * with the usual recovery ([[StoredIndex.compact]]); tombstones
    * clear strictly after the swap — a crash between leaves them
    * anti-joining absent rows, never a resurrected vector.
    */
  def ivfPqCompactIndex(spark: SparkSession, indexDir: String): Unit =
    IvfPqIndex.compact(spark, indexDir) { to =>
      val c = liveCodes(spark, indexDir).persist()
      c.transform(IndexFs.keyPartitioned(_, col("centroid_id"),
        readStampMap(spark, s"$indexDir/_quantizer").getOrElse("cap", 1024L)))
        .write.mode("overwrite").partitionBy("centroid_id")
        .parquet(to("codes"))
      c.unpersist(blocking = false)
    }

  /** x59 search half — query a PERSISTED IVF-PQ index: reads the three
    * tables [[ivfPqWriteIndex]] wrote and runs the search pipeline
    * only. `m` comes from the stored codebook (one control-plane
    * lookup), so a caller cannot mismatch the subvector split the
    * index was built with. Query vectors still come from `emb` —
    * queries are external input, not index content.
    * Output: (query_id, rank, neighbor_id, approx_cos) — identical to
    * [[ivfPqTopK]] built with the same parameters.
    */
  def ivfPqSearchIndex(
      emb: DataFrame,
      indexDir: String,
      queryIds: Seq[Long],
      k: Int = 5,
      nprobe: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    // heal a crashed rebuild or compaction swap before the first read
    IvfPqIndex.heal(spark, indexDir)
    val cents = spark.read.parquet(s"$indexDir/centroids")
    val cws = spark.read.parquet(s"$indexDir/codebook")
    val m = storedM(cws)
    val queries = vecs(emb).filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // Resolve the probe list FIRST and collect its centroid ids —
    // control-plane metadata (≤ Q·nprobe longs from a
    // queries×centroids job that never touches the corpus) — so the
    // probed ids reach the codes scan as a LITERAL partition filter.
    // As a join the probe can only drop rows after reading every
    // bucket's files; as a literal isin it prunes the directories
    // partitionBy laid out, and the scan reads ~nprobe/#centroids of
    // the index bytes (plan-gated: PartitionFilters non-empty).
    val probes = graft.tools.InternalCaches.persist(
      ivfPqProbes(cents, queries, nprobe))
    val probedIds = probes.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val codes = liveCodes(spark, indexDir)
      .filter(col("centroid_id").isin(probedIds: _*))
    ivfPqSearchFrames(codes, cents, cws, queries, k, nprobe, m, Some(probes))
  }

  /** nprobe nearest centroids per query by the assignment metric. */
  private[graft] def ivfPqProbes(
      cents: DataFrame, queries: DataFrame, nprobe: Int): DataFrame = {
    import graft.functions.L2Sq.l2_sq
    import graft.plans.TopKPerGroup
    val probeScored = queries.join(broadcast(cents))
      .select(col("query_id"), col("centroid_id"),
        round(l2_sq(col("qv"), col("cv")), 6).as("q_d2"))
    TopKPerGroup.topK(probeScored, Seq("query_id"),
        Seq("q_d2" -> TopKPerGroup.Asc, "centroid_id" -> TopKPerGroup.Asc),
        nprobe)
      .select(col("query_id"), col("centroid_id"))
  }

  /** x57 — verified re-rank: the end-to-end FAISS search contract that
    * every PQ Scaladoc in this family promises. [[ivfPqTopK]] produces
    * a compressed-domain SHORTLIST of `shortlist` candidates per query
    * (cheap — ADC over probed buckets only); the shortlist alone is
    * joined back to the ORIGINAL vectors and re-scored with exact
    * cosine ([[graft.functions.CosineSim]], the x07 metric), emitting
    * the final top-k ranked by the exact score. `approx_cos` rides
    * along so the verified output exposes what the compressed domain
    * thought — the audit column a production recall monitor reads.
    *
    * Why this recovers recall: PQ quantization error reorders
    * NEAR-TIED candidates but rarely ejects a true neighbor from a
    * k' ≫ k shortlist; the exact pass then fixes the order. Measured
    * on the fixture (tools.PqSweep): recall@5 0.52 (raw ADC ranking,
    * m=16) → ~1.0 with a 50-deep shortlist re-ranked, at the cost of
    * fetching k'=50 original vectors per query instead of scanning
    * all of them (at 100 TB: Q·k'·d·8 bytes of vector reads instead
    * of n·d·8 — the re-rank reads ~0.005% of the corpus at n=3.2M).
    *
    * AT SCALE the 50-deep shortlist is not free of misses
    * (tools.RecallAtScale, ground truth = brute force over the same
    * corpus): with CONVENTION codebooks (trainIters=0) recall@5 at
    * shortlist 50 is 0.92/0.88/0.88 at 1×/10×/100× (2k → 200k
    * vectors) — more distractors eject more true neighbors past rank
    * k'. Two levers restore it, both measured: deepen the shortlist
    * (sl=200 → 1.00 at 100×; the re-rank stays O(Q·k')), or TRAIN the
    * codebooks (trainIters=2 — x60's production default — holds
    * 0.92/0.96/1.00 at sl=50: tighter cells shrink the quantization
    * error that causes the ejections). The residual below 1.0 at
    * small scale is IVF pruning loss (nprobe=2 of ~20 centroids at
    * 1×), which no re-rank can resurrect — grow nprobe, not k', for
    * that term.
    *
    * ROUND-11 GRID — one more decade, plus clustered (non-uniform)
    * corpora (tools.RecallAtScale with ScaleHeadroom's hot-coarse-
    * bucket generator; ~4/5 of the mass within eps=0.05 of 4 anchors):
    *   - 1000× uniform (2M vectors): 1.00 across every path and every
    *     measured sl/np point — the "pruning gets safer with scale"
    *     property holds a fourth decade.
    *   - 100×-skew, COLD queries (outside the hot clouds): raw ADC
    *     drops to 0.44 (hot-cell quantization noise), but sl=50
    *     re-rank and trained codebooks both hold 1.00; nprobe=1
    *     suffices. Clustered occupancy alone does not break the
    *     contract.
    *   - HOT queries (the query IS a cloud anchor): ID-recall@5 is
    *     0.00 for every configuration at both 200k and 2M — and that
    *     number is a METRIC artifact, not a retrieval failure. The
    *     exact top-5 is an arbitrary pick among tens of thousands of
    *     ε-ties; a k'-deep shortlist holds k'/cloud ≈ 0.1% of them,
    *     so the ID sets are disjoint while every returned neighbor's
    *     exact cosine is within ~1e-3 of the k-th ground-truth score
    *     (ε-recall@5 at τ=0.001: 1.00 where ID-recall reads 0.00 —
    *     same tool, same runs). Production reading: (1) monitor
    *     ε-recall / the exact-vs-approx gap ([[retrainMonitor]]
    *     already computes exactly that audit), not raw ID overlap;
    *     (2) the real fix is upstream — near-dup clouds this dense
    *     are what [[Dedup.resolveClusters]] / SemDeDup (x33/x37)
    *     exist to collapse BEFORE indexing; an index of
    *     representatives has no hot clouds.
    *
    * Scale shape: the shortlist (≤ Q·k' rows — the heap bounds it
    * before any exchange) is BROADCAST into one corpus scan to fetch
    * the original vectors, so the fetch adds zero corpus-keyed
    * shuffles; the re-score joins the broadcast query vectors and the
    * final top-k is the heap operator again. Everything after the
    * shortlist is O(Q·k') rows.
    * Output: (query_id, rank, neighbor_id, cos_sim, approx_cos).
    */
  def ivfPqRerankTopK(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int = 5,
      shortlist: Int = 50,
      nprobe: Int = 2,
      centroidModulus: Int = 100,
      maxCentroids: Int = 1024,
      m: Int = 16,
      codeModulus: Int = 5,
      maxCodes: Int = 256,
      trainIters: Int = 0): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val short = ivfPqTopK(emb, queryIds, shortlist, nprobe, centroidModulus,
        maxCentroids, m, codeModulus, maxCodes, trainIters)
    exactRerank(short, vecs(emb), queryIds, k)
  }

  /** x60 — the production ANN lifecycle, end to end: a TRAINED
    * codebook ([[trainedCodewords]], x58) built into a PERSISTED
    * index ([[ivfPqWriteIndex]], x59), searched in the compressed
    * domain with coarse pruning (x56), and finished with the VERIFIED
    * exact re-rank (x57). This is the query a production corpus
    * actually runs: every per-query cost term is
    * corpus-size-independent except the pruned bucket scan, and the
    * one corpus-sized cost (train + build + write) is paid once at
    * ingest. Output: (query_id, rank, neighbor_id, cos_sim,
    * approx_cos) — identical to [[ivfPqRerankTopK]] at the same
    * parameters (spec-gated through the parquet round-trip).
    */
  def ivfPqSearchIndexReranked(
      emb: DataFrame,
      indexDir: String,
      queryIds: Seq[Long],
      k: Int = 5,
      shortlist: Int = 50,
      nprobe: Int = 2): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val short = ivfPqSearchIndex(emb, indexDir, queryIds, shortlist, nprobe)
    exactRerank(short, vecs(emb), queryIds, k)
  }

  /** The exact re-rank tail shared by x57 and the persisted x60 path:
    * broadcast the heap-bounded shortlist into one corpus scan to
    * fetch original vectors, re-score with exact cosine, re-rank.
    */
  private def exactRerank(
      shortlisted: DataFrame,
      all: DataFrame,
      queryIds: Seq[Long],
      k: Int): DataFrame = {
    import graft.plans.TopKPerGroup
    val queries = all.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    TopKPerGroup.topK(exactRescore(shortlisted, all, queries),
        Seq("query_id"),
        Seq("cos_sim" -> TopKPerGroup.Desc, "neighbor_id" -> TopKPerGroup.Asc), k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"), col("approx_cos"))
  }

  /** The exact re-scoring half of [[exactRerank]], factored so callers
    * that must FILTER on the exact score before the cut (the x125
    * ceiling) can: broadcast the shortlist into one corpus scan to
    * fetch original vectors, re-score with exact cosine. `queries`
    * must carry (query_id, qv). Output: (query_id, neighbor_id,
    * cos_sim, approx_cos), uncut.
    */
  private def exactRescore(
      shortlisted: DataFrame,
      all: DataFrame,
      queries: DataFrame): DataFrame = {
    val short = shortlisted
      .select(col("query_id"), col("neighbor_id"), col("approx_cos"))
    val withVecs = all
      .join(broadcast(short), all("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("approx_cos"),
        col("v").as("nv"))
    withVecs.join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cos(col("qv"), col("nv")), 6).as("cos_sim"), col("approx_cos"))
  }

  /** Hard-negative mining at the COMPRESSED grain — the billion-scale
    * memory form of [[hardNegativesIVF]] (the x55/x56 story applied to
    * mining): anchors ADC-score only the probed buckets' CODES (m
    * bytes/vector, originals never scanned), a `shortlist`-deep
    * compressed-domain cut bounds the candidates, and ONE
    * O(anchors·shortlist) original-vector fetch re-scores them
    * exactly (the x57 verified-re-rank discipline).
    *
    * The dup ceiling binds on the EXACT re-rank score, never the ADC
    * approximation — the correctness nuance this composition exists
    * for: quantization error near the ceiling cuts both ways, and an
    * approx-cos 0.89 copy whose true cosine is 0.95 would pass an
    * approx-bound ceiling and surface as a FALSE negative (training
    * against a copy — the exact failure the ceiling guards). Bound on
    * the exact score, a copy that reaches the shortlist is always
    * killed; a copy that misses the shortlist is merely not emitted —
    * recall loss, never a false emission. `shortlist` must be wide
    * enough to absorb the ceiling's cut AND ADC mis-ranking
    * (`require(shortlist >= k)` is the floor, not the recommendation;
    * the x67 monitor's audit column rides along for exactly this
    * tuning). approx_cos is emitted beside cos_sim per the x57
    * convention. Output: (query_id, rank, neighbor_id, cos_sim,
    * approx_cos).
    */
  def hardNegativesPQ(emb: DataFrame, k: Int = 5, queryModulus: Int = 100,
      dupCos: Double = 0.9, shortlist: Int = 50, nprobe: Int = 2,
      centroidModulus: Int = 100, maxCentroids: Int = 1024, m: Int = 16,
      codeModulus: Int = 5, maxCodes: Int = 256, trainIters: Int = 0,
      queryIds: Seq[Long] = Nil): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val all = vecs(emb)
    val (codes, cents, cws) = ivfPqIndexFrames(all, centroidModulus,
      maxCentroids, m, codeModulus, maxCodes, trainIters)
    val anchors = (if (queryIds.nonEmpty)
        all.filter(col("vec_id").isin(queryIds: _*))
      else all.filter(col("vec_id") % queryModulus === 0))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // broadcast the ADC LUT only for an explicit (harness-sized) anchor
    // list — the modulus anchor set grows with the corpus, and its LUT
    // must shuffle, not broadcast (see ivfPqSearchFrames)
    val short = ivfPqSearchFrames(codes, cents, cws, anchors, shortlist,
      nprobe, m, broadcastLut = queryIds.nonEmpty)
    import graft.plans.TopKPerGroup
    TopKPerGroup.topK(
        exactRescore(short, all, anchors).filter(col("cos_sim") < dupCos),
        Seq("query_id"),
        Seq("cos_sim" -> TopKPerGroup.Desc, "neighbor_id" -> TopKPerGroup.Asc), k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"), col("approx_cos"))
  }

  /** x67 — the retrain trigger that closes the lifecycle loop x61
    * opened: [[ivfPqAppendIndex]] keeps stored codebooks frozen across
    * appends (so does FAISS `add`) and its Scaladoc hands the
    * when-to-rebuild decision to "the recall monitor" — this is that
    * monitor. It reads the audit column the verified re-rank already
    * emits (x57's `approx_cos` rides beside the exact `cos_sim`
    * precisely for this) and distills the re-rank output into one
    * decision row:
    *   - `mean_abs_gap` — mean |cos_sim − approx_cos| over the final
    *     top-k: the quantization error magnitude the frozen codebooks
    *     currently add. ABSOLUTE, not signed: drift can make stale
    *     codebooks OVERestimate cosine (inflated reconstructed dot
    *     products), and a signed mean would let over- and
    *     under-estimates cancel to a healthy-looking zero. Appended
    *     vectors from a drifted distribution land far from every
    *     trained cell center, so |gap| rises with drift; it cannot
    *     fall below the training-time floor. The signed `mean_gap`
    *     rides along as a direction diagnostic (negative = the
    *     compressed domain flatters the corpus).
    *   - `rank_churn` — the fraction of result rows whose exact rank
    *     differs from their approx-cos rank: how often the compressed
    *     domain mis-ORDERS what it still retrieves. Churn burns
    *     shortlist budget (a mis-ranked true neighbor must fit inside
    *     k' to survive), so rising churn predicts recall loss before
    *     recall itself is measurable.
    *   - `needs_retrain` — `mean_abs_gap` or `rank_churn` exceeding
    * its threshold, and ALWAYS true on an empty monitored frame: a
    * monitor that read zero evidence must page someone, not report
    * healthy (the NULL a threshold comparison yields on no rows would
    * read back as false through getAs[Boolean]). The churn default is
    * deliberately loose (0.9): near-tied candidates reorder at any
    * codebook health (the fixture shows ~0.67 churn with freshly
    * trained codebooks and a 0.02 gap), so order churn only signals
    * pathology when nearly every row is misordered — `mean_abs_gap`
    * is the primary trigger.
    * Thresholds compare against the ROUNDED means, so the flag is
    * bit-portable to the oracle. Cost: O(Q·k) input rows — the window
    * partitions per query over k rows; free beside any search.
    * Decimal-sum mean (associative) keeps the double mean
    * order-independent, the same portability rule the event
    * aggregates use.
    */
  def retrainMonitor(
      rerank: DataFrame,
      maxMeanGap: Double = 0.05,
      maxRankChurn: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("neighbor_id"))
    rerank
      .withColumn("approx_rank", row_number().over(w))
      .agg(
        count(lit(1)).as("n_results"),
        round(sum((col("cos_sim") - col("approx_cos"))
            .cast("decimal(28,10)")).cast("double") / count(lit(1)), 6)
          .as("mean_gap"),
        round(sum(abs(col("cos_sim") - col("approx_cos"))
            .cast("decimal(28,10)")).cast("double") / count(lit(1)), 6)
          .as("mean_abs_gap"),
        round(sum(when(col("rank") =!= col("approx_rank"), 1L)
            .otherwise(0L)).cast("double") / count(lit(1)), 6)
          .as("rank_churn"))
      .select(col("n_results"), col("mean_gap"), col("mean_abs_gap"),
        col("rank_churn"),
        when(col("n_results") === 0, lit(true))
          .otherwise(col("mean_abs_gap") > maxMeanGap ||
            col("rank_churn") > maxRankChurn)
          .as("needs_retrain"))
  }

  /** x72 — [[retrainMonitor]] at PER-APPEND-BATCH grain: the production
    * monitor trends codebook health per append (x61's `batch=`
    * provenance is already on disk for exactly this attribution), so a
    * drifted NEW batch pages while the healthy base corpus does not —
    * the global form averages the drift away until the whole index
    * looks sick.
    *
    * `batchCol` names the batch key on the re-rank frame (callers
    * attribute each neighbor to its index partition; ranks stay
    * per-QUERY — ordering is a query-level property, only the
    * attribution is per-batch). `expectedBatches` seeds the output: a
    * batch the caller expected to monitor but that contributed ZERO
    * re-rank rows still yields a row, with `needs_retrain` forced true
    * — the per-group form of the global monitor's empty-evidence rule
    * (an append whose vectors never surface in any shortlist is
    * unmonitored, not healthy). Gap/churn columns stay NULL for such
    * batches: there is no evidence to summarize, and 0.0 would read as
    * "measured perfect".
    */
  def retrainMonitorPerBatch(
      rerank: DataFrame,
      batchCol: String,
      expectedBatches: Seq[Long] = Seq.empty,
      maxMeanGap: Double = 0.05,
      maxRankChurn: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("neighbor_id"))
    val agg = rerank
      .withColumn("approx_rank", row_number().over(w))
      .groupBy(col(batchCol).cast("long").as("batch"))
      .agg(
        count(lit(1)).as("n_results"),
        round(sum((col("cos_sim") - col("approx_cos"))
            .cast("decimal(28,10)")).cast("double") / count(lit(1)), 6)
          .as("mean_gap"),
        round(sum(abs(col("cos_sim") - col("approx_cos"))
            .cast("decimal(28,10)")).cast("double") / count(lit(1)), 6)
          .as("mean_abs_gap"),
        round(sum(when(col("rank") =!= col("approx_rank"), 1L)
            .otherwise(0L)).cast("double") / count(lit(1)), 6)
          .as("rank_churn"))
    val seeded =
      if (expectedBatches.isEmpty) agg
      else {
        val spark = rerank.sparkSession
        import spark.implicits._
        expectedBatches.toDF("batch").join(agg, Seq("batch"), "left")
      }
    seeded.select(col("batch"),
      coalesce(col("n_results"), lit(0L)).as("n_results"),
      col("mean_gap"), col("mean_abs_gap"), col("rank_churn"),
      when(coalesce(col("n_results"), lit(0L)) === 0, lit(true))
        .otherwise(col("mean_abs_gap") > maxMeanGap ||
          col("rank_churn") > maxRankChurn)
        .as("needs_retrain"))
  }
}
