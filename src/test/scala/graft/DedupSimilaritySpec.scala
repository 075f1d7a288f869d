package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Similarity}
import graft.sources.Tables

/** Recall/precision sanity for the approximate dedup + ANN operators
  * against their exact counterparts on the fixture corpus (planted
  * near-duplicates have Jaccard ≈ 0.99).
  */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf, "documents").cache()
  private lazy val emb = Tables.load(spark, sf, "embeddings").cache()

  test("exact dedup: one group per distinct text, keep_id is the min") {
    val out = Dedup.exact(docs)
    assert(out.count() === docs.select("text").distinct().count())
    assert(out.agg(sum("n_copies")).first().getLong(0) === docs.count())
  }

  test("MinHash-LSH recall: catches nearly all pairs with exact Jaccard >= 0.95") {
    val exact = Dedup.ngramJaccard(docs, minJaccard = 0.95)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall too low (missed ${exact diff lsh})")
  }

  test("SimHash pairs: small Hamming distance implies high Jaccard overlap") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccard(docs, minJaccard = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.nonEmpty)
    val precision = (pairs intersect exact).size.toDouble / pairs.size
    assert(precision >= 0.8, s"simhash precision $precision too low")
  }

  test("IVF ANN recall vs brute force on shared queries") {
    val brute = Similarity.bruteForceTopK(emb, k = 5, queryModulus = 100)
      .filter(col("query_id").isin(0L, 100L, 200L))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queryIds = Seq(0L, 100L, 200L), k = 5, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    // IVF with nprobe=3 of 5 clusters on unclustered random data is a
    // pruning structure, not exhaustive — expect moderate recall.
    assert(recall >= 0.5, s"IVF recall $recall vs brute force")
  }

  test("LSH near-dup candidates verify against exact cosine") {
    val out = Similarity.lshNearDup(emb, minCos = 0.4).collect()
    // every reported pair must satisfy the threshold (verification step)
    assert(out.forall(_.getDouble(2) >= 0.4))
  }

  test("wider LSH bands (the scale knob) strictly shrink toward the default's pairs") {
    // same 16 planes regrouped as 2 bands × 8 bits: an 8-bit band match
    // implies both constituent 4-bit bands match, so the wide variant's
    // pair set must be a subset of the default's (deterministic planes)
    val narrow = Similarity.lshNearDup(emb, minCos = 0.4)
      .select("vec_a", "vec_b")
    val wide = Similarity.lshNearDup(emb, minCos = 0.4, numPlanes = 16, bandBits = 8)
      .select("vec_a", "vec_b")
    assert(wide.exceptAll(narrow).isEmpty, "wide-band pairs must be a subset")
    assert(wide.count() <= narrow.count())
  }

  test("PQ encoding: one code per (vector, subspace), codewords encode " +
      "to themselves at zero error") {
    val enc = Similarity.pqEncode(emb).cache()
    try {
      val n = emb.count()
      assert(enc.count() === n * 16, "m codes per vector")
      assert(enc.groupBy("vec_id", "subspace").count()
        .filter(col("count") =!= 1).count() === 0, "exactly one code per subspace")
      // every assigned code is a legal codebook member
      assert(enc.filter(col("code_id") % 5 =!= 0).count() === 0)
      // a codeword vector's own subvector is at distance 0, so its
      // assignment must have l2_sq == 0 (possibly to a tied twin — the
      // reconstruction is identical either way)
      assert(enc.filter(col("vec_id") % 5 === 0 && col("l2_sq") =!= 0.0)
        .count() === 0, "codewords must self-encode at zero error")
    } finally enc.unpersist()
  }

  test("PQ codebook cap: maxCodes bounds the codebook however large the corpus") {
    // the linearity contract: code ids can only come from the first
    // maxCodes modulus survivors (vec_id < codeModulus·maxCodes), and
    // every (vector, subspace) still gets exactly one code
    val enc = Similarity.pqEncode(emb, maxCodes = 10).cache()
    try {
      assert(enc.filter(col("code_id") >= 5L * 10).count() === 0,
        "codes past the cap must never be assigned")
      assert(enc.count() === emb.count() * 16)
      assert(enc.groupBy("vec_id", "subspace").count()
        .filter(col("count") =!= 1).count() === 0)
    } finally enc.unpersist()
  }

  test("PQ ADC degenerates to exact brute-force when every vector is a codeword") {
    // codeModulus=1 + uncapped codebook: each subvector reconstructs
    // exactly (its own codeword), so Σ dp = dot(q, v) and Σ cn2 = |v|²
    // — approx_cos IS the cosine up to the 9-decimal LUT rounding, and
    // the top-k set must match brute force exactly
    val qs = Seq(0L, 100L, 200L)
    val brute = Similarity.bruteForceTopK(emb, k = 5, queryModulus = 100)
      .filter(col("query_id").isin(qs: _*))
      .select("query_id", "neighbor_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
    val adc = Similarity.pqTopK(emb, queryIds = qs, k = 5, codeModulus = 1,
        maxCodes = Int.MaxValue)
      .select("query_id", "neighbor_id", "approx_cos")
      .as[(Long, Long, Double)].collect()
    assert(adc.map(r => (r._1, r._2)).toSet === brute.map(r => (r._1, r._2)).toSet,
      "degenerate ADC must return the exact top-k set")
    val bruteScore = brute.map(r => (r._1, r._2) -> r._3).toMap
    adc.foreach { case (q, nb, s) =>
      assert(math.abs(s - bruteScore((q, nb))) <= 2e-6,
        s"degenerate ADC score for ($q, $nb): $s vs ${bruteScore((q, nb))}")
    }
  }

  test("PQ ADC recall vs brute force at the default codebook") {
    // lossy by design — assert the structure is a useful pruner on the
    // fixture, and that scores stay in the cosine range
    val qs = Seq(0L, 100L, 200L)
    val brute = Similarity.bruteForceTopK(emb, k = 5, queryModulus = 100)
      .filter(col("query_id").isin(qs: _*))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val adc = Similarity.pqTopK(emb, queryIds = qs, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect adc).size.toDouble / brute.size
    assert(recall >= 0.4, s"ADC recall $recall vs brute force")
    val range = Similarity.pqTopK(emb, queryIds = qs, k = 5)
      .filter(col("approx_cos") < -1.01 || col("approx_cos") > 1.01).count()
    assert(range === 0, "approx cosine must stay in [-1, 1]")
  }

  test("IVF-PQ with every bucket probed equals the full ADC scan bit-for-bit") {
    // nprobe ≥ #centroids ⇒ the probe join keeps every bucket, so the
    // scored candidate set is the whole corpus and x56 must reproduce
    // x55 exactly (same LUT rounding, same DECIMAL sums, same ranking)
    val qs = Seq(0L, 100L, 200L)
    val full = Similarity.pqTopK(emb, queryIds = qs, k = 5)
      .select("query_id", "rank", "neighbor_id", "approx_cos")
    val ivfpq = Similarity.ivfPqTopK(emb, queryIds = qs, k = 5,
        nprobe = Int.MaxValue)
      .select("query_id", "rank", "neighbor_id", "approx_cos")
    assert(ivfpq.exceptAll(full).isEmpty && full.exceptAll(ivfpq).isEmpty,
      "full-probe IVF-PQ must equal the unpruned ADC scan")
  }

  test("IVF-PQ nprobe=1: every neighbor lives in the query's nearest bucket") {
    // recompute the coarse assignment independently (window form) and
    // assert the pruning actually constrains candidates to the probed
    // bucket — the property that makes the scanned fraction
    // nprobe/#centroids instead of 1
    import org.apache.spark.sql.expressions.Window
    val vecs = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val cents = vecs.filter(col("vec_id") % 100 === 0)
      .orderBy(col("vec_id")).limit(1024)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"))
    val d2 = round(graft.functions.L2Sq.l2_sq(col("v"), col("cv")), 6)
    val w = Window.partitionBy("vec_id").orderBy(col("d2"), col("centroid_id"))
    val assigned = vecs.join(broadcast(cents))
      .select(col("vec_id"), col("centroid_id"), d2.as("d2"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("centroid_id"))
    val qs = Seq(0L, 100L, 200L)
    val out = Similarity.ivfPqTopK(emb, queryIds = qs, k = 5, nprobe = 1)
    val wrongBucket = out
      .join(assigned.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(assigned.withColumnRenamed("vec_id", "query_id")
          .withColumnRenamed("centroid_id", "q_centroid"), Seq("query_id"))
      .filter(col("centroid_id") =!= col("q_centroid"))
    assert(wrongBucket.count() === 0,
      "nprobe=1 neighbors must all come from the query's own bucket")
    assert(out.groupBy("query_id").count().filter(col("count") > 5).count() === 0)
  }

  test("trained PQ codebook: Lloyd iterations cut reconstruction error") {
    // the k-means objective (sum of squared distances to assigned
    // codewords) is non-increasing per exact Lloyd iteration; with the
    // per-cell round-to-6 the movement dwarfs the rounding, so total
    // error must strictly drop on this fixture — the property that
    // makes training worth its scans. Same m ⇒ same bytes per vector.
    import spark.implicits._
    def totalErr(it: Int): Double =
      Similarity.pqEncode(emb, trainIters = it)
        .agg(sum(col("l2_sq"))).head().getDouble(0)
    val e0 = totalErr(0); val e1 = totalErr(1); val e2 = totalErr(2)
    assert(e1 < e0, f"1 Lloyd iter must cut error: $e1%.3f !< $e0%.3f")
    assert(e2 <= e1 * 1.000001, f"2nd iter must not regress: $e2%.3f vs $e1%.3f")
    // training must not change the output contract: one code per
    // (vector, subspace), code ids still from the convention id space
    val enc = Similarity.pqEncode(emb, trainIters = 2)
    assert(enc.groupBy("vec_id", "subspace").count()
      .filter(col("count") =!= 1).count() === 0)
  }

  test("training preserves the codebook key set — the cap is invariant") {
    // the fixed codebook size is what keeps the whole PQ family linear
    // in the corpus; Lloyd iterations move codeword VALUES but must
    // never add, drop, or renumber entries (empty clusters keep their
    // codeword rather than vanishing). Compare the (subspace, code_id)
    // key set of the trained encode's assignments' codomain indirectly:
    // every assigned code id at iters=2 must be a convention code id,
    // and both encodes must emit the same m subspaces per vector.
    val trained = Similarity.pqEncode(emb, trainIters = 2)
    // the convention id SPACE at the defaults (cm=5, maxCodes=256):
    // ids ≡ 0 (mod 5) below 1280 — a trained codeword may win
    // assignments its convention ancestor never did, but its ID must
    // come from this capped set
    val validIds = spark.range(0, 1280, 5)
      .select(col("id").as("code_id"))
    val invalid = trained.join(validIds, Seq("code_id"), "left_anti")
    assert(invalid.count() === 0,
      "trained assignments must stay inside the capped convention id space")
    assert(trained.groupBy("vec_id").count()
      .filter(col("count") =!= 16).count() === 0,
      "every vector still gets exactly m codes after training")
  }

  test("persisted IVF-PQ index searches bit-identically to the in-plan build") {
    // the x59 contract: parquet round-trip of the index (codes +
    // centroids + codebook) must not change a single result — searches
    // over the stored tables equal ivfPqTopK at the same parameters
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_spec").toString
    Similarity.ivfPqWriteIndex(emb, idx)
    val qs = Seq(0L, 100L, 200L)
    val stored = Similarity.ivfPqSearchIndex(emb, idx, qs, k = 5, nprobe = 2)
    val inplan = Similarity.ivfPqTopK(emb, queryIds = qs, k = 5, nprobe = 2)
    assert(stored.exceptAll(inplan).isEmpty && inplan.exceptAll(stored).isEmpty,
      "stored-index search must equal the in-plan composition")
    // the stored codes side must arrive pre-bucketed: one parquet dir
    // per index table, codes partitioned so probe filters prune files
    for (t <- Seq("codes", "centroids", "codebook"))
      assert(new java.io.File(s"$idx/$t").exists(), s"missing $t table")
  }

  test("appending a batch to a persisted index equals rebuilding from scratch") {
    // the x61 contract: with the batch disjoint from the quantizer
    // conventions, build(90%) + append(10%) must yield the SAME index
    // tables a one-shot full-corpus build writes — compared at the
    // index level (stronger than comparing search results, which only
    // see probed buckets)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_append_spec").toString
    val idxFull = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_full_spec").toString
    val initial = emb.filter(col("vec_id") % 10 =!= 9)
    val batch = emb.filter(col("vec_id") % 10 === 9)
    Similarity.ivfPqWriteIndex(initial, idx)
    val before = spark.read.parquet(s"$idx/codes").count()
    Similarity.ivfPqAppendIndex(batch, idx)
    Similarity.ivfPqWriteIndex(emb, idxFull)
    val appended = spark.read.parquet(s"$idx/codes")
    // the append landed (m = 16 code rows per batch vector) ...
    assert(appended.count() - before === batch.count() * 16,
      "append must add exactly m code rows per batch vector")
    // ... and the merged index is byte-equal to the one-shot build
    val full = spark.read.parquet(s"$idxFull/codes")
    assert(appended.exceptAll(full).isEmpty && full.exceptAll(appended).isEmpty,
      "append must reproduce the full-corpus index exactly")
    // search over the appended index equals the in-plan composition
    val qs = Seq(0L, 100L, 200L)
    val stored = Similarity.ivfPqSearchIndex(emb, idx, qs, k = 5, nprobe = 2)
    val inplan = Similarity.ivfPqTopK(emb, queryIds = qs, k = 5, nprobe = 2)
    assert(stored.exceptAll(inplan).isEmpty && inplan.exceptAll(stored).isEmpty,
      "search over an appended index must equal the in-plan composition")
  }

  test("retrain monitor: a drifted append trips needs_retrain, in-distribution search does not") {
    // the x67 contract, on the real lifecycle: codebooks trained and
    // persisted on the base corpus, a batch from a SHIFTED distribution
    // appended with those codebooks frozen (x61 semantics) — the
    // monitor must read the drift out of the re-rank audit column
    val idx = java.nio.file.Files
      .createTempDirectory("graft_retrain_spec").toString
    Similarity.ivfPqWriteIndex(emb, idx, trainIters = 2)
    val qsBase = Seq(0L, 100L, 200L)
    val control = Similarity.retrainMonitor(
      Similarity.ivfPqSearchIndexReranked(emb, idx, qsBase, k = 5)).head()
    // drifted batch: every coordinate shifted +3 — far from every
    // trained cell center, so the frozen codebooks misquantize it
    val stride = 1000000L
    val drifted = emb.select((col("vec_id") + stride).as("vec_id"),
      transform(col("embedding"), x => x + lit(3.0)).as("embedding"),
      col("label"))
    Similarity.ivfPqAppendIndex(drifted, idx)
    val combined = emb.select("vec_id", "embedding", "label")
      .unionByName(drifted)
    val drift = Similarity.retrainMonitor(
      Similarity.ivfPqSearchIndexReranked(
        combined, idx, qsBase.map(_ + stride), k = 5)).head()
    assert(drift.getAs[Double]("mean_abs_gap") > control.getAs[Double]("mean_abs_gap"),
      s"drift must raise the quantization gap: control=$control drift=$drift")
    assert(drift.getAs[Boolean]("needs_retrain"),
      s"drifted append must trip the monitor: $drift")
    assert(!control.getAs[Boolean]("needs_retrain"),
      s"trained in-distribution search must not trip the monitor: $control")
    // zero evidence must page, not report healthy (NULL thresholds
    // would read back as false through getAs[Boolean])
    val empty = Similarity.retrainMonitor(
      Seq.empty[(Long, Int, Long, Double, Double)]
        .toDF("query_id", "rank", "neighbor_id", "cos_sim", "approx_cos")).head()
    assert(empty.getAs[Long]("n_results") === 0L &&
      empty.getAs[Boolean]("needs_retrain"),
      s"empty monitored frame must flag needs_retrain: $empty")
  }

  test("per-batch retrain monitor: increasing drift trends up, empty batch pages") {
    // the x72 contract on a controlled frame: three append batches of
    // increasing quantization gap (constant per-row shift, so churn
    // stays 0 and mean_abs_gap IS the injected gap), plus a seeded
    // batch that contributed no re-rank rows
    val gaps = Map(0L -> 0.01, 1L -> 0.04, 2L -> 0.08)
    val rows = for {
      (b, gap) <- gaps.toSeq
      r <- 1 to 5
    } yield {
      val cos = 1.0 - r * 0.05
      (b * 10 + 1L, r, b * 100 + r.toLong, cos, cos - gap, b)
    }
    val rr = rows.toDF("query_id", "rank", "neighbor_id",
      "cos_sim", "approx_cos", "batch")
    val out = Similarity.retrainMonitorPerBatch(rr, "batch",
        expectedBatches = Seq(0L, 1L, 2L, 3L))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet === Set(0L, 1L, 2L, 3L))
    // the trend: gap rises batch over batch, exactly as injected
    val measured = Seq(0L, 1L, 2L).map(b => out(b).getAs[Double]("mean_abs_gap"))
    assert(measured === Seq(0.01, 0.04, 0.08), s"gap trend off: $measured")
    assert(measured.sliding(2).forall { case Seq(a, b) => a < b },
      "drift must trend up across appends")
    // threshold (0.05) separates the batches: only the worst pages
    assert(!out(0L).getAs[Boolean]("needs_retrain"))
    assert(!out(1L).getAs[Boolean]("needs_retrain"))
    assert(out(2L).getAs[Boolean]("needs_retrain"),
      "the drifted append must page at per-batch grain")
    // the same frame through the GLOBAL monitor averages the drift
    // away — the reason the per-batch grain exists
    val global = Similarity.retrainMonitor(rr).head()
    assert(!global.getAs[Boolean]("needs_retrain"),
      s"global mean should mask the one bad batch here: $global")
    // expected-but-absent batch: forced page with NULL evidence
    val missing = out(3L)
    assert(missing.getAs[Long]("n_results") === 0L)
    assert(missing.getAs[Boolean]("needs_retrain"),
      "an unmonitored expected batch must page, not read healthy")
    assert(missing.isNullAt(missing.fieldIndex("mean_abs_gap")),
      "no evidence must stay NULL, not read as measured-perfect 0.0")
  }

  test("production path: trained + persisted + reranked equals the in-plan chain") {
    // x60's composition (trained codebook -> stored index -> pruned
    // compressed search -> exact re-rank) must equal the same chain
    // composed lazily in one plan — the parquet round-trip and the
    // split build/search seam add nothing and lose nothing
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_prod_spec").toString
    Similarity.ivfPqWriteIndex(emb, idx, trainIters = 2)
    val qs = Seq(0L, 100L, 200L)
    val stored = Similarity.ivfPqSearchIndexReranked(emb, idx, qs, k = 5)
    val inplan = Similarity.ivfPqRerankTopK(emb, queryIds = qs, k = 5,
      trainIters = 2)
    assert(stored.exceptAll(inplan).isEmpty && inplan.exceptAll(stored).isEmpty,
      "the persisted production path must equal the in-plan composition")
  }

  test("re-rank with full probe and corpus-wide shortlist IS brute force") {
    // shortlist >= corpus and nprobe >= #centroids ⇒ nothing is pruned
    // anywhere, so the exact re-rank must reproduce the brute-force
    // top-k including the exact cos_sim values — the property that
    // makes x57 "verified": its scores ARE x07's, only the candidate
    // set is approximate
    import spark.implicits._
    val qs = Seq(0L, 100L, 200L)
    val n = emb.count().toInt
    val brute = Similarity.bruteForceTopK(emb, k = 5, queryModulus = 100)
      .filter(col("query_id").isin(qs: _*))
      .select("query_id", "rank", "neighbor_id", "cos_sim")
    val rr = Similarity.ivfPqRerankTopK(emb, queryIds = qs, k = 5,
        shortlist = n, nprobe = Int.MaxValue)
      .select("query_id", "rank", "neighbor_id", "cos_sim")
    assert(rr.exceptAll(brute).isEmpty && brute.exceptAll(rr).isEmpty,
      "unpruned re-rank must equal brute force bit-for-bit")
  }

  test("pq_argmin on an empty codebook is NULL, not an NPE, in codegen") {
    // the empty-candidate case has no argmin: the expression must be
    // nullable and a downstream struct-field access must see NULL —
    // codegen path included (nullSafeCodeGen alone would report
    // isNull=false with a null struct and NPE the GetStructField)
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0), Array.empty[Long], Array.empty[Double]))
      .toDF("sv", "ids", "flat")
    val out = df.select(
      graft.functions.PqArgMin.pq_argmin(col("sv"), col("ids"), col("flat"))
        .as("am"))
      .select(col("am"), col("am.code_id").as("cid"))
      .collect()
    assert(out.length === 1 && out.head.isNullAt(0) && out.head.isNullAt(1))
    // and a non-empty codebook still computes through the same path
    val ok = Seq((Array(1.0, 2.0), Array(7L, 3L), Array(1.0, 2.0, 1.0, 2.0)))
      .toDF("sv", "ids", "flat")
      .select(graft.functions.PqArgMin.pq_argmin(
        col("sv"), col("ids"), col("flat")).as("am"))
      .select(col("am.l2_sq"), col("am.code_id")).head()
    assert(ok.getDouble(0) === 0.0 && ok.getLong(1) === 3L,
      "exact-match codewords tie at 0.0; lowest code id wins")
  }

  test("dedup-before-index: no returned neighbor is a semantic duplicate") {
    // x80: the index holds only SemDeDup representatives, so a search
    // can never return a vector the dedup pass marked redundant.
    val dd = Similarity.semDedupHierarchical(emb, minCos = 0.45).cache()
    val dups = dd.filter(col("is_dup")).select("vec_id").as[Long].collect().toSet
    assert(dups.nonEmpty, "fixture should contain semantic dups at minCos=0.45")
    val reps = emb.join(dd.filter(!col("is_dup")).select("vec_id"), Seq("vec_id"))
    val idx = java.nio.file.Files
      .createTempDirectory("graft_x80_spec").toString
    Similarity.ivfPqWriteIndex(reps, idx, trainIters = 2)
    val out = Similarity.ivfPqSearchIndexReranked(emb, idx,
      queryIds = Seq(7L, 177L, 357L))
    val neighbors = out.select("neighbor_id").as[Long].collect()
    assert(neighbors.nonEmpty)
    assert(neighbors.forall(n => !dups.contains(n)),
      s"index of representatives returned a dup: ${neighbors.filter(dups).toSeq}")
  }

  test("dedup-before-index: with no duplicates the chain IS the x60 lifecycle") {
    // degeneracy anchor: a minCos no witness can reach keeps every
    // vector a representative, so x80's index is x60's index and the
    // search results must match bit-for-bit.
    val dd = Similarity.semDedupHierarchical(emb, minCos = 1.01)
    assert(dd.filter(col("is_dup")).isEmpty)
    val reps = emb.join(dd.filter(!col("is_dup")).select("vec_id"), Seq("vec_id"))
    val idxReps = java.nio.file.Files
      .createTempDirectory("graft_x80_reps").toString
    val idxAll = java.nio.file.Files
      .createTempDirectory("graft_x80_all").toString
    Similarity.ivfPqWriteIndex(reps, idxReps, trainIters = 2)
    Similarity.ivfPqWriteIndex(emb, idxAll, trainIters = 2)
    val qs = Seq(7L, 177L, 357L)
    val a = Similarity.ivfPqSearchIndexReranked(emb, idxReps, qs)
    val b = Similarity.ivfPqSearchIndexReranked(emb, idxAll, qs)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "no-dup x80 must equal the x60 chain bit-for-bit")
  }

  test("semantic screen: single-cell degenerate IS the brute-force screen") {
    // with a modulus larger than any vec_id, only vector 0 is a
    // centroid, every vector lands in its cell, and the within-cell
    // pass degenerates to exact all-pairs — the x33-style anchor that
    // pins the bucketing as the only approximation.
    val bench = emb.filter(col("vec_id") % 100 === 50)
    val corpus = emb.filter(col("vec_id") % 100 =!= 50)
    val screened = Similarity.semanticScreen(corpus, bench,
        minCos = 0.3, centroidModulus = Int.MaxValue)
      .select("bench_id", "n_matches", "contaminated")
      .as[(Long, Long, Boolean)].collect()
      .map { case (b, n, c) => b -> ((n, c)) }.toMap
    // brute force over the same frames
    val b = bench.select(col("vec_id").as("bid"),
      col("embedding").cast("array<double>").as("bv"))
    val c = corpus.select(col("vec_id").as("cid"),
      col("embedding").cast("array<double>").as("cv"))
    val brute = b.crossJoin(c)
      .select(col("bid"),
        round(graft.functions.CosineSim.cosine_sim(col("bv"), col("cv")), 6).as("cs"))
      .filter(col("cs") >= 0.3)
      .groupBy("bid").count()
      .as[(Long, Long)].collect().toMap
    assert(screened.nonEmpty)
    screened.foreach { case (bid, (n, contaminated)) =>
      assert(n === brute.getOrElse(bid, 0L),
        s"bench $bid: bucketed $n vs brute ${brute.getOrElse(bid, 0L)}")
      assert(contaminated === brute.contains(bid))
    }
  }

  test("semantic screen: a paraphrase-close pair is flagged, a distant one is not") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dims = 64
    def vec(seed: Double*): Seq[Float] =
      (seed ++ Seq.fill(dims - seed.size)(0.0)).map(_.toFloat)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val corpus = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(0L, vec(1.0, 0.0)), // centroid
        Row(1L, vec(0.9, 0.1)), // near bench 50
        Row(2L, vec(-1.0, 0.5))),
      schema)
    val bench = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(50L, vec(0.95, 0.05)), // close to corpus 0 and 1
        Row(150L, vec(0.0, 0.0, 0.0, 0.0, 1.0))), // orthogonal to all
      schema)
    val out = Similarity.semanticScreen(corpus, bench, minCos = 0.9)
      .select("bench_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(out === Map(50L -> true, 150L -> false))
  }

  test("stored semantic screen: bit-identical to in-plan, and the vectors " +
    "scan carries a literal partition filter") {
    val bench = emb.filter(col("vec_id") % 100 === 50)
    val corpus = emb.filter(col("vec_id") % 100 =!= 50)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_x90_spec").toString
    Similarity.writeSemanticIndex(corpus, idx)
    val stored = Similarity.semanticScreenIndex(bench, idx, minCos = 0.4)
    val inplan = Similarity.semanticScreen(corpus, bench, minCos = 0.4)
    assert(stored.exceptAll(inplan).isEmpty && inplan.exceptAll(stored).isEmpty,
      "storage round-trip must not change a single screen verdict")
    // the probed cells reach the stored vectors scan as partition pruning
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"),
      "vectors scan must prune by the probed centroid directories")
  }

  test("duplicate spans: cross-doc block found, overlaps merged, within-doc repeat counts") {
    // doc 1 and 2 share tokens 2..7 (a 4-gram at k=3 would hit twice);
    // doc 3 repeats its own 3 tokens twice; doc 4 shares nothing.
    val boiler = "the quick brown fox jumps over"
    val d = Seq(
      (1L, s"alpha beta $boiler gamma delta"),
      (2L, s"one two $boiler three four five"),
      (3L, "repeat me now filler repeat me now"),
      (4L, "entirely unique text with no duplicated grams at all")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(d, k = 3)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long, Long)].collect()

    // docs 1/2: the shared 6-token block starts at token 2 in both;
    // its four overlapping 3-gram hits merge into ONE span of 6 tokens.
    val byDoc = out.groupBy(_._1)
    assert(byDoc(1L).toSeq === Seq((1L, 2L, 8L, 6L, 4L)))
    assert(byDoc(2L).toSeq === Seq((2L, 2L, 8L, 6L, 4L)))
    // doc 3: "repeat me now" occurs twice IN THE SAME doc (positions 0
    // and 4); the two hits are 4 apart > k=3, so two separate spans.
    assert(byDoc(3L).toSeq === Seq((3L, 0L, 3L, 3L, 1L), (3L, 4L, 7L, 3L, 1L)))
    // doc 4 contributes no rows at all.
    assert(!byDoc.contains(4L))
  }

  test("duplicate spans: adjacent-but-distinct hot grams merge into one span") {
    // grams at positions 0 and 3 with k=3: spans [0,3) and [3,6) are
    // adjacent (pos diff == k), so they merge into [0,6).
    val d = Seq(
      (1L, "aa bb cc dd ee ff"),
      (2L, "aa bb cc xx yy zz"), // makes gram@0 of doc 1 hot
      (3L, "qq rr dd ee ff ss") // makes gram@3 of doc 1 hot
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(d, k = 3)
      .filter(col("doc_id") === 1L)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 0L, 6L, 6L, 2L)),
      s"adjacent spans should merge: ${out.toSeq}")
  }

  test("remove duplicate spans: corpus-first copy survives, later copies cut, " +
    "totals conserved") {
    val d = Seq(
      (1L, "a b c d e x y z"), // first occurrence of the shared block
      (2L, "p q a b c d r s"), // "a b c"/"b c d" redundant → pos 2..5 cut
      (3L, "m n o f m n o g"), // within-doc repeat: second "m n o" cut
      (4L, "a b c d"), // fully covered → empty clean text
      (5L, "totally unrelated tokens here") // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(d, k = 3)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(out(0) === ((1L, "a b c d e x y z", 8L, 0L)),
      "the corpus-first occurrence must survive untouched")
    assert(out(1) === ((2L, "p q r s", 4L, 4L)))
    assert(out(2) === ((3L, "m n o f g", 5L, 3L)))
    assert(out(3) === ((4L, "", 0L, 4L)),
      "a fully-redundant doc keeps a row with empty clean text")
    assert(out(4) === ((5L, "totally unrelated tokens here", 4L, 0L)))
    // conservation: kept + removed = tokenized length, every doc present
    assert(out.length === 5)
    assert(out.forall { case (_, _, kept, rem) => kept + rem > 0 || kept == 0 })
  }

  test("remove duplicate spans: the redundancy rule is an aggregate, not a " +
    "per-gram window — no Window operator anywhere in the plan") {
    // the corpus-first occurrence is min(struct(doc_id, pos)) per gram
    // hash: associative, map-side combined. A row_number window over
    // grams would sort every occurrence of every gram on one reducer
    // per gram — the boilerplate-gram straggler by construction.
    val plan = Dedup.removeDuplicateSpans(docs, k = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "x81 must not contain a Window operator (argmax is an aggregate)")
  }

  test("incremental span screen: indexed grams flag batch spans; " +
    "build+append equals rebuild") {
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different historical content here")
    ).toDF("doc_id", "text")
    val extra = Seq((3L, "an appended document with novel words")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "prefix quick brown fox tail"), // "quick brown fox" indexed via doc 1
      (11L, "an appended document suffix y z"), // hits only via the appended doc 3
      (12L, "nothing indexed matches this one")
    ).toDF("doc_id", "text")
    val idxA = java.nio.file.Files.createTempDirectory("graft_x85_a").toString
    val idxB = java.nio.file.Files.createTempDirectory("graft_x85_b").toString
    // build(existing) + append(extra) vs build(existing ∪ extra)
    Dedup.writeGramIndex(existing, idxA, k = 3)
    Dedup.appendGramIndex(extra, idxA, k = 3)
    Dedup.writeGramIndex(existing.unionByName(extra), idxB, k = 3)
    val a = Dedup.duplicateSpansAgainstIndex(batch, idxA, k = 3)
    val b = Dedup.duplicateSpansAgainstIndex(batch, idxB, k = 3)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "append path must screen identically to a fresh rebuild")
    val rows = a.orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long, Long)].collect()
    // doc 10: "quick brown fox" at pos 1 → one 3-token span
    assert(rows.filter(_._1 == 10L).toSeq === Seq((10L, 1L, 4L, 3L, 1L)))
    // doc 11: "an appended document" at pos 0 (from the APPENDED index files)
    assert(rows.filter(_._1 == 11L).toSeq === Seq((11L, 0L, 3L, 3L, 1L)))
    // doc 12: clean — no rows
    assert(!rows.exists(_._1 == 12L))
  }

  test("bloom span screen: full lifecycle (build + overlapping appends + " +
    "compact) screens identically to the flat index; compaction drops " +
    "the duplicate gram rows appends accumulate") {
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different historical content here")
    ).toDF("doc_id", "text")
    val extra = Seq((3L, "an appended document with novel words")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "prefix quick brown fox tail"),
      (11L, "an appended document suffix y z"),
      (12L, "nothing indexed matches this one")
    ).toDF("doc_id", "text")
    val flat = java.nio.file.Files.createTempDirectory("graft_x95_flat").toString
    val bidx = java.nio.file.Files.createTempDirectory("graft_x95_bkt").toString
    Dedup.writeGramIndex(existing.unionByName(extra), flat, k = 3)
    Dedup.writeGramIndexBucketed(existing, bidx, k = 3, buckets = 16)
    Dedup.appendGramIndexBucketed(extra, bidx, k = 3)
    // a fully-overlapping re-append: correctness must not change, but
    // duplicate rows pile up until compaction
    Dedup.appendGramIndexBucketed(existing, bidx, k = 3)
    val preCompact = spark.read.parquet(bidx).count()
    val distinctN = spark.read.parquet(bidx).select("g").distinct().count()
    assert(preCompact > distinctN, "overlapping append must add duplicate rows")
    Dedup.compactGramIndex(spark, bidx)
    assert(spark.read.parquet(bidx).count() === distinctN,
      "compaction must leave exactly the distinct gram set")
    val a = Dedup.duplicateSpansAgainstIndexBloom(batch, bidx, k = 3)
    val b = Dedup.duplicateSpansAgainstIndex(batch, flat, k = 3)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "bloom-gated bucketed screen must equal the flat screen")
  }

  test("bloom span screen: the append trigger compacts when files-per-" +
    "bucket exceeds the threshold, and the screen is invariant across it") {
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different historical content here")
    ).toDF("doc_id", "text")
    val batches = Seq(
      Seq((3L, "an appended document with novel words")),
      Seq((4L, "another later batch of fresh material")),
      Seq((5L, "yet more streamed text arriving here now")))
      .map(_.toDF("doc_id", "text"))
    val batch = Seq(
      (10L, "prefix quick brown fox tail"),
      (11L, "an appended document suffix y z"),
      (12L, "another later batch of what now")).toDF("doc_id", "text")
    // disabled trigger: every append adds files, nothing reaps them
    val off = java.nio.file.Files.createTempDirectory("graft_trig_off").toString
    Dedup.writeGramIndexBucketed(existing, off, k = 3, buckets = 4)
    batches.foreach(b =>
      Dedup.appendGramIndexBucketed(b, off, k = 3, maxFilesPerBucket = 0))
    val unbounded = graft.ext.IndexFs.countDataFiles(spark, off)
    assert(unbounded > 4,
      s"without the trigger appends must accumulate files, got $unbounded")
    // threshold 1 file per bucket: the trigger fires inside append and
    // the live file count stays bounded at one file per bucket — per
    // the CURRENT scheme: the trigger-scheduled compaction re-derives
    // the bucket count from measured cardinality (round 14 — this is
    // how a bootstrap-sized index grows its scheme), so the bound is
    // against the re-derived count (the auto floor, 8, at fixture
    // scale), not the pinned build-time 4
    val on = java.nio.file.Files.createTempDirectory("graft_trig_on").toString
    Dedup.writeGramIndexBucketed(existing, on, k = 3, buckets = 4)
    batches.foreach(b =>
      Dedup.appendGramIndexBucketed(b, on, k = 3, maxFilesPerBucket = 1))
    assert(graft.ext.IndexFs.countDataFiles(spark, on) <= 8,
      "the trigger must keep the index at <= maxFilesPerBucket x buckets" +
        " (re-derived scheme)")
    // and the reaping changed nothing the screen can observe
    val a = Dedup.duplicateSpansAgainstIndexBloom(batch, on, k = 3)
    val b = Dedup.duplicateSpansAgainstIndexBloom(batch, off, k = 3)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "screen output must be invariant across the compaction trigger")
  }

  test("bloom span screen: candidate buckets reach the stored index scan " +
    "as a partition filter, and the sidecar bloom has no false negatives") {
    val existing = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val batch = Seq((10L, "xx alpha beta gamma yy")).toDF("doc_id", "text")
    val bidx = java.nio.file.Files.createTempDirectory("graft_x95_pf").toString
    Dedup.writeGramIndexBucketed(existing, bidx, k = 3, buckets = 16)
    val screened = Dedup.duplicateSpansAgainstIndexBloom(batch, bidx, k = 3)
    val rows = screened.orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long, Long)].collect()
    // "alpha beta gamma" indexed at pos 1 of the batch doc
    assert(rows.toSeq === Seq((10L, 1L, 4L, 3L, 1L)))
    val plan = screened.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      s"index scan must prune by candidate bucket directories:\n$plan")
    // false-negative-free: every indexed gram passes the sidecar gate
    val bf = Dedup.readBloomSidecar(spark, bidx).bf
    val missed = spark.read.parquet(bidx).select("g").as[Long]
      .collect().filterNot(bf.mightContainLong)
    assert(missed.isEmpty, s"bloom misses indexed grams: ${missed.take(5).toSeq}")
  }

  test("benchmark span decontamination: leaked span cut, rest of doc kept, " +
    "benchmark-free docs untouched") {
    val bench = Seq((100L, "what is the capital of france")).toDF("doc_id", "text")
    val corpus = Seq(
      // leaks the 5-gram "what is the capital of" (and "is the ... france")
      (1L, "intro text what is the capital of france answer paris"),
      (2L, "no overlap with any benchmark content here at all")
    ).toDF("doc_id", "text")
    val out = Dedup.removeBenchmarkSpans(corpus, bench, k = 5)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    // doc 1: grams@2 and @3 hit → positions 2..7 cut ("what is the
    // capital of france"), keeping "intro text answer paris"
    assert(out(0) === ((1L, "intro text answer paris", 4L, 6L)))
    assert(out(1) === ((2L, "no overlap with any benchmark content here at all", 9L, 0L)))
  }

  test("benchmark span decontamination: the benchmark gram set joins as a " +
    "broadcast, never a corpus-keyed shuffle") {
    val bench = docs.filter(col("source") === "src0")
    val corpus = docs.filter(col("source") =!= "src0")
    val plan = Dedup.removeBenchmarkSpans(corpus, bench, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "benchmark gram set must broadcast (the x30 contract)")
    // exactly ONE gram-hash exchange: the BENCHMARK-side distinct
    // (benchmark-sized, feeding the broadcast). The corpus gram stream
    // must reach the match join map-side — a second g exchange would
    // mean the corpus stream is being shuffled on the gram hash.
    val gExchanges = "hashpartitioning\\(g#".r.findAllIn(plan).size
    assert(gExchanges == 1,
      s"expected one g exchange (bench distinct only), got $gExchanges")
  }

  test("duplicate spans: span merge reuses the doc partitioning — no exchange " +
    "between the window and the final aggregate") {
    val plan = Dedup.duplicateSpans(docs, k = 8).queryExecution.executedPlan.toString
    // the window sort and the span aggregate sit on ONE doc_id exchange:
    // count hashpartitioning exchanges keyed by doc_id alone (the gram
    // count + join-back are keyed by g).
    val docExchanges = "hashpartitioning\\(doc_id".r.findAllIn(plan).size
    assert(docExchanges == 1,
      s"expected one doc_id exchange (window+agg shared), got $docExchanges")
  }

  test("hardNegatives: the dup ceiling guards out copies; ranking and override hold") {
    val dim = 64
    // cos(anchor, (a, b)-mix) = a/sqrt(a^2+b^2): (4,3) -> 0.8, (3,4) -> 0.6
    def mix(a: Float, b: Float): Seq[Float] =
      Seq.tabulate(dim)(d => if (d == 0) a else if (d == 1) b else 0.0f)
    val emb = Seq(
      0L -> mix(1, 0),   // the anchor (vec_id % 100 == 0)
      1L -> mix(1, 0),   // exact copy: cos 1.0 >= 0.9 -> a FALSE negative,
                         // must never surface
      2L -> mix(4, 3),   // cos 0.8 -> the hardest admissible negative
      3L -> mix(3, 4),   // cos 0.6
      4L -> mix(0, 1)    // cos 0.0
    ).toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(emb, k = 2, queryModulus = 100,
      dupCos = 0.9).collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out === Seq((0L, 1, 2L, 0.8), (0L, 2, 3L, 0.6)),
      "hardest-first below the ceiling; the copy excluded")
    // widening k admits the weaker negatives but never the copy
    val all = Similarity.hardNegatives(emb, k = 5, queryModulus = 100,
      dupCos = 0.9).select("neighbor_id").as[Long].collect().toSet
    assert(all === Set(2L, 3L, 4L))
    // explicit anchor override (the fixed-anchor harness path)
    val byId = Similarity.hardNegatives(emb, k = 1, dupCos = 0.9,
      queryIds = Seq(4L)).collect()
    assert(byId.length === 1 && byId(0).getLong(0) === 4L &&
      byId(0).getLong(2) === 3L, "anchor 4's hardest negative is the 0.8-mix 3")
  }

  test("hardNegativesIVF: exhaustive probing equals the brute form; pruning only drops unprobed cells") {
    val dim = 64
    def unit(axis: Int, eps: (Int, Float)*): Seq[Float] =
      Seq.tabulate(dim) { d =>
        if (d == axis) 1.0f
        else eps.collectFirst { case (a, e) if a == d => e }.getOrElse(0.0f)
      }
    // two cells (centroids 0 and 100 on different axes), anchors on
    // modulus 50 — anchor 50 is NOT a centroid and sits between cells
    val emb = Seq(
      0L -> unit(0),                       // centroid / anchor, cell A
      1L -> unit(0, 1 -> 0.3f),            // cell A member
      2L -> unit(0, 1 -> 0.02f),           // cell A: cos ≈ 1.0 — a copy
      50L -> unit(0, 1 -> 0.6f),           // anchor, lands in cell A
      100L -> unit(1),                     // centroid / anchor, cell B
      101L -> unit(1, 2 -> 0.3f)           // cell B member
    ).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // nprobe covering every cell ⇒ the probed candidate set IS the
    // corpus ⇒ bit-identical to the brute baseline (shared tail)
    val brute = rows(Similarity.hardNegatives(emb, k = 3,
      queryModulus = 50, dupCos = 0.95))
    val exhaustive = rows(Similarity.hardNegativesIVF(emb, k = 3,
      queryModulus = 50, dupCos = 0.95, nprobe = 2))
    assert(exhaustive === brute,
      "with every cell probed the IVF form must equal the exact baseline")
    // nprobe=1: each anchor sees only its own cell — every emitted pair
    // must exist in the exact candidate set (rank may shift as pruned
    // candidates vacate positions), and the dup ceiling still holds
    val pruned = rows(Similarity.hardNegativesIVF(emb, k = 3,
      queryModulus = 50, dupCos = 0.95, nprobe = 1))
    assert(pruned.forall { case (q, _, n, c) =>
      brute.exists { case (bq, _, bn, bc) => bq == q && bn == n && bc == c }
    }, "pruned results must come from the exact candidate set")
    assert(pruned.forall(_._4 < 0.95), "ceiling holds under pruning")
    // anchor 0 must not see the copy (vec 2, cos ≈ 0.9998) at any nprobe
    assert(!pruned.exists(t => t._1 == 0L && t._3 == 2L))
  }

  test("stored hard negatives: bit-identical to in-plan IVF, pruned cell read, appends participate") {
    val anchors = emb.filter(col("vec_id") % 50 === 0)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_x124_spec").toString + "/idx"
    Similarity.writeSemanticIndex(emb, idx)
    val stored = Similarity.hardNegativesIndexed(anchors, idx, k = 5,
      dupCos = 0.9, nprobe = 2)
    val inplan = Similarity.hardNegativesIVF(emb, k = 5, queryModulus = 50,
      dupCos = 0.9, nprobe = 2)
    assert(stored.exceptAll(inplan).isEmpty && inplan.exceptAll(stored).isEmpty,
      "storage round-trip must not change a single mined negative")
    // the probed cells reach the stored vectors scan as partition pruning
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"),
      "vectors scan must prune by the probed centroid directories")
    // lifecycle integration: an appended vector shows up in later
    // mining. Deterministic by construction: the novel vector is an
    // EXACT copy of an anchor's (different id), so it assigns to that
    // anchor's own nearest cell — always the anchor's first probe —
    // and scores cos 1.0, rank 1 (dupCos disabled for the plumbing
    // check; the ceiling semantics are gated above).
    val a0 = anchors.orderBy("vec_id")
      .select("vec_id", "embedding").head()
    val novel = Seq((9001L, a0.getSeq[Float](1)))
      .toDF("vec_id", "embedding")
    assert(Similarity.appendSemanticIndexOnce(novel, idx, batchId = 7L))
    def mine() = Similarity.hardNegativesIndexed(anchors, idx, k = 5,
      dupCos = 2.0, nprobe = 2)
    val hit = mine().filter(col("query_id") === a0.getLong(0) &&
      col("neighbor_id") === 9001L).collect()
    assert(hit.length === 1 && hit(0).getInt(1) === 1,
      "the appended exact-copy vector must mine back at rank 1")
    // replay-collapse: the redelivered batch skips; no duplicate rows
    assert(!Similarity.appendSemanticIndexOnce(novel, idx, batchId = 7L))
    val dupRows = mine()
      .groupBy("query_id", "neighbor_id").count().filter(col("count") > 1)
    assert(dupRows.isEmpty, "a neighbor must never surface twice per anchor")
  }

  test("compressed hard negatives: exhaustive shortlist equals brute; ceiling binds on the exact score") {
    val n = emb.count().toInt
    // shortlist ≥ corpus and nprobe ≥ cells: the compressed cut keeps
    // every probed candidate, the exact re-rank rescores all of them,
    // so the output must equal the brute baseline bit-for-bit — PQ
    // approximation ordering cannot matter once nothing is cut on it
    val pq = Similarity.hardNegativesPQ(emb, k = 5, queryModulus = 50,
        dupCos = 0.9, shortlist = n + 1, nprobe = 1024)
      .select("query_id", "rank", "neighbor_id", "cos_sim")
    val brute = Similarity.hardNegatives(emb, k = 5, queryModulus = 50,
      dupCos = 0.9)
    assert(pq.exceptAll(brute).isEmpty && brute.exceptAll(pq).isEmpty,
      "with nothing cut in the compressed domain, PQ mining must be exact")
    // at the registered (pruning) parameters: the ceiling binds on the
    // EXACT score — nothing at or above it may surface, whatever its
    // ADC approximation said — and the audit column rides along
    val pruned = Similarity.hardNegativesPQ(emb, k = 5, queryModulus = 50,
      dupCos = 0.9).collect()
    assert(pruned.nonEmpty)
    assert(pruned.forall(_.getAs[Double]("cos_sim") < 0.9),
      "an exact-cosine copy must never surface as a negative")
    assert(pruned.forall(r => !r.isNullAt(r.fieldIndex("approx_cos"))),
      "the x57 audit column must ride beside the exact score")
  }
}
