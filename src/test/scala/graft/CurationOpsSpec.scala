package graft

import org.apache.spark.sql.functions._
import graft.ext.{Events, Scrub, Similarity}
import graft.sources.Tables

/** Round-5 curation operators: SemDeDup-style embedding cluster dedup,
  * pattern redaction, and the point-in-interval session attribution
  * join. Crafted fixtures pin the semantic contracts; the fixture-table
  * cases pin the invariants the oracles can't state (per-row
  * exhaustiveness, cross-operator consistency).
  */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- semDedup ------------------------------------------------------

  private def embDf(rows: Seq[(Long, Seq[Float])]) =
    rows.toDF("vec_id", "embedding")

  test("semDedup: identical lower-id cluster-mate marks a dup; keepers survive") {
    val dim = 64
    def unit(axis: Int): Seq[Float] =
      Seq.tabulate(dim)(i => if (i == axis) 1.0f else 0.0f)
    // centroids (ids 0, 100) on axes 0 and 1; 1 duplicates 0's vector,
    // 101 is near 100 (cos ~0.995), 50 is orthogonal to everything
    val emb = embDf(Seq(
      0L -> unit(0),
      100L -> unit(1),
      1L -> unit(0),
      101L -> unit(1).updated(2, 0.1f),
      50L -> unit(3)))
    val out = Similarity.semDedup(emb, minCos = 0.45, centroidModulus = 100)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size === 5, "every vector classified exactly once")
    assert(out(1L).getBoolean(4), "identical twin of vec 0 must be a dup")
    assert(out(101L).getBoolean(4), "near-twin of vec 100 must be a dup")
    Seq(0L, 100L, 50L).foreach { id =>
      assert(!out(id).getBoolean(4), s"vec $id must survive")
      assert(out(id).isNullAt(3), s"survivor $id carries no max_sim")
    }
    assert(out(1L).getLong(2) === 1L, "exactly one witness (vec 0)")
    assert(out(1L).getDouble(3) === 1.0, "identical vectors score cos 1")
  }

  // ---- the witness cell cap (round 13) --------------------------------
  // A dup cloud `anchor + ε·p` collapses the quantizer: cos(v, c) =
  // 1 − ε²/2·|p_v⊥ − q_c⊥|² has a vector-independent −|q_c⊥|²/2 term,
  // so every cloud member prefers the same centroid and the witness
  // join goes quadratic in the cloud (measured: 4 × ~40k cells on the
  // 200k skew corpus, tools.CellOccupancy). `cellCap` sub-splits such
  // cells by pmod(vec_id, ceil(n/cap)); these pin the cap's contract.

  /** 30-member dup cloud: one anchor + 29 tiny distinct perturbations,
    * all mutually cos ≈ 0.9988, all assigned to centroid 0.
    */
  private def cloudDf = {
    val dim = 64
    embDf((0L to 29L).map { i =>
      i -> Seq.tabulate(dim) { d =>
        if (d == 0) 1.0f
        else if (i > 0 && d == i.toInt) 0.05f
        else 0.0f
      }
    })
  }

  test("cellCap: non-binding cap is bit-identical to the uncapped form") {
    val loose = Similarity.semDedup(cloudDf, minCos = 0.45, cellCap = 1024)
      .collect().toSet
    val tight = Similarity.semDedup(cloudDf, minCos = 0.45, cellCap = 64)
      .collect().toSet
    assert(loose === tight, "cap above every cell size must not change output")
    assert(loose.count(!_.getBoolean(4)) === 1, "uncapped cloud keeps exactly vec 0")
  }

  test("cellCap: a binding cap keeps one survivor per pmod sub-cell, error one-sided") {
    // cap 8 over a 30-cell → ceil(30/8) = 4 sub-cells by vec_id % 4
    val capped = Similarity.semDedup(cloudDf, minCos = 0.45, cellCap = 8)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(capped.size === 30, "one verdict per vector")
    val survivors = capped.values.filter(!_.getBoolean(4)).map(_.getLong(0)).toSet
    assert(survivors === Set(0L, 1L, 2L, 3L),
      "one survivor per sub-cell: the lowest id of each vec_id % 4 class")
    // soundness: every flagged dup carries a real witness above threshold
    capped.values.filter(_.getBoolean(4)).foreach { r =>
      assert(r.getLong(2) > 0 && r.getDouble(3) >= 0.45,
        s"dup ${r.getLong(0)} must have a genuine witness")
    }
    // one-sided error: capping may only ADD survivors, never new dups
    val uncappedDups = Similarity.semDedup(cloudDf, minCos = 0.45)
      .filter(col("is_dup")).collect().map(_.getLong(0)).toSet
    val cappedDups = capped.values.filter(_.getBoolean(4)).map(_.getLong(0)).toSet
    assert(cappedDups.subsetOf(uncappedDups),
      "every capped dup must also be an uncapped dup")
  }

  test("cellCap: hierarchical and flat agree under a binding cap (shared witness)") {
    val flat = Similarity.semDedup(cloudDf, minCos = 0.45, cellCap = 8)
      .collect().toSet
    val hier = Similarity.semDedupHierarchical(cloudDf, minCos = 0.45, cellCap = 8)
      .collect().toSet
    assert(flat === hier, "one super-cell: the capped forms must coincide")
  }

  test("semDedupPasses: pass 2 collapses the cap's survivors to one rep") {
    // cap 8: pass 1 keeps one survivor per vec_id % 4 sub-cell
    // ({0,1,2,3}); pass 2 re-clusters those four — they fit the cap,
    // the ordinary witness rule fires, and the cloud converges to {0}
    val out = Similarity.semDedupPasses(cloudDf, minCos = 0.45, passes = 2,
      cellCap = 8).collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size === 30, "one verdict per vector")
    val survivors = out.values.filter(!_.getBoolean(4)).map(_.getLong(0)).toSet
    assert(survivors === Set(0L), "the iterated form converges to one rep")
    Seq(1L, 2L, 3L).foreach { id =>
      assert(out(id).getLong(1) === 2L, s"$id must fall in pass 2")
    }
    assert((4L to 29L).forall(id => out(id).getLong(1) === 1L),
      "pass-1 dups keep their pass stamp")
    assert(out(0L).getLong(1) === 0L && out(0L).isNullAt(3),
      "the survivor carries pass 0 and no max_sim")
  }

  test("semDedupConverged: fixed point on the collapsing cloud") {
    val (res, passes) = Similarity.semDedupConverged(cloudDf, minCos = 0.45,
      cellCap = 8)
    assert(passes === 3, "two productive passes plus the confirming empty one")
    val survivors = res.filter(!col("is_dup")).collect().map(_.getLong(0)).toSet
    assert(survivors === Set(0L))
  }

  test("semDedupPasses: one pass equals the plain hierarchical verdicts") {
    val emb = Tables.load(spark, sf, "embeddings")
    val one = Similarity.semDedupPasses(emb, minCos = 0.45, passes = 1)
      .select("vec_id", "is_dup", "n_witnesses", "max_sim").collect().toSet
    val hier = Similarity.semDedupHierarchical(emb, minCos = 0.45)
      .select("vec_id", "is_dup", "n_witnesses", "max_sim").collect().toSet
    assert(one === hier)
  }

  test("cellOccupancyAudit: flags the mega-cell on the collapsing cloud") {
    val audit = Similarity.cellOccupancyAudit(cloudDf, cellCap = 8)
      .collect()(0)
    assert(audit.getLong(0) === 1L, "the cloud collapses into one cell")
    assert(audit.getLong(1) === 30L, "max occupancy is the whole cloud")
    assert(audit.getLong(2) === 1L && audit.getLong(3) === 30L,
      "the over-cap columns name the collapse")
  }

  test("cellOccupancyAudit: the fixture corpus is balanced at the default cap") {
    val audit = Similarity.cellOccupancyAudit(
      Tables.load(spark, sf, "embeddings")).collect()(0)
    assert(audit.getLong(2) === 0L && audit.getLong(3) === 0L,
      "no fixture cell may exceed the default cap (the oracle-stability premise)")
    assert(audit.getLong(1) <= 1024L)
  }

  test("cellCap: the default cap does not bind on the fixture corpus") {
    val emb = Tables.load(spark, sf, "embeddings")
    val dflt = Similarity.semDedup(emb, minCos = 0.45).collect().toSet
    val unbounded = Similarity.semDedup(emb, minCos = 0.45,
      cellCap = Int.MaxValue).collect().toSet
    assert(dflt === unbounded,
      "registered oracles assume the cap never binds at fixture scale")
  }

  test("semDedup: keep-set is closed under the witness rule on the fixture") {
    val emb = Tables.load(spark, sf, "embeddings")
    val out = Similarity.semDedup(emb, minCos = 0.45).cache()
    try {
      assert(out.count() === emb.count(), "one verdict per vector")
      // is_dup <=> witnesses exist <=> max_sim present
      assert(out.filter(col("is_dup") =!= (col("n_witnesses") > 0)).count() === 0)
      assert(out.filter(col("is_dup") =!= col("max_sim").isNotNull).count() === 0)
      // the minimum id of every cluster can never be a dup (no lower id)
      val minIds = out.groupBy("centroid_id").agg(min("vec_id").as("vec_id"))
      assert(out.join(minIds, Seq("centroid_id", "vec_id"))
        .filter(col("is_dup")).count() === 0)
    } finally out.unpersist()
  }

  test("semDedup hierarchical: degenerates to the flat form under one super-cell") {
    // sf0.001 embeddings have a single super-centroid (only vec_id 0 is
    // ≡ 0 mod 1600), so every centroid shares one super-cell and the
    // two-level assignment must reproduce the flat assignment EXACTLY —
    // the approximation only appears once cell boundaries exist
    val emb = Tables.load(spark, sf, "embeddings")
    val flat = Similarity.semDedup(emb, minCos = 0.45).collect().toSet
    val hier = Similarity.semDedupHierarchical(emb, minCos = 0.45).collect().toSet
    assert(hier === flat)
  }

  // ---- Scrub ---------------------------------------------------------

  test("scrub: sequential rules — email digits are not double-counted") {
    val df = Seq(
      (1L, "mail bob.smith99@example.com and 12345 then 6"),
      (2L, "no pii here"),
      (3L, "7 8 9")).toDF("id", "txt")
    val out = Scrub.redact(df, Seq("id"), "txt")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) === 1L, "one email")
    assert(out(1L).getLong(2) === 2L, "digits inside the email already masked")
    assert(out(1L).getString(3) === "mail <EMAIL> and <NUM> then <NUM>")
    assert(out(2L).getLong(1) === 0L && out(2L).getLong(2) === 0L)
    assert(out(2L).getString(3) === "no pii here")
    assert(out(3L).getLong(2) === 3L)
  }

  test("scrub: custom rule order changes attribution, as documented") {
    val df = Seq((1L, "a1@2b.co x")).toDF("id", "txt")
    // digits inside the email consumed by the num rule first, which then
    // breaks the email pattern's match — order is semantics, not style
    val numFirst = Scrub.redact(df, Seq("id"), "txt",
      Scrub.DefaultRules.reverse).collect().head
    assert(numFirst.getString(3) === "a<NUM>@<NUM>b.co x")
    val emailFirst = Scrub.redact(df, Seq("id"), "txt").collect().head
    assert(emailFirst.getString(3) === "<EMAIL> x")
  }

  test("semDedup hierarchical multi-probe: nprobe=2 recovers the boundary dup and matches flat") {
    val dim = 64
    def ang(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq.tabulate(dim)(i =>
        if (i == 0) math.cos(r).toFloat else if (i == 1) math.sin(r).toFloat else 0.0f)
    }
    // centroidModulus=2, superFactor=2: supers at 0° (id 0) and 90°
    // (id 4) split the quadrant at 45°; centroids C2 (55°) and C6 (20°)
    // land in opposite cells. The near-dup pair 101 (43°) / 103 (47°),
    // cos 4° ≈ 0.9976, STRADDLES the super boundary: flat assignment
    // puts both in C2 and finds the dup, single-probe hierarchical
    // splits them (101→S0→C6, 103→S4→C2) and misses it — the boundary
    // loss the x37 Scaladoc documents. No other pair clears minCos
    // (the closest, C2–103 at cos 8° ≈ 0.9903, is below 0.995).
    val emb = embDf(Seq(
      0L -> ang(0), 4L -> ang(90), 2L -> ang(55), 6L -> ang(20),
      101L -> ang(43), 103L -> ang(47)))
    def dups(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.filter(col("is_dup")).collect().map(_.getLong(0)).toSet
    val flat = Similarity.semDedup(emb, minCos = 0.995, centroidModulus = 2)
    assert(dups(flat) === Set(103L), "flat finds the 101/103 near-pair")
    val oneProbe = Similarity.semDedupHierarchical(emb, minCos = 0.995,
      centroidModulus = 2, superFactor = 2, nprobe = 1)
    assert(dups(oneProbe) === Set.empty,
      "single-probe splits the pair across cells and misses the dup")
    // two probes cover every cell of this fixture, so the assignment —
    // and therefore every verdict, witness count, and max_sim — must
    // reproduce the flat quantizer exactly: 100% recovery
    val twoProbe = Similarity.semDedupHierarchical(emb, minCos = 0.995,
      centroidModulus = 2, superFactor = 2, nprobe = 2)
    assert(twoProbe.collect().toSet === flat.collect().toSet)
  }

  test("semDedup hierarchical: near-identical supers cannot strand a cell") {
    val dim = 64
    def v(c0: Float, c1: Float): Seq[Float] =
      Seq.tabulate(dim)(i => if (i == 0) c0 else if (i == 1) c1 else 0.0f)
    // supers 0 and 1600 differ by 1e-4 — their mutual cosine ROUNDS to
    // 1.000000, so centroid 1600's nearest-super tie-breaks to super 0,
    // stranding cell 1600 with zero centroids unless the self-pin holds.
    // Vector 1601 leans just enough toward 1600 that its rounded
    // similarity strictly prefers super 1600: without the pin it would
    // vanish at the cell join.
    val emb = embDf(Seq(
      0L -> v(1.0f, 0.0f),
      1600L -> v(1.0f, 1e-4f),
      1601L -> v(1.0f, 0.3f)))
    val out = Similarity.semDedupHierarchical(emb, minCos = 0.45, centroidModulus = 100)
    assert(out.count() === 3, "one verdict per vector even with tied super-cells")
  }

  // ---- weighted priority sampling ------------------------------------

  test("weightedPriority: picks the k smallest integer keys, deterministically") {
    import graft.ext.Sampling
    import graft.functions.Portable
    val df = (1L to 40L).map(i => (if (i <= 20) "a" else "b", i, i)).toDF("g", "id", "w")
    val out = Sampling.weightedPriority(df, "g", "id", col("w"), k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(out.length === 10, "5 per stratum")
    // expected: the 5 smallest h60(id) div w per group, computed directly
    val expected = df
      .withColumn("p", expr(s"cast(conv(substring(md5(cast(id as string)),1,15),16,10) as bigint) div w"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
      .groupBy(_._1).toSeq
      .flatMap { case (_, rows) => rows.sortBy(r => (r._3, r._2)).take(5) }
      .toSet
    assert(out.toSet === expected)
    // a repartitioned input selects the same rows (pure function of the set)
    val again = Sampling.weightedPriority(df.repartition(13), "g", "id", col("w"), k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    assert(again === out.toSet)
    // null stratum / null id / zero weight rows are excluded, not crashed on
    val dirty = Seq((Option("a"), Option(1L), 0L), (None, Option(2L), 5L),
      (Option("a"), Option.empty[Long], 5L), (Option("a"), Option(3L), 4L))
      .toDF("g", "id", "w")
    val cleaned = Sampling.weightedPriority(dirty, "g", "id", col("w"), k = 10).collect()
    assert(cleaned.map(_.getLong(1)).toSeq === Seq(3L))
  }

  // ---- KMV sketch ----------------------------------------------------

  test("kmv: exact below k, bounded error and partitioning-invariant above") {
    import graft.ext.Sketches
    // 40 distinct users in group "small" (< k=64 -> exact), 5000 in "big"
    val rows = (1 to 40).map(i => ("small", i.toLong)) ++
      (1 to 20000).map(i => ("big", (i % 5000).toLong + 1000L))
    val df = rows.toDF("g", "user")
    val out = Sketches.kmvDistinct(df, "g", "user")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("small").getLong(1) === 40L)
    assert(out("small").getLong(3) === 40L, "below k the sketch is exact")
    assert(out("small").getDouble(4) === 0.0)
    assert(out("big").getLong(1) === 5000L)
    // k=64 gives ~1/sqrt(k-2) ~ 13% std error; 3 sigma bound
    assert(out("big").getDouble(4) < 0.4,
      s"estimate ${out("big").getLong(3)} too far from 5000")
    // the sketch is a function of the SET: any partitioning, same answer
    val repart = Sketches.kmvDistinct(df.repartition(17), "g", "user")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(repart("big") === out("big").getLong(3))
    assert(repart("small") === 40L)
  }

  // ---- funnel + retention --------------------------------------------

  test("funnel: first in-window conversion wins; ties break by id; no-match is null") {
    val minUs = 60L * 1000000L
    def ev(id: Long, tpe: String, tUs: Long, user: Long = 1L) =
      (id, user, tpe, tUs * 1000) // ts column is ns
    val events = Seq(
      ev(1L, "click", 0L),
      ev(2L, "purchase", 60L * minUs),  // 60 min in — outside click 1's window
      ev(3L, "purchase", 120L),
      ev(4L, "purchase", 120L),         // tie with 3 at the same ts
      ev(5L, "click", 100L),
      ev(6L, "click", 100L * minUs),    // nothing ever follows this one
      ev(7L, "purchase", 10L, 2L)       // other user — never matches user 1
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = Events.funnel(events).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size === 3, "one row per click")
    // click 1 at t=0: purchases 3 and 4 tie at t=120 — lowest id wins;
    // purchase 2 is outside the 30-min window
    assert(out(1L).getLong(3) === 3L)
    assert(out(5L).getLong(3) === 3L && out(5L).getLong(5) === 20L,
      "click at t=100 converts on the t=120 purchase, delay 20us")
    assert(out(6L).isNullAt(3) && out(6L).isNullAt(5),
      "no purchase within 30 min after the late click")
  }

  test("funnel: NULL-user clicks are kept but never convert (null-rejecting join)") {
    // The deliberate asymmetry vs sessionAttribution's <=> (see the
    // funnel Scaladoc): anonymous events carry no shared identity, so
    // an anonymous click must not match an anonymous purchase.
    val events = Seq(
      (1L, Option(1L), "click", 0L),
      (2L, Option(1L), "purchase", 120L * 1000),
      (3L, Option.empty[Long], "click", 0L),          // anonymous click
      (4L, Option.empty[Long], "purchase", 60L * 1000) // anonymous purchase, in-window
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = Events.funnel(events).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size === 2, "both clicks present: totality of the left join")
    assert(out(1L).getLong(3) === 2L, "identified user converts normally")
    assert(out(3L).isNullAt(1), "anonymous click keeps its NULL user")
    assert(out(3L).isNullAt(3) && out(3L).isNullAt(4) && out(3L).isNullAt(5),
      "anonymous click never converts — purchase columns all null")
  }

  test("retention: cohort by first day, offsets count distinct returning users") {
    val dayNs = 86400L * 1000000000L
    val events = Seq(
      (1L, 10L, "view", 0L * dayNs),          // u10 cohort day 0
      (2L, 10L, "view", 0L * dayNs + 5),      // same day, dedup
      (3L, 10L, "view", 2L * dayNs),          // offset 2
      (4L, 20L, "view", 0L * dayNs + 7),      // u20 cohort day 0
      (5L, 30L, "view", 1L * dayNs)           // u30 cohort day 1
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = Events.retentionCohorts(events)
      .orderBy("cohort_day", "day_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((0L, 0L, 2L), (0L, 2L, 1L), (1L, 0L, 1L)))
  }

  // ---- incremental screen --------------------------------------------

  test("incrementalScreen: exact wins over near; best match deterministic") {
    import graft.ext.Dedup
    def doc(id: Long, words: String) = (id, words)
    val existing = Seq(
      doc(1L, "a b c d e f g h"),
      doc(2L, "a b c d e f g z"),   // near-dup of 1 (shares most 3-grams)
      doc(3L, "p q r s t u v w")).toDF("doc_id", "text")
    val incoming = Seq(
      doc(10L, "a b c d e f g h"),  // exact copy of 1 AND near 2 -> drop_exact
      doc(11L, "a b c d e f g q"),  // near 1 and 2, no exact -> drop_near, best match
      doc(12L, "x y z1 z2 z3 z4 z5 z6")).toDF("doc_id", "text") // novel -> keep
    val out = Dedup.incrementalScreen(existing, incoming, n = 3, minJaccard = 0.5)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size === 3, "one verdict per incoming doc")
    assert(out(10L).getString(4) === "drop_exact")
    assert(out(10L).getBoolean(1))
    assert(out(11L).getString(4) === "drop_near")
    // doc 11 shares 5 of its 6 shingles with doc 1 AND with doc 2 minus
    // the differing tail; the higher-jaccard (or lower-id on tie)
    // existing doc must win deterministically
    assert(out(11L).getLong(2) === 1L, "best match is existing doc 1")
    assert(out(12L).getString(4) === "keep")
    assert(out(12L).isNullAt(2) && out(12L).isNullAt(3))
  }

  test("stored near-dup index: screen ≡ in-memory; double-append repaired by compact") {
    import graft.ext.Dedup
    import java.nio.file.Files
    def doc(id: Long, words: String) = (id, words)
    val existing = Seq(
      doc(1L, "a b c d e f g h"),
      doc(2L, "a b c d e f g z"),
      doc(3L, "p q r s t u v w"),
      doc(4L, "m n o m2 n2 o2 m3 n3")).toDF("doc_id", "text")
    val incoming = Seq(
      doc(10L, "a b c d e f g h"),  // exact copy of 1
      doc(11L, "a b c d e f g q"),  // near 1/2
      doc(12L, "x y z1 z2 z3 z4 z5 z6")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val mem = rows(Dedup.incrementalScreen(existing, incoming, n = 3, minJaccard = 0.5))

    // (1) full-corpus build: the stored screen is bit-identical to x40
    val idx1 = Files.createTempDirectory("graft_nd_idx_spec").toString
    Dedup.writeNearDupIndex(existing, idx1, n = 3)
    assert(rows(Dedup.screenAgainstNearDupIndex(incoming, idx1, n = 3,
      minJaccard = 0.5)) === mem)

    // (2) build even + DOUBLE-append odd (the accidental re-append that,
    // unlike the gram index's set semantics, inflates intersection
    // counts) + compact: the repair restores the clean-build output
    val idx2 = Files.createTempDirectory("graft_nd_idx_spec2").toString
    Dedup.writeNearDupIndex(existing.filter(col("doc_id") % 2 === 0), idx2, n = 3)
    Dedup.appendNearDupIndex(existing.filter(col("doc_id") % 2 =!= 0), idx2, n = 3)
    Dedup.appendNearDupIndex(existing.filter(col("doc_id") % 2 =!= 0), idx2, n = 3)
    Dedup.compactNearDupIndex(spark, idx2)
    assert(rows(Dedup.screenAgainstNearDupIndex(incoming, idx2, n = 3,
      minJaccard = 0.5)) === mem,
      "compact must reap duplicate shingle rows and recompute sizes")
  }

  test("nearDupScreenReplay: streamed ≡ strictly-earlier in-memory truth per batch") {
    import graft.ext.Dedup
    import java.nio.file.Files
    // 8 docs over 4 batches (doc_id % 4); dup relations cross batches
    val docs = Seq(
      (0L, "a b c d e f g h"),       // batch 0 (bootstrap)
      (4L, "p q r s t u v w"),       // batch 0
      (1L, "a b c d e f g h"),       // batch 1: exact copy of 0
      (5L, "x y z1 z2 z3 z4 z5 z6"), // batch 1: clean at ingest time
      (2L, "a b c d e f g q"),       // batch 2: near 0 and 1
      (6L, "j k l j2 k2 l2 j3 k3"),  // batch 2: clean
      (3L, "x y z1 z2 z3 z4 z5 z6"), // batch 3: exact copy of 5
      (7L, "p q r s t u v q2")       // batch 3: near 4
    ).toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft_x114_spec").toString
    val out = graft.streaming.DocStream.nearDupScreenReplay(spark, docs,
      s"$root/index", s"$root/out", nBatches = 4, n = 3, minJaccard = 0.5)
    // independent truth: the x40 in-memory screen, batch b against all
    // strictly earlier batches — the sequential-ingest semantics
    val expected = (1 to 3).flatMap { b =>
      Dedup.incrementalScreen(
        docs.filter(pmod(col("doc_id"), lit(4L)) < b),
        docs.filter(pmod(col("doc_id"), lit(4L)) === b),
        n = 3, minJaccard = 0.5).collect().map(_.toSeq)
    }.toSet
    assert(out.collect().map(_.toSeq).toSet === expected)
    // spot the cross-batch semantics: 1 exact-dups 0; 3 exact-dups 5
    // (clean when IT arrived); 2 nears the tied pair (0,1) → lowest id
    val byId = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getString(4) === "drop_exact")
    assert(byId(5L).getString(4) === "keep")
    assert(byId(3L).getString(4) === "drop_exact")
    assert(byId(2L).getString(4) === "drop_near" && byId(2L).getLong(2) === 0L)
    assert(byId(7L).getString(4) === "drop_near" && byId(7L).getLong(2) === 4L)
  }

  test("appendNearDupIndexOnce: redelivery skips; the crash window repairs by compact") {
    import graft.ext.Dedup
    import java.nio.file.Files
    val a = Seq((1L, "a b c d e f g h"), (2L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val b = Seq((3L, "m n o m2 n2 o2 m3 n3")).toDF("doc_id", "text")
    val probe = Seq((10L, "a b c d e f g q"), (11L, "m n o m2 n2 o2 m3 q"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    // the clean reference: both batches built in one shot
    val ref = Files.createTempDirectory("graft_once_ref").toString
    Dedup.writeNearDupIndex(a.unionByName(b), ref, n = 3)
    val want = rows(Dedup.screenAgainstNearDupIndex(probe, ref, n = 3,
      minJaccard = 0.5))
    val idx = Files.createTempDirectory("graft_once_idx").toString
    Dedup.writeNearDupIndex(a, idx, n = 3)
    assert(Dedup.appendNearDupIndexOnce(b, idx, batchId = 7L, n = 3),
      "first delivery must append")
    val n1 = spark.read.parquet(s"$idx/shingles").count()
    assert(!Dedup.appendNearDupIndexOnce(b, idx, batchId = 7L, n = 3),
      "redelivery must skip (marker committed)")
    assert(spark.read.parquet(s"$idx/shingles").count() === n1,
      "a skipped redelivery leaves the index unchanged")
    assert(rows(Dedup.screenAgainstNearDupIndex(probe, idx, n = 3,
      minJaccard = 0.5)) === want)
    // the crash window: data landed but the marker was lost → the
    // redelivered append double-writes; compaction repairs it
    Dedup.appendNearDupIndex(b, idx, n = 3)
    Dedup.compactNearDupIndex(spark, idx)
    assert(rows(Dedup.screenAgainstNearDupIndex(probe, idx, n = 3,
      minJaccard = 0.5)) === want,
      "compact must repair the crash-window double-append")
  }

  test("appendSemanticIndexOnce: frozen-centroid appends; redelivery skips; compact repairs") {
    import java.nio.file.Files
    val dim = 64
    def unit(axis: Int, eps: (Int, Float)*): Seq[Float] =
      Seq.tabulate(dim) { d =>
        if (d == axis) 1.0f
        else eps.collectFirst { case (a, e) if a == d => e }.getOrElse(0.0f)
      }
    // id 0 is the only centroid (vec_id % 100 == 0); everything lands
    // in its cell, so the screen's probed set is the whole index
    val idx = Files.createTempDirectory("graft_sem_idx_spec").toString
    Similarity.writeSemanticIndex(embDf(Seq(0L -> unit(0))), idx)
    val batch = embDf(Seq(4L -> unit(0, 10 -> 0.1f), 8L -> unit(1)))
    val bench = embDf(Seq(100L -> unit(0)))
    def matches(): Long =
      Similarity.semanticScreenIndex(bench, idx, minCos = 0.4)
        .collect()(0).getLong(1)
    assert(Similarity.appendSemanticIndexOnce(batch, idx, batchId = 3L),
      "first delivery must append")
    assert(matches() === 2L, "bench matches the centroid and the near twin")
    assert(!Similarity.appendSemanticIndexOnce(batch, idx, batchId = 3L),
      "redelivery must skip (marker committed)")
    assert(matches() === 2L)
    // the crash window: data landed, marker lost → the redelivered
    // append double-writes and n_matches inflates; compact repairs
    Similarity.appendSemanticIndex(batch, idx)
    assert(matches() === 3L, "the double-append inflates the match count")
    Similarity.compactSemanticIndex(spark, idx)
    assert(matches() === 2L, "compact must reap duplicate vector rows")
  }

  test("vecScreenReplay: streamed ≡ strictly-earlier hand-computed truth per batch") {
    import java.nio.file.Files
    val dim = 64
    def unit(axis: Int, eps: (Int, Float)*): Seq[Float] =
      Seq.tabulate(dim) { d =>
        if (d == axis) 1.0f
        else eps.collectFirst { case (a, e) if a == d => e }.getOrElse(0.0f)
      }
    // batch = vec_id % 4; id 0 is the frozen batch-0 centroid
    val emb = embDf(Seq(
      0L -> unit(0),                 // batch 0: centroid
      4L -> unit(1),                 // batch 0
      1L -> unit(0, 10 -> 0.1f),     // batch 1: near 0
      5L -> unit(2),                 // batch 1: clean at ingest
      2L -> unit(1, 11 -> 0.1f),     // batch 2: near 4
      6L -> unit(3),                 // batch 2: clean
      3L -> unit(2, 12 -> 0.1f),     // batch 3: near 5
      7L -> unit(0)))                // batch 3: exact copy of 0, near 1
    val root = Files.createTempDirectory("graft_x115_spec").toString
    val out = graft.streaming.DocStream.vecScreenReplay(spark, emb,
      s"$root/index", s"$root/out", nBatches = 4, minCos = 0.4)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size === 6, "batches 1-3 screen; batch 0 bootstraps")
    def check(id: Long, n: Long, contaminated: Boolean): Unit = {
      assert(out(id).getLong(1) === n, s"vec $id n_matches")
      assert(out(id).getBoolean(3) === contaminated, s"vec $id verdict")
    }
    check(1L, 1L, contaminated = true)   // matches 0
    check(5L, 0L, contaminated = false)
    check(2L, 1L, contaminated = true)   // matches 4
    check(6L, 0L, contaminated = false)
    check(3L, 1L, contaminated = true)   // matches 5 (appended batch 1)
    check(7L, 2L, contaminated = true)   // matches 0 AND the appended 1
    assert(out(7L).getDouble(2) === 1.0, "the exact copy scores cos 1")
  }

  test("stored near-dup index: the append trigger compacts when the " +
    "shingles table exceeds the file threshold; screen invariant") {
    import graft.ext.Dedup
    import java.nio.file.Files
    val existing = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f q h")).toDF("doc_id", "text")
    val batches = Seq(
      Seq((3L, "p q r s t u v w")), Seq((4L, "m n o m2 n2 o2 m3 n3")),
      Seq((5L, "z1 z2 z3 z4 z5 z6 z7 z8"))).map(_.toDF("doc_id", "text"))
    val incoming = Seq((10L, "a b c d e f g q")).toDF("doc_id", "text")
    // disabled: one new file per table per append, never reaped
    val off = Files.createTempDirectory("graft_nd_trig_off").toString
    Dedup.writeNearDupIndex(existing, off, n = 3)
    batches.foreach(b =>
      Dedup.appendNearDupIndex(b, off, n = 3, maxFilesPerTable = 0))
    val unbounded = graft.ext.IndexFs.countDataFiles(spark, s"$off/shingles")
    // threshold below the unbounded count: the trigger fires inside
    // append and the shingles file count drops back to one compacted
    // write's worth (<= shuffle partitions), staying bounded
    val on = Files.createTempDirectory("graft_nd_trig_on").toString
    Dedup.writeNearDupIndex(existing, on, n = 3)
    batches.foreach(b =>
      Dedup.appendNearDupIndex(b, on, n = 3, maxFilesPerTable = 2))
    val bounded = graft.ext.IndexFs.countDataFiles(spark, s"$on/shingles")
    assert(bounded < unbounded,
      s"trigger must reap append files: bounded=$bounded unbounded=$unbounded")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(rows(Dedup.screenAgainstNearDupIndex(incoming, on, n = 3,
        minJaccard = 0.5)) ===
      rows(Dedup.screenAgainstNearDupIndex(incoming, off, n = 3,
        minJaccard = 0.5)),
      "screen output must be invariant across the compaction trigger")
  }

  test("stored near-dup index: hot list frozen at build, not refreshed by append") {
    import graft.ext.Dedup
    import java.nio.file.Files
    def doc(id: Long, words: String) = (id, words)
    // shingle "h1 h2 h3" has df=2 in the BUILD set (under cap 2) but
    // df=5 across build+appends (over cap): the frozen list keeps it
    val buildSet = Seq(
      doc(20L, "h1 h2 h3 h4"),
      doc(21L, "h1 h2 h3 k4")).toDF("doc_id", "text")
    val appendSet = Seq(
      doc(22L, "h1 h2 h3 z1"),
      doc(23L, "h1 h2 h3 z2"),
      doc(24L, "h1 h2 h3 z3")).toDF("doc_id", "text")
    val incoming = Seq(doc(30L, "h1 h2 h3 q9")).toDF("doc_id", "text")
    val idx = Files.createTempDirectory("graft_nd_idx_spec3").toString
    Dedup.writeNearDupIndex(buildSet, idx, n = 3, maxShingleDf = 2)
    Dedup.appendNearDupIndex(appendSet, idx, n = 3)
    val stored = Dedup.screenAgainstNearDupIndex(incoming, idx, n = 3,
      minJaccard = 0.3).collect()
    assert(stored.head.getString(4) === "drop_near",
      "frozen (build-time) hot list keeps the now-common shingle usable")
    assert(stored.head.getLong(2) === 20L, "ties break to the lowest existing id")
    // the in-memory screen RELEARNS the cap over the merged corpus and
    // drops the shingle — the divergence IS the frozen-hot semantics
    val relearned = Dedup.incrementalScreen(buildSet.unionByName(appendSet),
      incoming, n = 3, minJaccard = 0.3, maxShingleDf = 2).collect()
    assert(relearned.head.getString(4) === "keep")
  }

  test("sourceOverlap: exact pairwise shingle jaccard, disjoint pairs absent") {
    import graft.ext.Dedup
    val docs = Seq(
      (1L, "s1", "a b c d e"),      // shingles: abc bcd cde
      (2L, "s2", "a b c x y"),      // abc bcx cxy -> shares abc with s1
      (3L, "s3", "p q r s t")).toDF("doc_id", "source", "text")
    val out = Dedup.sourceOverlap(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.keySet === Set(("s1", "s2")), "only the overlapping pair appears")
    val r = out(("s1", "s2"))
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) === ((3L, 3L, 1L)))
    assert(r.getDouble(5) === 0.2) // 1 / (3 + 3 - 1)
  }

  test("sourceOverlapSketch: exact when unions fit in k; disjoint pairs at zero") {
    import graft.ext.Dedup
    val docs = Seq(
      (1L, "s1", "a b c d e"),      // shingles: abc bcd cde
      (2L, "s2", "a b c x y"),      // abc bcx cxy -> shares abc with s1
      (3L, "s3", "p q r s t")).toDF("doc_id", "source", "text")
    // every union is <= 6 shingles << k: the sketch IS the set, so the
    // estimate must equal the exact audit's jaccard — and unlike the
    // exact audit, disjoint pairs appear explicitly at 0
    val out = Dedup.sourceOverlapSketch(docs, k = 16)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.keySet === Set(("s1", "s2"), ("s1", "s3"), ("s2", "s3")),
      "every pair audited, shared vocabulary or not")
    val r12 = out(("s1", "s2"))
    assert(r12.getLong(3) === 5L, "merged sketch = |union| = 3 + 3 - 1")
    assert(r12.getLong(4) === 1L, "one shared shingle in both sketches")
    assert(r12.getDouble(5) === 0.2, "degenerate case reproduces exact jaccard")
    Seq(("s1", "s3"), ("s2", "s3")).foreach { p =>
      assert(out(p).getLong(4) === 0L && out(p).getDouble(5) === 0.0)
    }
  }

  test("sourceOverlapSketch: estimates track the exact audit on the corpus") {
    import graft.ext.Dedup
    val docs = Tables.load(spark, sf, "documents")
    val exact = Dedup.sourceOverlap(docs)
      .select(col("source_a"), col("source_b"), col("jaccard"))
    val est = Dedup.sourceOverlapSketch(docs)
      .select(col("source_a"), col("source_b"), col("jaccard_est"))
    val joined = est.join(exact, Seq("source_a", "source_b"), "left")
      .select(coalesce(col("jaccard"), lit(0.0)).as("jaccard"), col("jaccard_est"))
      .collect()
    assert(joined.nonEmpty)
    // k=256 gives σ ≈ sqrt(J(1-J)/k) <= 0.031; 0.1 is > 3σ across the
    // whole matrix — deterministic hashes make this a fixed, not flaky,
    // assertion
    val worst = joined.map(r => math.abs(r.getDouble(0) - r.getDouble(1))).max
    assert(worst <= 0.1, s"sketch estimate drifted $worst from exact")
    // the estimate is a function of the shingle SET: partitioning-free
    val repart = Dedup.sourceOverlapSketch(docs.repartition(17)).collect().toSet
    assert(repart === Dedup.sourceOverlapSketch(docs).collect().toSet)
  }

  test("overlapGatedSources: greater member of each flagged pair dropped, rest intact") {
    import graft.ext.Dedup
    val docs = Seq(
      (1L, "s1", "a b c d e"),      // shingles: abc bcd cde
      (2L, "s2", "a b c d y"),      // abc bcd cdy -> J(s1,s2) = 2/4 = 0.5
      (3L, "s3", "p q r s t")).toDF("doc_id", "source", "text")
    // unions fit in k, so the sketch estimate IS the exact jaccard and
    // the gate decision is deterministic: (s1,s2) flagged at 0.5 -> the
    // greater member s2 is dropped; s3's rows pass through untouched
    val kept = Dedup.overlapGatedSources(docs, k = 16, maxJaccard = 0.5)
    assert(kept.select("source").as[String].collect().toSet === Set("s1", "s3"))
    assert(kept.count() === 2)
    // a threshold above every pair estimate gates nothing
    assert(Dedup.overlapGatedSources(docs, k = 16, maxJaccard = 0.9).count() === 3)
  }

  test("overlapGatedSources: NULL-source docs survive the gate; chains drop conservatively") {
    import graft.ext.Dedup
    // NULL source never equals a flagged source — the left_anti gate
    // must keep the row even when the gate fires (and the x47 oracle's
    // NOT EXISTS mirrors that, where NOT IN would drop it)
    val withNull = Seq(
      (1L, "s1", "a b c d e"), (2L, "s2", "a b c d y"),
      (3L, null.asInstanceOf[String], "p q r s t")
    ).toDF("doc_id", "source", "text")
    val kept = Dedup.overlapGatedSources(withNull, k = 16, maxJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L), "gate fired on s2, NULL-source row kept")
    // chain a~b, b~c with a and c disjoint: the pair rule drops BOTH b
    // and c (every flagged pair loses its greater member) — the
    // documented conservative over-drop, pinned here so a change to a
    // component walk shows up as a failing expectation
    val chain = Seq(
      (1L, "sa", "a b c d e"),        // abc bcd cde
      (2L, "sb", "a b c d w x y z"),  // shares abc bcd with sa → J=2/7≈0.29;
                                      // wxy xyz with sc → J=2/9≈0.22
      (3L, "sc", "u v w x y z t")     // nothing shared with sa → J=0
    ).toDF("doc_id", "source", "text")
    val chainKept = Dedup.overlapGatedSources(chain, k = 16, maxJaccard = 0.2)
      .select("source").as[String].collect().toSet
    assert(chainKept === Set("sa"), s"pair rule drops sb AND sc: got $chainKept")
  }

  // ---- sessionAttribution -------------------------------------------

  test("session attribution: NULL-user events keep their sessions (null-safe join)") {
    val ns = 1000000000L
    val ev = Seq(
      (1L, Some(10L), 0L * ns), (2L, Some(10L), 60L * ns),
      (3L, Option.empty[Long], 0L * ns), (4L, Option.empty[Long], 120L * ns))
      .toDF("event_id", "user_id", "ts")
    val attr = Events.sessionAttribution(ev)
    assert(attr.count() === 4, "null-user events must not be dropped")
    assert(attr.filter(col("user_id").isNull).count() === 2)
  }

  test("session attribution: total, exhaustive, and consistent with sessionize") {
    val events = Tables.load(spark, sf, "events")
    val attr = Events.sessionAttribution(events).cache()
    try {
      assert(attr.count() === events.count(), "every event lands in exactly one session")
      assert(attr.select("event_id").distinct().count() === events.count(),
        "no event attributed twice")
      // per-session event counts must reproduce sessionize's n_events
      val counted = attr.groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_attr"))
      val mismatch = Events.sessionize(events)
        .join(counted, Seq("user_id", "session_id"), "full")
        .filter(col("n_events").isNull || col("n_attr").isNull ||
          col("n_events") =!= col("n_attr"))
      assert(mismatch.count() === 0)
    } finally attr.unpersist()
  }
}
