package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, IndexFs, LanguageModel, Similarity}

/** Round-14 lifecycle plumbing: Hadoop-API commit markers (the
  * round-13 verdict's top item — java.io.File markers silently break
  * exactly-once on hdfs/s3a index dirs), the crash-recoverable
  * tmp → old → live swap, the auto-derived gram bucket count, and the
  * semantic-index rebuild (retrain-and-migrate).
  */
class IndexFsSpec extends SparkSpec {
  import spark.implicits._

  // ---- markers through the Hadoop API --------------------------------

  test("marker round-trips through the Hadoop FileSystem API on the local FS") {
    val dir = Files.createTempDirectory("graft_idxfs").toString
    val marker = s"$dir/_batch_commits/b42"
    assert(!IndexFs.exists(spark, marker))
    IndexFs.touch(spark, marker)
    assert(IndexFs.exists(spark, marker), "touched marker must exist")
    // idempotent: a re-touch of an existing marker is harmless
    IndexFs.touch(spark, marker)
    assert(IndexFs.exists(spark, marker))
    // the marker resolves on the directory's own filesystem — on the
    // local FS that means a plain file at the same path
    assert(new java.io.File(dir, "_batch_commits/b42").exists())
  }

  // ---- the swap discipline and its crash window -----------------------

  test("recover completes a swap crashed between the two renames") {
    val root = Files.createTempDirectory("graft_swap").toString
    val live = s"$root/table"
    Seq(1L, 2L).toDF("v").write.parquet(live)
    Seq(1L).toDF("v").write.parquet(s"$live.compact")
    // healthy state: recovery is a no-op
    assert(!IndexFs.recover(spark, live, s"$live.compact"))
    assert(spark.read.parquet(live).count() === 2)
    // simulate the crash: live was renamed to .old, .compact not yet
    // promoted — the one step of the swap with no live directory
    val fs = IndexFs.fs(spark, live)
    fs.rename(new org.apache.hadoop.fs.Path(live),
      new org.apache.hadoop.fs.Path(s"$live.old"))
    assert(IndexFs.recover(spark, live, s"$live.compact"), "crash state must recover")
    assert(spark.read.parquet(live).count() === 1,
      "recovery promotes the complete .compact copy")
    assert(!IndexFs.recover(spark, live, s"$live.compact"), "recovery is one-shot")
  }

  test("recover deletes a tmp cut off inside its own write, and promotes a finished one") {
    val root = Files.createTempDirectory("graft_swap_unfinished").toString
    val live = s"$root/state"
    val tmp = s"$live.next"
    Seq(1L, 2L).toDF("v").write.parquet(tmp)
    // no live copy and no .old: only the write itself shows whether tmp
    // is whole — a finished write is promoted (a first swap's crash)
    assert(IndexFs.recover(spark, live, tmp), "a finished tmp must be promoted")
    assert(spark.read.parquet(live).count() === 2)
    // the write cut off before its job commit: staging still present
    IndexFs.delete(spark, live)
    Seq(3L).toDF("v").write.parquet(tmp)
    Files.delete(java.nio.file.Paths.get(tmp, "_SUCCESS"))
    Files.createDirectories(java.nio.file.Paths.get(tmp, "_temporary", "0"))
    assert(!IndexFs.recover(spark, live, tmp), "an unfinished tmp must not be promoted")
    assert(!IndexFs.exists(spark, live) && !IndexFs.exists(spark, tmp),
      "the unfinished tmp is deleted, for the verb to write again")
  }

  test("carry copies again a destination file a crash cut short, and only that one") {
    val root = Files.createTempDirectory("graft_carry").toString
    val from = java.nio.file.Paths.get(root, "from")
    val to = java.nio.file.Paths.get(root, "to")
    Files.createDirectories(from)
    Files.createDirectories(to)
    val bytes = Map("a" -> 700, "b" -> 900, "c" -> 300).map { case (n, len) =>
      n -> Array.tabulate[Byte](len)(i => (i % 127).toByte) }
    bytes.foreach { case (n, b) => Files.write(from.resolve(n), b) }
    Files.write(to.resolve("a"), bytes("a"))
    Files.write(to.resolve("b"), bytes("b").take(64))
    val copies = scala.collection.mutable.ArrayBuffer.empty[String]
    IndexFs.beforeMutation = copies += _
    try IndexFs.carry(spark, from.toString, to.toString)
    finally IndexFs.beforeMutation = _ => ()
    assert(copies.size === 2, s"the whole copy of a is kept: $copies")
    bytes.foreach { case (n, b) =>
      assert(Files.readAllBytes(to.resolve(n)).sameElements(b), s"$n differs after carry")
    }
  }

  test("swap promotes .compact and drops .old") {
    val root = Files.createTempDirectory("graft_swap2").toString
    val live = s"$root/table"
    Seq(1L, 2L, 3L).toDF("v").write.parquet(live)
    Seq(9L).toDF("v").write.parquet(s"$live.compact")
    IndexFs.swap(spark, live, s"$live.compact")
    assert(spark.read.parquet(live).collect().map(_.getLong(0)).toSeq === Seq(9L))
    assert(!IndexFs.exists(spark, s"$live.old"))
    assert(!IndexFs.exists(spark, s"$live.compact"))
  }

  test("LM score self-heals after a compaction crash mid-swap") {
    val docs = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "the dog sat on the mat", "en")).toDF("doc_id", "text", "lang")
    val idx = Files.createTempDirectory("graft_lm_crash").toString
    LanguageModel.writeLmIndex(docs, idx)
    val want = LanguageModel.scoreAgainstLmIndex(docs, idx, minCount = 1L)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    // stage a compacted copy, then simulate the mid-swap crash
    spark.read.parquet(s"$idx/bigrams").distinct().repartition(1)
      .write.mode("overwrite").parquet(s"$idx/bigrams.compact")
    val fs = IndexFs.fs(spark, idx)
    fs.rename(new org.apache.hadoop.fs.Path(s"$idx/bigrams"),
      new org.apache.hadoop.fs.Path(s"$idx/bigrams.old"))
    val healed = LanguageModel.scoreAgainstLmIndex(docs, idx, minCount = 1L)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(healed === want, "reader must recover the swap and score identically")
    // and a compaction re-run after the crash completes instead of throwing
    LanguageModel.compactLmIndex(spark, idx)
    assert(LanguageModel.scoreAgainstLmIndex(docs, idx, minCount = 1L)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq === want)
  }

  test("near-dup screen and append self-heal after a compaction crash mid-swap") {
    val corpus = Seq((1L, "a b c d e f g h"), (2L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val probe = Seq((10L, "a b c d e f g q")).toDF("doc_id", "text")
    val idx = Files.createTempDirectory("graft_nd_crash").toString
    Dedup.writeNearDupIndex(corpus, idx, n = 3)
    val want = Dedup.screenAgainstNearDupIndex(probe, idx, n = 3, minJaccard = 0.5)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    // stage compacted copies of all three tables, crash mid-swap on one
    Seq("shingles", "hashes").foreach { t =>
      spark.read.parquet(s"$idx/$t").distinct()
        .write.mode("overwrite").parquet(s"$idx/$t.compact")
    }
    spark.read.parquet(s"$idx/shingles").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_ex"))
      .write.mode("overwrite").parquet(s"$idx/sizes.compact")
    val fs = IndexFs.fs(spark, idx)
    fs.rename(new org.apache.hadoop.fs.Path(s"$idx/shingles"),
      new org.apache.hadoop.fs.Path(s"$idx/shingles.old"))
    assert(Dedup.screenAgainstNearDupIndex(probe, idx, n = 3, minJaccard = 0.5)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq === want,
      "screen must recover the crashed swap and verdict identically")
    // append after the same crash must heal first, not fork the index
    fs.rename(new org.apache.hadoop.fs.Path(s"$idx/sizes"),
      new org.apache.hadoop.fs.Path(s"$idx/sizes.old"))
    Dedup.appendNearDupIndex(Seq((3L, "m n o m2 n2 o2 m3 n3"))
      .toDF("doc_id", "text"), idx, n = 3)
    assert(spark.read.parquet(s"$idx/sizes").count() >= 3,
      "append healed the missing table instead of minting a batch-only one")
  }

  // ---- auto-derived gram bucket count ---------------------------------

  test("autoBucketCount: measured sf0.1 cardinality picks 32; 100x picks 256+") {
    // 224,694 distinct 8-grams measured on the sf0.1 documents table —
    // the corpus where 32 was the measured right size (HEADROOM x103)
    assert(Dedup.autoBucketCount(224694L) === 32)
    // one decade up (the decade corpora perturb replica text, so
    // distinct grams scale with the replica count)
    assert(Dedup.autoBucketCount(2246940L) === 512)
    // two decades up: past the 256 floor the verdict asked for, capped
    assert(Dedup.autoBucketCount(22469400L) === 4096)
    assert(Dedup.autoBucketCount(22469400L) >= 256)
    // clamps: tiny corpora floor at 8, planet-scale caps at 4096
    assert(Dedup.autoBucketCount(1L) === 8)
    assert(Dedup.autoBucketCount(Long.MaxValue / 2) === 4096)
    // exact power-of-two boundary stays put (no off-by-one doubling)
    assert(Dedup.autoBucketCount(8192L * 64) === 64)
  }

  test("bucketed build with buckets=0 derives the count and screens identically") {
    val existing = Seq((1L, "a b c d e f g h"), (2L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "x a b c d e f g h y")).toDF("doc_id", "text")
    val auto = Files.createTempDirectory("graft_autobkt").toString
    val manual = Files.createTempDirectory("graft_manbkt").toString
    Dedup.writeGramIndexBucketed(existing, auto, k = 3) // buckets = 0 → auto
    Dedup.writeGramIndexBucketed(existing, manual, k = 3, buckets = 16)
    def spans(idx: String) =
      Dedup.duplicateSpansAgainstIndexBloom(batch, idx, k = 3)
        .orderBy("doc_id", "span_start").collect().map(_.toSeq).toSeq
    assert(spans(auto) === spans(manual),
      "bucket count is a layout choice — screen output must not move")
    // the derived count is the documented floor at fixture scale
    val buckets = spark.read.parquet(auto)
      .select("bucket").distinct().count()
    assert(buckets <= 8, "fixture-scale cardinality derives the 8-bucket floor")
  }

  test("compactGramIndex re-derives an undersized bucket count; screen invariant") {
    val existing = Seq((1L, "a b c d e f g h"), (2L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "x a b c d e f g h y")).toDF("doc_id", "text")
    val idx = Files.createTempDirectory("graft_rebkt").toString
    // pin an undersized scheme at build (the streaming bootstrap shape:
    // sized to the first batch, then the index decades past it)
    Dedup.writeGramIndexBucketed(existing, idx, k = 3, buckets = 2)
    Dedup.appendGramIndexBucketed(batch, idx, k = 3)
    def spans() = Dedup.duplicateSpansAgainstIndexBloom(batch, idx, k = 3)
      .orderBy("doc_id", "span_start").collect().map(_.toSeq).toSeq
    val want = spans()
    Dedup.compactGramIndex(spark, idx) // buckets = 0 → re-derive
    assert(spans() === want, "re-bucketing must not move the screen output")
    val after = spark.read.parquet(idx).select("bucket").distinct().count()
    assert(after > 2 && after <= 8,
      s"compaction re-derives the count (floor 8 at fixture scale), got $after")
    // an explicit count still pins the scheme
    Dedup.compactGramIndex(spark, idx, buckets = 4)
    assert(spans() === want)
    assert(spark.read.parquet(idx).select("bucket").distinct().count() <= 4)
  }

  test("cached sidecar detects a foreign re-bucket/replace via the write stamp") {
    // Two indexes with DIFFERENT bucket schemes and different contents;
    // a "foreign process" replaces one with the other on disk while
    // this session holds a cached sidecar for the path. Pre-fix, the
    // stale cache kept the old bucket count (probing wrong partition
    // dirs) and the old Bloom (gating out every new gram) — silently
    // missed duplicates, the round-14 advisory's cross-process hazard.
    val dirA = Files.createTempDirectory("graft_stampA").toString + "/idx"
    val dirB = Files.createTempDirectory("graft_stampB").toString + "/idx"
    val docsA = Seq((1L, "p q r s t u v w")).toDF("doc_id", "text")
    val docsB = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val batch = Seq((10L, "x a b c d e f g h y")).toDF("doc_id", "text")
    Dedup.writeGramIndexBucketed(docsA, dirA, k = 3, buckets = 2)
    Dedup.writeGramIndexBucketed(docsB, dirB, k = 3, buckets = 8)
    def spans() = Dedup.duplicateSpansAgainstIndexBloom(batch, dirA, k = 3)
      .collect().map(_.toSeq).toSeq
    assert(spans().isEmpty, "A shares no grams with the batch") // seeds the cache
    // the foreign replace: B's index (8 buckets) lands at A's path
    val fs = IndexFs.fs(spark, dirA)
    fs.delete(new org.apache.hadoop.fs.Path(dirA), true)
    fs.rename(new org.apache.hadoop.fs.Path(dirB),
      new org.apache.hadoop.fs.Path(dirA))
    assert(spans().nonEmpty,
      "the stamp check must re-read the replaced sidecar — a stale " +
        "bucket count/Bloom would silently miss every duplicate")
    // and an append through the re-validated scheme routes correctly
    Dedup.appendGramIndexBucketed(
      Seq((2L, "j k l m n o p2 q2 r2")).toDF("doc_id", "text"), dirA, k = 3)
    val hit = Dedup.duplicateSpansAgainstIndexBloom(
      Seq((11L, "z j k l m n o z2")).toDF("doc_id", "text"), dirA, k = 3)
    assert(hit.count() > 0, "appended grams screen back out post-replace")
  }

  // ---- semantic rebuild: retrain-and-migrate --------------------------

  private def embDf(rows: Seq[(Long, Seq[Float])]) =
    rows.toDF("vec_id", "embedding")

  test("cap-bind alarm: appends push eligible seeds past the rank cap, the " +
      "stored audit fires off the index's own stamp, and a wider-cap " +
      "rebuild clears it") {
    val dim = 64
    def unit(axis: Int): Seq[Float] =
      Seq.tabulate(dim)(d => if (d == axis) 1.0f else 0.0f)
    val idx = Files.createTempDirectory("graft_capbind").toString + "/idx"
    // build at cap 2: seeds 0 and 100 (vec_id % 100 == 0) exactly fill
    // the cap — not yet binding
    Similarity.writeSemanticIndex(
      embDf(Seq(0L -> unit(0), 100L -> unit(1), 7L -> unit(0))),
      idx, centroidModulus = 100, maxCentroids = 2)
    def audit() = Similarity.storedSemanticOccupancy(spark, idx).collect()(0)
    val b0 = audit()
    assert(b0.getAs[Long]("eligible_seeds") === 2L &&
      !b0.getAs[Boolean]("cap_bound"),
      s"cap exactly filled is not yet bound: $b0")
    // two more seed-eligible vectors arrive via appends: under the
    // frozen 2-centroid geometry they are members, but a rebuild's
    // rank cut would now SELECT 2 of 4 eligible seeds — the binding
    // mode the round-15 recall decomposition measured (~10 of 14
    // points at 100×, unreclaimable by nprobe)
    Similarity.appendSemanticIndex(embDf(Seq(200L -> unit(2))), idx)
    Similarity.appendSemanticIndex(embDf(Seq(300L -> unit(3))), idx)
    // NOTE: audit() passes no parameters — the alarm must read the
    // STAMPED cap (2), not its 1024 default, or a deployment-tuned
    // index silently audits against the wrong geometry
    val b1 = audit()
    assert(b1.getAs[Long]("eligible_seeds") === 4L &&
      b1.getAs[Boolean]("cap_bound"),
      s"the alarm fires when eligible seeds exceed the stamped cap: $b1")
    // the documented remedy: rebuild at a wider cap — every eligible
    // seed becomes a centroid and the alarm clears
    Similarity.rebuildSemanticIndex(spark, idx, maxCentroids = 16)
    val b2 = audit()
    assert(b2.getAs[Long]("eligible_seeds") === 4L &&
      !b2.getAs[Boolean]("cap_bound"),
      s"the wider-cap rebuild clears the alarm: $b2")
    assert(spark.read.parquet(s"$idx/centroids").count() === 4L,
      "all four eligible seeds are centroids under the wider cap")
    // a takedown of a seed shrinks the eligible count the alarm audits
    Similarity.deleteFromSemanticIndex(Seq(300L).toDF("vec_id"), idx)
    assert(audit().getAs[Long]("eligible_seeds") === 3L,
      "eligible seeds count LIVE vectors only")
  }

  test("IVF-PQ cap-bind alarm: BOTH quantizer caps audited off the stamp; " +
      "deletes shrink the eligible counts; a wider-cap retrain clears") {
    val dim = 64
    def unit(axis: Int): Seq[Float] =
      Seq.tabulate(dim)(d => if (d == axis) 1.0f else 0.0f)
    val idx = Files.createTempDirectory("graft_pq_capbind").toString + "/idx"
    val emb = embDf((0L to 3L).map(i => i -> unit(i.toInt)))
    // modulus 1 → every vector is coarse-eligible (4 > cap 2);
    // codeModulus 2 → ids 0 and 2 are codebook-eligible (2 > cap 1)
    Similarity.ivfPqWriteIndex(emb, idx, centroidModulus = 1,
      maxCentroids = 2, m = 16, codeModulus = 2, maxCodes = 1)
    def audit() = Similarity.ivfPqOccupancy(spark, idx).collect()(0)
    // no parameters passed: the alarm must read the STAMPED caps — its
    // 1024/256 defaults would call 4 and 2 eligible comfortably unbound
    val a0 = audit()
    assert(a0.getAs[Long]("eligible_seeds") === 4L &&
      a0.getAs[Boolean]("cap_bound"), s"coarse cap binds: $a0")
    assert(a0.getAs[Long]("eligible_code_seeds") === 2L &&
      a0.getAs[Boolean]("code_cap_bound"), s"codebook cap binds: $a0")
    // a takedown shrinks what the next retrain would see
    Similarity.deleteFromIvfPqIndex(Seq(2L).toDF("vec_id"), idx)
    val a1 = audit()
    assert(a1.getAs[Long]("eligible_seeds") === 3L &&
      a1.getAs[Long]("eligible_code_seeds") === 1L,
      s"eligible counts audit LIVE vectors only: $a1")
    assert(!a1.getAs[Boolean]("code_cap_bound"),
      "one live codebook seed no longer binds the cap of 1")
    // the remedy: ivfPqRebuildIndex at wider caps — the SAFE retrain
    // (whole-directory swap; a bare re-write over a live index is not
    // atomic). The caller carelessly hands back the ORIGINAL corpus;
    // the rebuild filters the tombstoned vector out itself.
    Similarity.ivfPqRebuildIndex(emb, idx,
      centroidModulus = 1, maxCentroids = 16, m = 16, codeModulus = 2,
      maxCodes = 16)
    val a2 = audit()
    assert(!a2.getAs[Boolean]("cap_bound") &&
      !a2.getAs[Boolean]("code_cap_bound"),
      s"the wider-cap rebuild clears both alarms: $a2")
    assert(a2.getAs[Long]("eligible_seeds") === 3L,
      "the tombstoned vector stayed out of the handed-back corpus")
    assert(!IndexFs.exists(spark, s"$idx/deletes"),
      "the swapped-in index starts with no tombstones")
  }

  test("ivfPqRebuildIndex: a swap crashed between the renames is healed " +
      "by the next search") {
    val dim = 64
    def unit(axis: Int): Seq[Float] =
      Seq.tabulate(dim)(d => if (d == axis) 1.0f else 0.0f)
    val idx = Files.createTempDirectory("graft_pq_rbheal").toString + "/idx"
    val emb = embDf((0L to 3L).map(i => i -> unit(i.toInt)))
    Similarity.ivfPqWriteIndex(emb, idx)
    def hits = Similarity.ivfPqSearchIndex(emb, idx,
      queryIds = Seq(0L), k = 3, nprobe = 2)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    val want = hits
    // crash window: live renamed aside and dropped, .compact complete
    // but not yet promoted — exactly what a rebuild crash between
    // the swap's two renames leaves
    IndexFs.renameOrFail(spark, idx, s"$idx.compact", "stage crash")
    assert(hits === want,
      "the search entry must complete the crashed whole-index swap")
  }

  test("rebuildSemanticIndex: retrains centroids, screen verdicts invariant, occupancy alarm clears") {
    val dim = 64
    def unit(axis: Int, eps: (Int, Float)*): Seq[Float] =
      Seq.tabulate(dim) { d =>
        if (d == axis) 1.0f
        else eps.collectFirst { case (a, e) if a == d => e }.getOrElse(0.0f)
      }
    val idx = Files.createTempDirectory("graft_sem_rebuild").toString
    // regime A: centroid candidate 0 (vec_id % 100 == 0) plus a mate
    Similarity.writeSemanticIndex(
      embDf(Seq(0L -> unit(0), 7L -> unit(0, 10 -> 0.1f))), idx)
    // regime B drifts in via appends: an axis-1 cloud with NO id ≡ 0
    // (mod 100) member — under the frozen batch-0 centroids every one
    // of them piles into the single old cell
    val regimeB = embDf(Seq(201L -> unit(1), 202L -> unit(1, 11 -> 0.1f),
      203L -> unit(1, 12 -> 0.1f), 300L -> unit(1, 13 -> 0.1f)))
    assert(Similarity.appendSemanticIndexOnce(regimeB, idx, batchId = 1L))
    val before = Similarity.storedSemanticOccupancy(spark, idx, cellCap = 4)
      .collect()(0)
    assert(before.getLong(0) === 1L, "one mega-cell under frozen centroids")
    assert(before.getLong(2) === 1L, "occupancy alarm fires (cells_over_cap)")
    // the screen's verdicts before the rebuild
    val bench = embDf(Seq(1000L -> unit(1), 1001L -> unit(5)))
    def verdicts() = Similarity.semanticScreenIndex(bench, idx, minCos = 0.7)
      .select("bench_id", "n_matches", "contaminated")
      .orderBy("bench_id").collect().map(_.toSeq).toSeq
    val want = verdicts()
    Similarity.rebuildSemanticIndex(spark, idx)
    // retrained: id 300 (≡ 0 mod 100, appended) is now a centroid, the
    // regime-B cloud gets its own cell and the alarm clears
    val after = Similarity.storedSemanticOccupancy(spark, idx, cellCap = 4)
      .collect()(0)
    assert(after.getLong(0) === 2L, "retrain splits the mega-cell")
    assert(after.getLong(2) === 0L, "occupancy alarm clears after rebuild")
    assert(verdicts() === want,
      "screen verdicts over the same vectors are invariant across the swap")
    // the whole live set survived the migration
    assert(spark.read.parquet(s"$idx/vectors").count() === 6L)
    // commit markers moved with the index: the redelivered batch skips
    assert(!Similarity.appendSemanticIndexOnce(regimeB, idx, batchId = 1L),
      "markers must survive the rebuild or redeliveries double-append")
    assert(spark.read.parquet(s"$idx/vectors").count() === 6L)
  }

  test("rebuildNearDupIndex: re-learned hot list caps post-build boilerplate; markers survive") {
    import graft.ext.Dedup
    // build corpus: two clean docs, no shingle df > 2 anywhere
    val build = Seq((1L, "a b c d e f g h"), (2L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    // appended regime: a boilerplate footer shared by all four docs —
    // df 4 over the live corpus, but ZERO at build time, so the frozen
    // hot list never caps it
    def footer(uniq: String) =
      s"copy right footer legal notice all rights reserved $uniq"
    val batch = Seq(3L -> footer("z3"), 4L -> footer("z4"),
      5L -> footer("z5"), 6L -> footer("z6")).toDF("doc_id", "text")
    val probe = Seq(
      (100L, footer("m9")),          // boilerplate-dominated: 6 of its 7
                                     // shingles are the footer
      (101L, "j k l j2 k2 l2 j3 k3") // genuinely clean either way
    ).toDF("doc_id", "text")
    val idx = Files.createTempDirectory("graft_nd_rebuild").toString
    Dedup.writeNearDupIndex(build, idx, n = 3, maxShingleDf = 2)
    assert(Dedup.appendNearDupIndexOnce(batch, idx, batchId = 9L, n = 3))
    def verdicts() =
      Dedup.screenAgainstNearDupIndex(probe, idx, n = 3, minJaccard = 0.5)
        .select("doc_id", "verdict").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    // frozen hot list: the footer shingles stored UNCAPPED, so the
    // probe jaccards 6/8 = 0.75 against every appended doc — the
    // false-positive shape the cap exists to kill
    val frozen = verdicts()
    assert(frozen(100L) === "drop_near",
      "under the stale hot list the boilerplate probe is flagged")
    assert(frozen(101L) === "keep")
    Dedup.rebuildNearDupIndex(build.unionByName(batch), idx, n = 3,
      maxShingleDf = 2)
    // re-learned hot list: footer df = 4 > 2 → capped everywhere; the
    // probe's one unique shingle intersects nothing
    val rebuilt = verdicts()
    assert(rebuilt(100L) === "keep",
      "the rebuild's re-learned cap kills the boilerplate false positive")
    assert(rebuilt(101L) === "keep",
      "clean-doc verdict invariant across the swap")
    // markers moved with the index: the redelivered batch skips
    val n1 = spark.read.parquet(s"$idx/shingles").count()
    assert(!Dedup.appendNearDupIndexOnce(batch, idx, batchId = 9L, n = 3),
      "markers must survive the rebuild or redeliveries double-append")
    assert(spark.read.parquet(s"$idx/shingles").count() === n1)
  }

  test("rebuildNearDupIndex re-run after a marker-move crash preserves committed markers") {
    import graft.ext.Dedup
    val build = Seq((1L, "a b c d e f g h"), (2L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val batch = Seq((3L, "m n o m2 n2 o2 m3 n3")).toDF("doc_id", "text")
    val idx = Files.createTempDirectory("graft_nd_markercrash").toString
    Dedup.writeNearDupIndex(build, idx, n = 3)
    assert(Dedup.appendNearDupIndexOnce(batch, idx, batchId = 9L, n = 3))
    // simulate a rebuild that crashed AFTER moving the live markers
    // into the tmp directory but BEFORE the swap: tmp holds the only
    // copy of b9, the live index is intact but marker-less
    val fs = IndexFs.fs(spark, idx)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx.compact"))
    fs.rename(new org.apache.hadoop.fs.Path(s"$idx/_batch_commits"),
      new org.apache.hadoop.fs.Path(s"$idx.compact/_batch_commits"))
    // the re-run must rescue the markers before destroying tmp — the
    // round-14 advisory: a wholesale tmp delete here silently degraded
    // every committed batch to at-least-once
    Dedup.rebuildNearDupIndex(build.unionByName(batch), idx, n = 3)
    val n1 = spark.read.parquet(s"$idx/shingles").count()
    assert(!Dedup.appendNearDupIndexOnce(batch, idx, batchId = 9L, n = 3),
      "the rescued marker must survive the re-run rebuild")
    assert(spark.read.parquet(s"$idx/shingles").count() === n1,
      "the redelivered batch must not double-append")
  }

  test("rebuildSemanticIndex merges stale .compact markers instead of promoting them") {
    val dim = 64
    def unit(axis: Int): Seq[Float] =
      Seq.tabulate(dim)(d => if (d == axis) 1.0f else 0.0f)
    val idx = Files.createTempDirectory("graft_sem_markercrash").toString
    Similarity.writeSemanticIndex(embDf(Seq(0L -> unit(0))), idx)
    val b1 = embDf(Seq(201L -> unit(1)))
    val b2 = embDf(Seq(301L -> unit(2)))
    assert(Similarity.appendSemanticIndexOnce(b1, idx, batchId = 1L))
    // crashed earlier rebuild: live markers ({b1}) were moved into
    // .compact, then the crash; a later append re-created live markers
    val fs = IndexFs.fs(spark, idx)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx.compact"))
    fs.rename(new org.apache.hadoop.fs.Path(s"$idx/_batch_commits"),
      new org.apache.hadoop.fs.Path(s"$idx.compact/_batch_commits"))
    assert(Similarity.appendSemanticIndexOnce(b2, idx, batchId = 2L),
      "b2 re-commits after the crash (b1's redelivery window is the " +
        "documented at-least-once degrade)")
    // pre-fix: the forward marker rename silently failed (destination
    // exists) and the swap promoted the STALE set — b2's marker died
    Similarity.rebuildSemanticIndex(spark, idx)
    val n = spark.read.parquet(s"$idx/vectors").count()
    assert(!Similarity.appendSemanticIndexOnce(b1, idx, batchId = 1L),
      "the stale .compact marker is merged, not lost")
    assert(!Similarity.appendSemanticIndexOnce(b2, idx, batchId = 2L),
      "the newer live marker survives the rebuild — not the stale set")
    assert(spark.read.parquet(s"$idx/vectors").count() === n)
  }

  test("semantic screen self-heals after a rebuild crash mid whole-index swap") {
    val dim = 64
    def unit(axis: Int): Seq[Float] =
      Seq.tabulate(dim)(d => if (d == axis) 1.0f else 0.0f)
    val idx0 = Files.createTempDirectory("graft_sem_crash").toString
    val idx = s"$idx0/index"
    Similarity.writeSemanticIndex(
      embDf(Seq(0L -> unit(0), 3L -> unit(1))), idx)
    val bench = embDf(Seq(1000L -> unit(0)))
    def matches(): Long =
      Similarity.semanticScreenIndex(bench, idx, minCos = 0.7)
        .collect()(0).getLong(1)
    val want = matches()
    // stage the rebuilt copy, crash between rename(live, old) and
    // rename(compact, live) — the whole-index analog of the table swap
    val fs = IndexFs.fs(spark, idx)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(idx),
      fs, new org.apache.hadoop.fs.Path(s"$idx.compact"), false,
      spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(idx),
      new org.apache.hadoop.fs.Path(s"$idx.old"))
    assert(matches() === want, "screen recovers the whole-index swap")
  }
}
