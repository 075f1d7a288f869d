package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-stream-shaped batch operators over the `events` table
  * (SURVEY.md §2.11): tumbling windows and gap sessionization. The
  * `ts` column arrives as an ns-epoch LongType (nanosAsLong parquet
  * flag); all temporal math is integer µs so both engines agree
  * exactly. Streaming variants live in [[graft.streaming.EventStream]].
  *
  * Scale: the tumbling window is one shuffle on (window, type);
  * sessionization shuffles once on user_id — the window function sort
  * is per-user and AQE handles hot users; at 100 TB you would
  * range-partition by user_id and day first.
  */
object Events {

  // ns → µs via integer division: ts is an ns-epoch LongType (~1.7e18,
  // above 2^53), so double division would lose precision.
  private def tsMicros = expr("ts div 1000")

  /** Hourly tumbling-window aggregate per event type.
    * Output: (hour_start, event_type, n_events, sum_value, n_users).
    */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .withColumn("ts_us", tsMicros)
      .withColumn("hour_start",
        date_format(
          timestamp_micros(expr("(ts_us div 3600000000) * 3600000000")),
          "yyyy-MM-dd HH:mm:ss"))
      .groupBy(col("hour_start"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,10)")).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))

  /** Sliding (hopping) windows: each event lands in `win/slide`
    * overlapping windows. Implemented by exploding a small constant
    * range (k = 0 .. win/slide − 1) and computing each window start with
    * integer µs arithmetic — `window_start = (ts div slide − k) · slide`
    * covers exactly the windows containing ts, so no post-filter is
    * needed. One shuffle on (window, type); the explode multiplies rows
    * by the constant overlap factor before the map-side partial
    * aggregation collapses them, so the exchange still carries only
    * per-(window, type) partials.
    * Output: (window_start, event_type, n_events, sum_value).
    */
  def slidingCounts(events: DataFrame, winMinutes: Int = 60, slideMinutes: Int = 15): DataFrame = {
    require(winMinutes % slideMinutes == 0, "window must be a multiple of slide")
    val slideUs = slideMinutes * 60L * 1000000L
    val overlap = winMinutes / slideMinutes
    events
      .withColumn("ts_us", tsMicros)
      .select(col("event_type"), col("value"), col("ts_us"),
        explode(sequence(lit(0), lit(overlap - 1))).as("k"))
      .withColumn("window_start",
        date_format(
          timestamp_micros(expr(s"(ts_us div $slideUs - k) * $slideUs")),
          "yyyy-MM-dd HH:mm:ss"))
      .groupBy(col("window_start"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,10)")).cast("double").as("sum_value"))
  }

  /** Point-in-interval range join: attribute each event to the session
    * whose [start, end] interval contains it, per user — the canonical
    * event-analytics interval join (and the general form of "enrich a
    * point stream from an interval table"). The join is equi on
    * `user_id` with the range condition evaluated after co-partitioning,
    * so the plan is ONE shuffle pair on user_id and a linear per-user
    * scan — no cartesian, no broadcast of the fact side. At 100 TB both
    * sides would be bucketed by user_id and the shuffle disappears; a
    * hot user is bounded by that user's |sessions| × |events|, which the
    * gap structure keeps small (sessions per user ≪ events per user).
    *
    * Output: (event_id, user_id, session_id, session_start_us) — every
    * event maps to exactly one session by construction of the gap
    * partitioning (session intervals of one user never overlap). The
    * user match is NULL-SAFE (`<=>`): sessionize's window partitioning
    * groups NULL users into their own sessions, and a null-rejecting
    * `===` would silently drop exactly those events, breaking totality.
    */
  def sessionAttribution(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val sessions = sessionize(events, gapMinutes)
      .select(col("user_id").as("s_user"), col("session_id"),
        col("session_start_us"), col("session_end_us"))
    events
      .select(col("event_id"), col("user_id"), tsMicros.as("ts_us"))
      .join(sessions,
        col("user_id") <=> col("s_user") &&
          col("ts_us").between(col("session_start_us"), col("session_end_us")))
      .select(col("event_id"), col("user_id"), col("session_id"),
        col("session_start_us"))
  }

  /** Two-step funnel attribution: for every `fromType` event, the FIRST
    * `toType` event by the same user strictly after it and within
    * `windowMinutes` — conversion analysis, the sequence-analytics
    * primitive. Deterministic even under timestamp ties: the best
    * candidate is picked by (ts asc, event_id asc) on the heap operator,
    * never by join order.
    *
    * Scale shape: both sides are type-pruned at the scan (the filter
    * pushes down), the candidate join is equi on user_id with the range
    * evaluated after co-partitioning (same shape as
    * [[sessionAttribution]]), and the per-click best rides the heap
    * partial — candidates per click are bounded by the window, so the
    * exchange carries ≤ 1 row per (click, partition).
    *
    * Output: (click_id, user_id, click_ts_us, purchase_id,
    * purchase_ts_us, delay_us) — null purchase columns when the funnel
    * did not convert.
    *
    * NULL users: the candidate join is deliberately null-REJECTING
    * (`===`), the opposite of [[sessionAttribution]]'s `<=>`. Session
    * attribution enriches events with per-user structure, so a NULL
    * user's events still form sessions and must not be dropped —
    * totality is the contract. A funnel asserts that the SAME person
    * clicked and then purchased; two anonymous events carry no such
    * identity, and `<=>` would conflate every anonymous click with
    * every anonymous purchase into one phantom mega-user. So NULL-user
    * clicks stay in the output (the left join keeps them) but can never
    * convert — purchase columns null — and NULL-user purchases attach
    * to nothing. The x43 oracle mirrors this via SQL's native
    * null-rejecting `=`.
    */
  def funnel(
      events: DataFrame,
      fromType: String = "click",
      toType: String = "purchase",
      windowMinutes: Int = 30): DataFrame = {
    import graft.plans.TopKPerGroup
    val windowUs = windowMinutes * 60L * 1000000L
    val from = events.filter(col("event_type") === fromType)
      .select(col("event_id").as("click_id"), col("user_id"), tsMicros.as("click_ts_us"))
    val to = events.filter(col("event_type") === toType)
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        tsMicros.as("p_ts_us"))
    val cand = from.join(to,
      col("user_id") === col("p_user") &&
        col("p_ts_us") > col("click_ts_us") &&
        col("p_ts_us") <= col("click_ts_us") + windowUs)
    val best = TopKPerGroup.topK(cand, Seq("click_id"),
        Seq("p_ts_us" -> TopKPerGroup.Asc, "purchase_id" -> TopKPerGroup.Asc), 1)
      .select(col("click_id"), col("purchase_id"),
        col("p_ts_us").as("purchase_ts_us"))
    from.join(best, Seq("click_id"), "left")
      .select(col("click_id"), col("user_id"), col("click_ts_us"),
        col("purchase_id"), col("purchase_ts_us"),
        (col("purchase_ts_us") - col("click_ts_us")).as("delay_us"))
  }

  /** Day-grain cohort retention: users are cohorted by their first
    * active day; each (cohort_day, day_offset) cell counts the distinct
    * cohort members active `day_offset` days later — the standard
    * retention triangle. Day boundaries are integer µs divisions (UTC),
    * so both engines agree exactly.
    *
    * Scale shape: one (user)-keyed min-aggregate for the cohort
    * assignment, one distinct (user, day) pass, then a
    * (cohort, offset)-keyed countDistinct — all map-side combined; the
    * cohort join broadcasts when the user dimension fits, shuffles on
    * user_id otherwise.
    * Output: (cohort_day, day_offset, n_users).
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val dayUs = 86400L * 1000000L
    // userDays feeds both the cohort min-aggregate and the join — two
    // reads; persist or the events scan + distinct exchange run twice
    val userDays = graft.tools.InternalCaches.persist(
      events
        .select(col("user_id"), expr(s"(ts div 1000) div $dayUs").as("day"))
        .distinct())
    val cohorts = userDays.groupBy("user_id").agg(min("day").as("cohort_day"))
    userDays.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      // plain count, not countDistinct: userDays is distinct at
      // (user, day) and day is fixed within a (cohort, offset) group, so
      // each user appears exactly once — the distinct-agg path would
      // only add a second keyed exchange for a semantic no-op
      .agg(count(lit(1)).as("n_users"))
  }

  /** Gap-based sessionization: a new session starts when a user's gap
    * from their previous event exceeds `gapMinutes`. Deterministic order
    * within a user: (ts_us, event_id).
    * Output: (user_id, session_id, n_events, session_start_us,
    * session_end_us, duration_us).
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events
      .withColumn("ts_us", tsMicros)
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
  }

  /** x68 — BATCH-INCREMENTAL sessionization: sessionize one new batch
    * of events against the open-session state carried from previous
    * batches, without re-reading history and without streaming
    * machinery. This is the constructive answer to the round-10
    * crossover measurement (HEADROOM): the one-shot streaming replay
    * LOSES to the batch sort at every measured scale (typed state-store
    * path costs more per row than Tungsten's sort), and the nightly
    * full re-sort re-pays the whole history every run — this operator
    * takes the third path: per increment it sorts ONLY the batch
    * (x14's window over batch rows) and joins ONLY the O(users) state,
    * so the marginal cost is O(batch + users) with plain batch
    * operators end to end, and folding every batch reproduces the
    * full-corpus x14 result bit-for-bit (spec'd, and x68 verifies the
    * 4-increment fold against x14's own DuckDB oracle).
    *
    * Contract: `openState` holds at most one OPEN session per user
    * ((user_id, session_start_us, session_end_us, n_events) — the
    * `is_open` rows of the previous call, or empty on the first);
    * `batch` must be time-ordered ingestion — no event at or before
    * any state session's end (time-ranged arrival, the same
    * precondition the file replay's staging guarantees; enforced with
    * a cheap global require: min(batch ts) > max(state end)).
    *
    * Mechanics: the batch sessionizes alone; a user's FIRST batch
    * session merges into their open state session when the gap allows
    * (only the first can — within-batch sessions are already > gap
    * apart); an unmerged state session closes; state of users absent
    * from the batch carries forward open. The LAST (possibly merged)
    * batch session per user is the new open state.
    *
    * Output: (user_id, session_start_us, session_end_us, n_events,
    * is_open) — callers emit `!is_open` rows downstream and feed the
    * `is_open` rows to the next call. Plan: one batch-keyed window
    * sort + two user-keyed joins against O(users) state; nothing
    * touches prior batches.
    */
  def sessionizeIncremental(
      batch: DataFrame,
      openState: DataFrame,
      gapMinutes: Int = 30): DataFrame = {
    // append-only time guard (global form — cheap, sufficient for
    // time-ranged arrival). Both aggregates ride ONE driver action via
    // the cross join: per-increment driver roundtrips are the dominant
    // steady-state cost of a fold, so the guard pays one, not two.
    val guard = batch.select(tsMicros.as("ts_us"))
      .agg(min(col("ts_us")).as("b_min"))
      .crossJoin(openState.agg(max(col("session_end_us")).as("st_max"))).head()
    requireAppendOnly(
      if (guard.isNullAt(0)) None else Some(guard.getLong(0)),
      if (guard.isNullAt(1)) None else Some(guard.getLong(1)))
    sessionizeIncrementalUnguarded(batch, openState, gapMinutes)
  }

  /** The append-only guard assertion shared by the in-plan fold (which
    * pays a dedicated aggregate for it) and the stored fold (which
    * reads both bounds off the fingerprint row it already computes —
    * one driver action serves retry detection AND the guard).
    */
  private def requireAppendOnly(batchMin: Option[Long],
      stateMax: Option[Long]): Unit =
    require(stateMax.isEmpty || batchMin.isEmpty ||
        batchMin.get > stateMax.get,
      "sessionizeIncremental: batch contains events at or before an " +
        "open session's end — feed batches in time order")

  /** [[sessionizeIncremental]] body without the guard action — for
    * callers that have already asserted append-only order from bounds
    * they computed anyway ([[sessionizeIncrementalStored]]).
    */
  private def sessionizeIncrementalUnguarded(
      batch: DataFrame,
      openState: DataFrame,
      gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val st = openState.select(col("user_id"),
      col("session_start_us").as("st_start"),
      col("session_end_us").as("st_end"),
      col("n_events").as("st_n"))
    val mini = sessionize(batch, gapMinutes)
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("session_start_us"), col("session_end_us"))
    val lastId = Window.partitionBy(col("user_id"))
    val canMerge = col("session_id") === 1L && col("st_end").isNotNull &&
      col("session_start_us") - col("st_end") <= gapUs
    val sessions = mini.join(st, Seq("user_id"), "left")
      .select(col("user_id"), col("session_id"),
        when(canMerge, col("st_start")).otherwise(col("session_start_us"))
          .as("session_start_us"),
        col("session_end_us"),
        when(canMerge, col("n_events") + col("st_n")).otherwise(col("n_events"))
          .as("n_events"))
      .withColumn("is_open",
        col("session_id") === max(col("session_id")).over(lastId))
      .drop("session_id")
    // state sessions the batch did NOT merge: the user posted again but
    // past the gap — their old session closes now
    val closedState = st.join(
        mini.filter(col("session_id") === 1L)
          .select(col("user_id"), col("session_start_us").as("b_start")),
        Seq("user_id"))
      .filter(col("b_start") - col("st_end") > gapUs)
      .select(col("user_id"), col("st_start").as("session_start_us"),
        col("st_end").as("session_end_us"), col("st_n").as("n_events"),
        lit(false).as("is_open"))
    // users with state but no batch events: still open, carried forward
    val idleState = st.join(mini.select("user_id").distinct(),
        Seq("user_id"), "left_anti")
      .select(col("user_id"), col("st_start").as("session_start_us"),
        col("st_end").as("session_end_us"), col("st_n").as("n_events"),
        lit(true).as("is_open"))
    sessions.select("user_id", "session_start_us", "session_end_us",
        "n_events", "is_open")
      .unionByName(closedState).unionByName(idleState)
  }

  /** The nightly-job form of [[sessionizeIncremental]]: open-session
    * state lives as a parquet table under `stateDir` (the x59
    * stored-index pattern applied to streaming state), each call
    * stitches one batch against it, APPENDS the newly closed sessions
    * under `closedDir`, and swaps the state table to the new open set.
    * Returns the closed sessions this batch produced.
    *
    * Swap discipline (through the Hadoop [[IndexFs]] API, so the same
    * protocol runs against `file:`/`hdfs:`/`s3a:` state dirs): Spark
    * cannot overwrite a table it is reading, so the run commits in
    * steps that each leave a recoverable picture — commit the closed
    * partition, write `stateDir`.next, then swap it in
    * ([[IndexFs.swap]]: the old state aside as `.old`, `.next`
    * promoted, `.old` dropped). On startup: a present `stateDir` is the
    * truth (a stale `.next` is overwritten by the next write, a stale
    * `.old` dropped by the next swap); an ABSENT `stateDir` with a
    * complete `.next` means the crash hit inside the swap, and since
    * `.next` is written only after the closed partition committed, it
    * is the post-batch state and is promoted ([[IndexFs.recover]]) —
    * also at the very first batch, where there is no old state to set
    * aside. A `.next` cut off inside its own write (possible only at the
    * first batch, where no state was demoted) is deleted, and the retry
    * recomputes the batch from the empty state. Net contract: state is
    * never half-written and never silently reset; each call commits one
    * `batch=<n>` provenance partition (n = max existing + 1, so
    * archived/deleted old partitions never collide). The returned frame
    * reads the
    * just-written partition, NOT the pre-swap state lineage (whose
    * input files the swap deletes).
    *
    * Retry discipline (closes the duplicate window the at-least-once
    * contract used to leave open): the closed partition is staged in a
    * hidden `.batch=<n>.tmp` dir carrying a `_graft_commit` marker —
    * an order-independent fingerprint of the INPUT batch (count, min
    * ts, max ts, bit_xor of xxhash64(event_id, ts)) — and renamed into
    * place in one step, so a visible partition ALWAYS has its marker.
    * A call whose input matches the latest partition's marker is a
    * retry of that batch: if the stored state still predates the batch
    * (the crash hit between the partition commit and the swap), the
    * partition is REPLACED under the same id; if the state already
    * includes the batch (recovery promoted `.next`), the call SKIPS
    * the recompute and returns the committed partition — consumers
    * that union all partitions never see a duplicate either way.
    * Fingerprint collisions between genuinely different batches would
    * need equal count, min, max AND xor-of-hashes — not a practical
    * concern.
    */
  def sessionizeIncrementalStored(
      batch: DataFrame,
      stateDir: String,
      closedDir: String,
      gapMinutes: Int = 30): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    // crash recovery (see Scaladoc): present state wins; absent state
    // promotes a committed .next
    healState(spark, stateDir)
    val state =
      if (IndexFs.exists(spark, stateDir)) spark.read.parquet(stateDir)
      else Seq.empty[(Long, Long, Long, Long)]
        .toDF("user_id", "session_start_us", "session_end_us", "n_events")
    // --- retry detection (see Scaladoc): fingerprint the input batch,
    // reap stale staging dirs, and compare against the newest
    // partition's commit marker before doing any work
    IndexFs.listNames(spark, closedDir).filter(_.startsWith(".batch="))
      .foreach(nm => IndexFs.delete(spark, s"$closedDir/$nm"))
    // ONE driver action carries the batch fingerprint (count/min/max/
    // xor-hash), the state's max session end for the append-only guard
    // (round 18: the guard's dedicated aggregate inside the in-plan
    // fold was a second batch scan + job per fold — ~0.4 s of the
    // fold's ~2.5 s at sf0.1), and the retry-path stMax read.
    val fpRow = batch.selectExpr("count(*) as c", "min(ts div 1000) as mn",
      "max(ts div 1000) as mx", "bit_xor(xxhash64(event_id, ts)) as h")
      .crossJoin(state.agg(max(col("session_end_us")).as("st_max"))).head()
    def fpPart(i: Int) = if (fpRow.isNullAt(i)) "-" else fpRow.getLong(i).toString
    val fp = s"${fpRow.getLong(0)}:${fpPart(1)}:${fpPart(2)}:${fpPart(3)}"
    val stMax = if (fpRow.isNullAt(4)) None else Some(fpRow.getLong(4))
    // heal crashed erasure-compaction swaps BEFORE computing the next
    // batch id: a crash between a partition's aside-rename and its
    // promotion leaves batch=N only as batch=N.compact, and a lastId
    // computed over live partitions alone would re-mint id N — the next
    // compaction would then overwrite batch=N.compact and delete
    // batch=N.old, permanently losing the original partition (and its
    // retry marker). Nothing forces a readClosedSessions between the
    // crash and this fold, so the fold must run the same heal itself.
    healClosedPartitions(spark, closedDir)
    val lastId = IndexFs.listNames(spark, closedDir)
      .collect { case n if n.matches("batch=\\d+") =>
        n.stripPrefix("batch=").toLong
      }.foldLeft(-1L)(math.max)
    val lastMarker = if (lastId < 0) None
      else IndexFs.readSmall(spark, s"$closedDir/batch=$lastId/_graft_commit")
    val retryOfLast = lastMarker.contains(fp)
    val stateIncludesBatch = retryOfLast && (
      fpRow.isNullAt(1) || stMax.exists(fpRow.getLong(1) <= _))
    if (stateIncludesBatch) {
      // the prior attempt finished both the partition commit and the
      // state swap — the batch is done; hand back its committed output
      spark.read.parquet(s"$closedDir/batch=$lastId")
    } else {
      if (retryOfLast) IndexFs.delete(spark, s"$closedDir/batch=$lastId")
      val batchId = if (retryOfLast) lastId else lastId + 1
      // the guard asserts off the fingerprint row's bounds — the
      // unguarded body skips the in-plan fold's dedicated guard action
      requireAppendOnly(
        if (fpRow.isNullAt(1)) None else Some(fpRow.getLong(1)), stMax)
      // one pass for both writes: the batch window + state joins are the
      // operator's whole cost, and the open/closed splits would each
      // recompute the uncached lineage
      val out = sessionizeIncrementalUnguarded(batch, state, gapMinutes).persist()
      try {
        val cols = Seq("user_id", "session_start_us", "session_end_us", "n_events")
        val closedTmp = s"$closedDir/.batch=$batchId.tmp"
        val closedFin = s"$closedDir/batch=$batchId"
        out.filter(!col("is_open")).select(cols.map(col): _*)
          .write.mode("overwrite").parquet(closedTmp)
        IndexFs.writeSmall(spark, s"$closedTmp/_graft_commit", fp)
        IndexFs.renameOrFail(spark, closedTmp, closedFin,
          "sessionizeIncrementalStored: closed-partition commit")
        // the state moves only after the partition committed, so a
        // recovered .next always comes with its closed sessions
        swapState(spark, stateDir, out.filter(col("is_open")).select(cols.map(col): _*))
        spark.read.parquet(closedFin)
      } finally out.unpersist()
    }
  }

  /** Replace the open-session state with `open`: written to
    * `stateDir`.next, then swapped in ([[IndexFs.swap]]). */
  private def swapState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, open: DataFrame): Unit = {
    open.write.mode("overwrite").parquet(stateDir + ".next")
    IndexFs.swap(spark, stateDir, stateDir + ".next")
  }

  /** Complete a state swap that crashed with `stateDir` aside: a
    * complete `.next` without a live state is the committed post-batch
    * state ([[IndexFs.recover]]). */
  private def healState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Unit =
    IndexFs.recover(spark, stateDir, stateDir + ".next")

  // ---------------------------------------------------------------------
  // User erasure — the takedown verb (x126/x127/x128) at the session
  // grain. A GDPR request names a USER and a request time: everything
  // the store holds about them from before that time goes. Two
  // different bills, matched to the two tables' sizes: the open-session
  // STATE is O(users) and the fold rewrites it every batch anyway, so
  // the erasure rewrites it eagerly through the same .next/aside/
  // promote discipline; the CLOSED history grows with time, so it gets
  // the merge-on-read tombstone (readers anti-join; the next
  // compaction applies per partition and clears) — never a
  // history-sized rewrite on the takedown path.
  // ---------------------------------------------------------------------

  /** Heal crashed per-partition compaction swaps under `closedDir`: a
    * crash between a partition's aside-rename and its promotion leaves
    * `batch=N.compact` (and possibly `batch=N.old`) with no `batch=N`;
    * [[IndexFs.recover]] completes each. Called at EVERY lifecycle
    * entry that enumerates the partitions — the fold (which mints ids
    * from them), the reader, and the compactor — so no path can observe
    * (or reuse the id of) a half-swapped partition.
    */
  private def healClosedPartitions(
      spark: org.apache.spark.sql.SparkSession, closedDir: String): Unit =
    IndexFs.listNames(spark, closedDir)
      .collect { case n if n.matches("batch=\\d+(\\.compact|\\.old)?") =>
        n.replaceAll("\\.(compact|old)$", "")
      }.distinct
      .foreach(b => IndexFs.recover(spark, s"$closedDir/$b", s"$closedDir/$b.compact"))

  /** Closed-history tombstone schema: (user_id, before_us). A session
    * is erased iff its user matches AND it STARTED before the request
    * cutoff — sessions the user begins after the request are new data,
    * not covered by it (pass `beforeUs = Long.MaxValue` to forget the
    * user entirely). Replay-safe set semantics: the same request
    * appended twice is one request.
    */
  def eraseUserSessions(userIds: DataFrame, stateDir: String,
      closedDir: String, beforeUs: Long = Long.MaxValue): Unit = {
    val spark = userIds.sparkSession
    // the fold's crash recovery FIRST: inside the fold's state swap the
    // real open-session state is a committed stateDir+".next" with
    // stateDir absent — an erase that only checks `exists(stateDir)`
    // would skip the state rewrite entirely, the next fold would
    // promote .next, and the user's pre-cutoff open session would later
    // close into history after the tombstones were compacted away: a
    // permanent resurrection. Promoting .next here makes the rewrite
    // below always see the true state.
    healState(spark, stateDir)
    userIds.select(col("user_id")).filter(col("user_id").isNotNull)
      .distinct().withColumn("before_us", lit(beforeUs))
      .repartition(1).write.mode("append").parquet(s"$closedDir/_deletes")
    // the state rewrite: an open session that STARTED before the
    // cutoff is the user's pre-request activity (append-only time
    // means everything in it predates the request) and drops whole
    if (IndexFs.exists(spark, stateDir))
      swapState(spark, stateDir,
        erasureFilter(spark.read.parquet(stateDir), spark, closedDir))
    graft.tools.InternalCaches.releaseByPath(spark, closedDir)
  }

  /** Anti-join a session frame against the closed-history tombstones:
    * drop rows whose user is named by a request AND whose
    * session_start_us predates that request's cutoff. The tombstone
    * side is takedown-request-sized and broadcasts.
    */
  private def erasureFilter(sessions: DataFrame,
      spark: org.apache.spark.sql.SparkSession,
      closedDir: String): DataFrame = {
    val del = s"$closedDir/_deletes"
    if (!IndexFs.exists(spark, del)) sessions
    else {
      val d = spark.read.parquet(del).distinct()
        .withColumnRenamed("user_id", "del_user")
      sessions.join(broadcast(d),
        sessions("user_id") === col("del_user") &&
          sessions("session_start_us") < col("before_us"),
        "left_anti")
    }
  }

  /** The supported read of the closed-session history: every live
    * `batch=` provenance partition, erasure tombstones applied. Also
    * the lifecycle's self-healing entry — a per-partition compaction
    * swap crashed between its renames is completed here (the IndexFs
    * swap recovery), which a naive
    * `spark.read.parquet(closedDir)` cannot do (and that read would
    * also miss the tombstones — this method IS the contract).
    */
  def readClosedSessions(spark: org.apache.spark.sql.SparkSession,
      closedDir: String): DataFrame = {
    import spark.implicits._
    healClosedPartitions(spark, closedDir)
    val live = IndexFs.listNames(spark, closedDir)
      .filter(_.matches("batch=\\d+"))
    val all =
      if (live.isEmpty) Seq.empty[(Long, Long, Long, Long)]
        .toDF("user_id", "session_start_us", "session_end_us", "n_events")
      else live.map(p => spark.read.parquet(s"$closedDir/$p"))
        .reduce(_ unionByName _)
    erasureFilter(all, spark, closedDir)
  }

  /** Apply the erasure tombstones to the closed history DURABLY: each
    * live partition rewrites minus its erased rows and swaps
    * tmp → old → live ([[IndexFs.swap]] per partition — a crash
    * at any point leaves a complete copy, and the no-live window is
    * healed by [[readClosedSessions]]'s entry recovery). The
    * `_graft_commit` marker is CARRIED into the rewrite: it
    * fingerprints the partition's INPUT batch, which the erasure does
    * not change — retry detection must keep recognizing a redelivered
    * batch after its partition was compacted. Tombstones clear only
    * after the LAST partition swaps; a crash between leaves them
    * anti-joining already-absent rows — a no-op, never a resurrected
    * session. Single-writer per the lifecycle convention.
    */
  def compactClosedSessions(spark: org.apache.spark.sql.SparkSession,
      closedDir: String): Unit = {
    val del = s"$closedDir/_deletes"
    if (!IndexFs.exists(spark, del)) return
    healClosedPartitions(spark, closedDir)
    // The per-partition rewrites are independent (each reads and swaps
    // only its own batch=<n> directory; the shared tombstone read is
    // immutable until the delete below), so they run from the driver
    // pool — Spark schedules concurrent jobs FIFO and the next
    // rewrite's tasks back-fill the tail of the previous one (guide
    // §2.6). Sequentially this was one tiny write job per partition,
    // each paying full job latency; crash semantics are unchanged —
    // every partition still goes through its own swap, and a
    // crash mid-pool leaves each partition either swapped or untouched
    // (the no-live window is healed on next entry, same as the
    // sequential fold). The pool awaits EVERY rewrite (bounded by
    // SPARK_GRAFT_POOL_TIMEOUT_SEC) before rethrowing the first
    // failure, so the verb never returns while a sibling still mutates
    // closedDir; a timeout cancels the rewrites' jobs and leaves the
    // same crash-consistent state as any other failure.
    val parts = IndexFs.listNames(spark, closedDir).filter(_.matches("batch=\\d+"))
    graft.tools.DriverPool.awaitAll(parts.map { p => () =>
      val src = s"$closedDir/$p"
      erasureFilter(spark.read.parquet(src), spark, closedDir)
        .write.mode("overwrite").parquet(s"$src.compact")
      IndexFs.readSmall(spark, s"$src/_graft_commit").foreach(fp =>
        IndexFs.writeSmall(spark, s"$src.compact/_graft_commit", fp))
      IndexFs.swap(spark, src, s"$src.compact")
    })
    IndexFs.delete(spark, del)
  }
}
