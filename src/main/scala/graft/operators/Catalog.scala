package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.sources.Tables

/** Catalog introspection as DataFrame jobs — the analogs of the catalog
  * SQL the reference issues against `INFORMATION_SCHEMA` / `pg_catalog`
  * (SURVEY.md §2.1 S6–S10; reference: server/MySQLDBManager.js:97-252,
  * server/PostgresDBManager.js:127-276). For file sources the "catalog"
  * is the declared [[SchemaSpec]] plus the Parquet footers; the *query
  * shapes* (left join, grouped count-distinct, exists-flag, ordered
  * string-agg) are reproduced natively so a JDBC catalog could be dropped
  * in unchanged.
  */
object Catalog {

  /** The declared FK edges as a DataFrame — the analog of
    * `key_column_usage` rows.
    */
  def fkEdges(spark: SparkSession, spec: SchemaSpec): DataFrame = {
    import spark.implicits._
    val rows = for {
      t <- spec.tables
      fk <- t.foreignKeys
    } yield (t.name, fk.columnName, fk.referencedTable, fk.referencedColumn)
    rows.toDF("table_name", "column_name", "referenced_table", "referenced_column")
  }

  /** The declared table list as a DataFrame — the analog of
    * `information_schema.tables`.
    */
  def tableList(spark: SparkSession, spec: SchemaSpec): DataFrame = {
    import spark.implicits._
    spec.tables.map(_.name).toDF("table_name")
  }

  /** S6 `getTableData` analog: per table, number of FK constraints and a
    * referenced-by-others flag. Reference shape: LEFT JOIN tables×keys +
    * COUNT(DISTINCT) + correlated EXISTS (server/MySQLDBManager.js:99-111,
    * server/PostgresDBManager.js:129-163). The EXISTS becomes a left-semi
    * join re-joined as a boolean flag.
    */
  def tableSummary(spark: SparkSession, spec: SchemaSpec): DataFrame = {
    val tables = tableList(spark, spec)
    val fks = fkEdges(spark, spec)
    val fkCounts = fks.groupBy("table_name")
      .agg(countDistinct("column_name").as("num_foreign_keys"))
    val referenced = fks.select(col("referenced_table").as("table_name")).distinct()
      .withColumn("is_referenced", lit(true))
    tables
      .join(fkCounts, Seq("table_name"), "left")
      .join(referenced, Seq("table_name"), "left")
      .select(
        col("table_name"),
        coalesce(col("num_foreign_keys"), lit(0L)).as("num_foreign_keys"),
        coalesce(col("is_referenced"), lit(false)).as("is_referenced"))
  }

  /** S7 `getTableRows` analog: COUNT(*) per table, as one unioned
    * DataFrame. Each leg is a metadata-only Parquet count (rowcount from
    * footers) — at cluster scale this stays O(#files), never O(rows).
    */
  def tableCounts(spark: SparkSession, sfDir: String, tables: Seq[String]): DataFrame =
    tables.map { t =>
      Tables.load(spark, sfDir, t)
        .agg(count(lit(1)).as("num_rows"))
        .select(lit(t).as("table_name"), col("num_rows"))
    }.reduce(_ unionAll _)

  /** S8 `getTableColumns` analog: ordinal-ordered comma-joined column list
    * per table (reference: GROUP_CONCAT / array_to_string(array_agg ...
    * ORDER BY ordinal_position) — server/MySQLDBManager.js:152-175,
    * server/PostgresDBManager.js:186-211). Column names come from the
    * Parquet schema; the ordered string-agg is computed as a DataFrame
    * aggregate (sorted collect over (ordinal, name) structs) to keep the
    * reference's query shape.
    */
  def tableColumns(spark: SparkSession, sfDir: String, tables: Seq[String]): DataFrame = {
    import spark.implicits._
    val rows = for {
      t <- tables
      (c, i) <- Tables.load(spark, sfDir, t).columns.zipWithIndex
    } yield (t, i + 1, c)
    rows.toDF("table_name", "ordinal", "column_name")
      .groupBy("table_name")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ordinal"), col("column_name")))),
          x => x.getField("column_name")),
        ", ").as("columns"))
  }

  /** S10 `getReferenceInfo` analog: per referenced table, the **ordered
    * distinct** comma-joined list of referencing tables
    * (GROUP_CONCAT(DISTINCT ... ORDER BY ...) —
    * server/MySQLDBManager.js:229-252, server/PostgresDBManager.js:250-276).
    */
  def referenceInfo(spark: SparkSession, spec: SchemaSpec): DataFrame =
    fkEdges(spark, spec)
      .groupBy(col("referenced_table"))
      .agg(array_join(array_sort(collect_set(col("table_name"))), ", ")
        .as("referencing_tables"))

  /** Per-column table profile — the data-shape assessment a migration
    * runs BEFORE deciding how to denormalize (nullable FK columns embed
    * differently, near-unique columns are key candidates, constant
    * columns fold into the parent): one row per column with the row
    * count, NULL count, and EXACT distinct count, computed in a single
    * pass over the table.
    *
    * Scale shape: one aggregation; the multiple exact DISTINCT
    * aggregates make Catalyst plan an Expand (input rows × #columns
    * through the partial aggregate) — the standard exact-multi-distinct
    * cost, kept here because the profile is the conversion oracle's
    * input and must be exact. At corpus scale the drop-in replacement is
    * [[profileApprox]]: the same output shape with distincts via the
    * KMV sketch (bounded exchange, verifiable estimate) — the same
    * trade the overlap audit makes (x45 exact vs x46 sketch).
    * Output: (table_name, col_name, n_rows, n_nulls, n_distinct).
    */
  def profile(df: DataFrame, tableName: String): DataFrame = {
    val cols = df.columns.toSeq
    requireSafeNames(cols, "profile")
    // backtick-quoted references: a bare col("a.b") would parse as a
    // struct path; backticks in names are rejected above, so quoting is
    // always safe. count(when(...)), not sum(...): SUM over zero rows
    // is NULL and an empty table must profile as n_nulls = 0, like the
    // oracle's count(*) - count(c).
    val aggs =
      count(lit(1)).as("__rows") +:
      cols.flatMap(c => Seq(
        count(when(col(s"`$c`").isNull, lit(1))).as(s"__nulls_$c"),
        countDistinct(col(s"`$c`")).as(s"__nd_$c")))
    val stackArgs = cols.map(c =>
      s"'$c', __rows, `__nulls_$c`, `__nd_$c`").mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .select(lit(tableName).as("table_name"),
        expr(s"stack(${cols.size}, $stackArgs) " +
          "AS (col_name, n_rows, n_nulls, n_distinct)"))
      .select(col("table_name"), col("col_name"), col("n_rows"),
        col("n_nulls"), col("n_distinct"))
  }

  // The unpivot in profile/profileApprox is assembled as a SQL string
  // (stack has no typed builder); names that could escape their quoting
  // are rejected rather than interpolated. Backslashes are rejected too:
  // Spark SQL string literals treat \ as an escape, so a name like a\nb
  // would silently alter the emitted col_name and a trailing backslash
  // breaks parsing.
  private def requireSafeNames(cols: Seq[String], who: String): Unit = {
    require(cols.nonEmpty, s"$who: the table has no columns")
    require(cols.forall(c =>
        !c.contains("'") && !c.contains("`") && !c.contains("\\")),
      s"$who: column names must not contain quote or backslash characters")
  }

  /** x53: the corpus-scale twin of [[profile]] — per-column row and NULL
    * counts exact, distinct counts via the KMV bottom-k sketch
    * ([[graft.ext.Sketches]]; same estimator as the x46 overlap audit),
    * all in ONE scan of the table.
    *
    * Why it exists: [[profile]]'s exact multi-distinct makes Catalyst
    * plan an Expand (input rows × #columns through the partial
    * aggregate) and shuffles every distinct value of every column — the
    * known profiling killer at 100 TB. Here the table is unpivoted once
    * (a generator, not the multi-distinct Expand), values are hashed,
    * and ONE (col_name, hash) exchange with map-side combine feeds both
    * outputs: the count branch (rows/NULLs from the collapsed counts)
    * and the sketch branch (bottom-k per column via
    * [[graft.plans.TopKPerGroup]], ≤ k rows per column per partition on
    * the second exchange). Catalyst reuses the shared exchange, so the
    * parquet scan happens exactly once (gated in PlanQualitySpec).
    *
    * Values are canonicalized to engine-portable strings before hashing
    * (see `canonicalSql`): doubles through DECIMAL(38,6) — binary
    * doubles can never tie at the rounding digit, so HALF_UP vs
    * half-even engines agree — with NaN/±Infinity and |x| >= 1e32
    * (outside the decimal's range) routed to literal tokens / %.6e
    * scientific form so neither engine silently NULLs or errors on
    * them — and timestamps through epoch microseconds. Distinctness is therefore "distinct canonical
    * rendering": two doubles closer than 1e-6 collapse, the documented
    * profiling-grade trade. A column whose values are all NULL reports
    * n_distinct_est = 0. Empty tables yield no rows (the unpivot has
    * nothing to generate), unlike [[profile]] which emits one zero row
    * per column.
    *
    * Output: (table_name, col_name, n_rows, n_nulls, kmv_k,
    * n_distinct_est); estimate is exact whenever a column has fewer
    * than k distinct values.
    */
  /** Engine-portable canonical string rendering of one column (shared
    * by [[profileApprox]] and [[profileAll]]): doubles through
    * DECIMAL(38,6) with NaN/±Infinity/huge-magnitude routed to literal
    * tokens / %.6e scientific form, timestamps through epoch micros.
    *
    * Why the double detour: DECIMAL(38,6) can't hold
    * NaN/Infinity/|x|>=1e32 — under non-ANSI Spark those CASTs
    * silently go NULL (inflating n_nulls) while DuckDB errors. The
    * token/%.6e renderings are produced identically by both engines
    * (Java format_string and C printf agree digit-for-digit, and no
    * double ≥ 1e32 can tie at the 7th significant digit, so
    * HALF_UP-vs-half-even rounding never diverges — same argument as
    * the DECIMAL(38,6) branch).
    */
  private def canonicalSql(f: org.apache.spark.sql.types.StructField): String = {
    import org.apache.spark.sql.types._
    f.dataType match {
      case StringType => s"`${f.name}`"
      case DoubleType | FloatType =>
        s"""CASE WHEN isnan(`${f.name}`) THEN 'NaN'
           |  WHEN `${f.name}` = CAST('Infinity' AS DOUBLE) THEN 'Infinity'
           |  WHEN `${f.name}` = CAST('-Infinity' AS DOUBLE) THEN '-Infinity'
           |  WHEN abs(`${f.name}`) >= 1e32 THEN format_string('%.6e', CAST(`${f.name}` AS DOUBLE))
           |  ELSE CAST(CAST(`${f.name}` AS DECIMAL(38,6)) AS STRING) END""".stripMargin
      case TimestampType | TimestampNTZType =>
        s"CAST(unix_micros(CAST(`${f.name}` AS TIMESTAMP)) AS STRING)"
      case _ => s"CAST(`${f.name}` AS STRING)"
    }
  }

  private val twoPow60 = 1152921504606846976.0 // 2^60, exact as a double

  def profileApprox(df: DataFrame, tableName: String, k: Int = 256): DataFrame = {
    import graft.functions.Portable
    require(k >= 2, "profileApprox: KMV needs k >= 2")
    val fields = df.schema.fields.toSeq
    requireSafeNames(fields.map(_.name), "profileApprox")
    val stackArgs = fields.map(f => s"'${f.name}', ${canonicalSql(f)}").mkString(", ")
    val unpivoted = df.select(
      expr(s"stack(${fields.size}, $stackArgs) AS (col_name, v)"))
    // NULL values ride as a Long.MaxValue sentinel group (hash60 yields
    // < 2^60, so the sentinel sorts past every real hash and can never
    // enter a full bottom-k). Why a sentinel and not a filter: both
    // output branches must consume the IDENTICAL `grouped` subtree for
    // Catalyst's ReuseExchange to fire — a `h IS NOT NULL` filter on
    // the sketch branch gets pushed below the aggregate, the exchange
    // subtrees stop matching, and the table is scanned twice.
    val nullSentinel = Long.MaxValue
    val grouped = unpivoted
      .select(col("col_name"),
        coalesce(Portable.hash60(col("v")), lit(nullSentinel)).as("h"))
      .groupBy("col_name", "h").agg(count(lit(1)).as("cnt"))
    val counts = grouped.groupBy("col_name").agg(
      sum(col("cnt")).as("n_rows"),
      coalesce(sum(when(col("h") === nullSentinel, col("cnt"))), lit(0L))
        .as("n_nulls"))
    // cnt rides through the top-k as a sort tiebreaker it can never
    // exercise ((col_name, h) rows are unique per group). The point is
    // plan identity, not ordering: referencing cnt in the operator
    // stops ColumnPruning from rewriting the sketch branch's aggregate
    // to a count-free distinct, which would re-diverge the branches
    // and cost the exchange reuse (= a second full scan).
    val bottomK = graft.plans.TopKPerGroup.topK(
      grouped, Seq("col_name"),
      Seq("h" -> graft.plans.TopKPerGroup.Asc,
        "cnt" -> graft.plans.TopKPerGroup.Asc), k)
    val sketch = bottomK.groupBy("col_name")
      .agg(count(when(col("h") =!= nullSentinel, lit(1))).as("n_seen"),
        max(when(col("h") =!= nullSentinel, col("h"))).as("kth"))
    counts.join(broadcast(sketch), Seq("col_name"), "left")
      .select(lit(tableName).as("table_name"), col("col_name"),
        col("n_rows"), col("n_nulls"), lit(k.toLong).as("kmv_k"),
        coalesce(
          when(col("n_seen") < k, col("n_seen"))
            .otherwise(round(lit((k - 1).toDouble * twoPow60) /
              col("kth").cast("double")).cast("long")),
          lit(0L)).as("n_distinct_est"))
  }

  /** x62 — per-column EXACT quantile profile (nearest-rank /
    * `percentile_disc` semantics: the value at 1-based position
    * max(1, ceil(p·n)) of the column sorted ascending, NULLs and NaNs
    * excluded). Returned values are actual data values — no
    * interpolation arithmetic — which is what makes the result
    * engine-portable by construction: the continuous (`percentile_cont`)
    * form interpolates `(1−d)·a + d·b` vs `a + d·(b−a)` depending on
    * the engine, and those differ in the last ulp.
    *
    * Plan shape: the columns unpivot in ONE scan (the x53 generator
    * pattern), then ONE (col_name, value) exchange with map-side
    * combine — the shuffle carries each column's DISTINCT values, not
    * its rows. The cumulative rank runs as a window over that
    * already-aggregated frame, so the per-column sort touches
    * #distinct rows. That distinct-bounded exchange is the exactness
    * cost and the scale limit in one: measure-style columns with few
    * repeated values degrade toward row-cardinality, and the window
    * concentrates each column on one reducer — at corpus scale the
    * drop-in twin is [[profileQuantilesHist]] (x63: the same output
    * shape, values binned to a FIXED-width histogram first, every
    * post-scan structure ≤ `bins` rows per column). The same
    * exact-baseline-beside-scale-twin pairing as x51/x53 and x45/x46.
    * Output: (table_name, col_name, quantile, value), one row per
    * column × requested quantile.
    */
  def profileQuantiles(
      df: DataFrame, tableName: String, cols: Seq[String],
      ps: Seq[Double] = Seq(0.0, 0.25, 0.5, 0.75, 1.0)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireSafeNames(cols, "profileQuantiles")
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "profileQuantiles: quantiles must lie in [0, 1]")
    val cnts = quantileValues(df, cols)
      .groupBy(col("col_name"), col("v")).agg(count(lit(1)).as("cnt"))
    val cum = cnts.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy("col_name").orderBy("v")))
    val th = quantileRanks(
      cnts.groupBy("col_name").agg(sum(col("cnt")).as("n")), ps)
    // broadcast hash join on col_name with the rank bound as residual
    // condition; min(v) over the qualifying suffix IS the nearest-rank
    // pick (cum is strictly increasing per column)
    cum.join(broadcast(th),
        col("col_name") === col("th_col") && col("cum") >= col("rk"))
      .groupBy(col("th_col").as("col_name"), col("quantile"))
      .agg(round(min(col("v")), 6).as("value"))
      .select(lit(tableName).as("table_name"), col("col_name"),
        col("quantile"), col("value"))
  }

  /** x63 — the corpus-scale twin of [[profileQuantiles]]: quantiles
    * estimated from a FIXED-width histogram. Two map-only scans — one
    * for per-column bounds (min/max/count, a tiny exchange), one to
    * bin every value against the broadcast bounds — and every
    * structure after the scans is ≤ `bins` rows per column: the
    * (col_name, bin) exchange collapses under map-side combine, the
    * cumulative window sorts ≤ `bins` rows, and the estimate is the
    * lower edge of the first bin whose cumulative count reaches the
    * nearest rank (error ≤ one bin width, (max−min)/bins). This is
    * the production profiling shape — cardinality-independent state,
    * mergeable across partitions — at the cost of binned resolution;
    * [[profileQuantiles]] is the labeled exact baseline beside it.
    *
    * Engine portability: bin = floor(((v−mn)/(mx−mn))·bins) and
    * edge = mn + bin·((mx−mn)/bins) are evaluated with the SAME
    * parenthesization in the oracle SQL — IEEE doubles make identical
    * expression trees bit-identical, so no cross-engine rounding seam
    * exists to paper over. A constant column (mx = mn) takes bin 0 and
    * estimates mn for every quantile.
    * Output: (table_name, col_name, quantile, n_bins, est_value).
    */
  def profileQuantilesHist(
      df: DataFrame, tableName: String, cols: Seq[String],
      bins: Int = 256,
      ps: Seq[Double] = Seq(0.0, 0.25, 0.5, 0.75, 1.0)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireSafeNames(cols, "profileQuantilesHist")
    require(bins >= 2, "profileQuantilesHist: need at least 2 bins")
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "profileQuantilesHist: quantiles must lie in [0, 1]")
    val bounds = quantileValues(df, cols).groupBy("col_name").agg(
      min(col("v")).as("mn"), max(col("v")).as("mx"),
      count(lit(1)).as("n"))
    val binned = quantileValues(df, cols)
      .join(broadcast(bounds), Seq("col_name"))
      .select(col("col_name"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(bins - 1L), floor(
            ((col("v") - col("mn")) / (col("mx") - col("mn"))) * bins)))
          .as("bin"))
    val cum = binned.groupBy(col("col_name"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy("col_name").orderBy("bin")))
    val th = quantileRanks(bounds, ps)
    cum.join(broadcast(th),
        col("col_name") === col("th_col") && col("cum") >= col("rk"))
      .groupBy(col("th_col").as("col_name"), col("quantile"))
      .agg(min(col("bin")).as("bin"))
      .join(broadcast(bounds), Seq("col_name"))
      .select(lit(tableName).as("table_name"), col("col_name"),
        col("quantile"), lit(bins.toLong).as("n_bins"),
        round(col("mn") + col("bin") * ((col("mx") - col("mn")) / bins), 6)
          .as("est_value"))
  }

  /** One-scan unpivot of numeric columns to (col_name, v): the x53
    * generator pattern, minus NULLs and NaNs (quantile aggregates
    * exclude NULLs in every engine; NaN would poison min/max and sort
    * ambiguously between engines). Shared by both quantile profiles so
    * the exact baseline and the histogram twin see identical values.
    */
  private def quantileValues(df: DataFrame, cols: Seq[String]): DataFrame = {
    val stackArgs =
      cols.map(c => s"'$c', CAST(`$c` AS DOUBLE)").mkString(", ")
    df.select(expr(s"stack(${cols.size}, $stackArgs) AS (col_name, v)"))
      .filter(col("v").isNotNull && !isnan(col("v")))
  }

  /** The nearest-rank threshold frame: (th_col, quantile, rk) with
    * rk = max(1, ceil(p·n)). `ceil` on an IEEE double product is
    * engine-portable (same literal, same multiply), and the max(1, ·)
    * floor makes p = 0 mean the column minimum. The key is RENAMED to
    * `th_col` because both join consumers derive the threshold frame
    * from the same lineage they probe (a disambiguated self-join).
    */
  private def quantileRanks(n: DataFrame, ps: Seq[Double]): DataFrame =
    n.select(col("col_name"), col("n"),
        explode(array(ps.map(lit): _*)).as("quantile"))
      .select(col("col_name").as("th_col"), col("quantile"),
        greatest(lit(1L), ceil(col("quantile") * col("n"))).as("rk"))

  /** x64 — per-column EXACT heavy hitters: the `k` most frequent
    * values of each profiled column, ties broken by value ascending.
    * The corpus-profiling staple (language mix, source mix, status
    * skew) — and unlike quantiles, frequency counting is distributive,
    * so the EXACT answer scales: one (col_name, value) exchange that
    * map-side combine collapses to distinct values, then
    * [[graft.plans.TopKPerGroup]] keeps ≤ partitions·k rows per column
    * on the second exchange and no sort runs anywhere (the x07
    * ranking argument). The distinct-bounded first exchange is the
    * one scale caveat, shared with [[profileQuantiles]]: a
    * near-unique column degrades toward row cardinality (and its
    * "heavy hitters" are meaningless anyway) — the x53 sketch is the
    * profiling answer there.
    *
    * Values are canonicalized to strings so mixed-type columns share
    * one output schema — CAST AS STRING, not the x53 hash, because
    * the VALUES are the output here, not their distinctness.
    * Output: (table_name, col_name, rank, value, cnt), rank 1..k per
    * column by (cnt desc, value asc).
    */
  def heavyHitters(
      df: DataFrame, tableName: String, cols: Seq[String],
      k: Int = 10): DataFrame = {
    import graft.plans.TopKPerGroup
    requireSafeNames(cols, "heavyHitters")
    require(k >= 1, "heavyHitters: k must be >= 1")
    val stackArgs =
      cols.map(c => s"'$c', CAST(`$c` AS STRING)").mkString(", ")
    val cnts = df
      .select(expr(s"stack(${cols.size}, $stackArgs) AS (col_name, v)"))
      .filter(col("v").isNotNull)
      .groupBy(col("col_name"), col("v")).agg(count(lit(1)).as("cnt"))
    TopKPerGroup.topK(cnts, Seq("col_name"),
        Seq("cnt" -> TopKPerGroup.Desc, "v" -> TopKPerGroup.Asc), k)
      .select(lit(tableName).as("table_name"), col("col_name"),
        col("rank"), col("v").as("value"), col("cnt"))
  }

  /** x66 — the ONE-SCAN unified profile: what a production profiler
    * actually runs. The family ships five single-purpose operators
    * (x51/x53 counts+distinct, x62/x63 quantiles, x64 heavy hitters),
    * each paying its own table scan; this composes the scale-path
    * members — x53's KMV distinct, x63's fixed-width histogram
    * quantiles, x64's exact heavy hitters, plus row/NULL counts and
    * numeric min/max — into ONE pass: a single unpivot, a single
    * (col_name, canonical value) exchange with map-side combine, and
    * every branch consuming that IDENTICAL aggregated subtree so
    * AQE's exchange reuse fires and the parquet scan runs exactly
    * once (plan-gated).
    *
    * Plan discipline (the x53 lessons, applied 4-way): no branch may
    * put a FILTER on the shared aggregate's grouping keys — Catalyst
    * would push it below the aggregate, fork the subtree, and cost a
    * second scan. So NULL values ride the exchange as a group
    * (excluded branch-locally: the KMV branch via x53's
    * Long.MaxValue hash sentinel, the heavy-hitter branch via a
    * sort-last nullflag the heap orders first, the quantile branch
    * via a NULL bin dropped only ABOVE the bounds join, where the
    * mn/mx references pin the predicate), and the numeric projection
    * is a `when(col_name IN numericCols, …)` expression, never a row
    * filter.
    *
    * Scale shape: the one exchange is distinct-bounded — exactly the
    * state any distinct estimate or frequency count requires; every
    * structure AFTER it is ≤ max(k, bins, hh·partitions) rows per
    * column (KMV bottom-k heaps, ≤ `bins` histogram rows, heavy-
    * hitter partial heaps). Quantiles are estimated over the
    * CANONICAL value domain (doubles collapsed at 1e-6 by the
    * DECIMAL(38,6) rendering — the same profiling-grade trade x53's
    * distinctness makes). The ENTIRE numeric branch — min, max, and
    * quantiles — operates over the FINITE domain: ±Infinity and NaN
    * route to their canonical tokens (still counted by n_rows,
    * distinctness, and heavy hitters) but are excluded from v_num,
    * so a column containing +Infinity reports its largest FINITE
    * value as `max`. Deliberate: admitting infinities would poison
    * the bin arithmetic ((v−mn)/(mx−mn) → NaN for every row), and a
    * profiler wants "the data's finite spread" plus "how many
    * non-finite values" — the latter is readable from the
    * heavy-hitter/token rows. This differs from [[profile]]'s plain
    * min/max, which propagate infinities.
    *
    * Output, long format — one row per (column, metric):
    * (table_name, col_name, metric, ord, value_str, value_num) with
    * metric ∈ n_rows | n_nulls | n_distinct_est (ord 0) | min | max
    * (numeric columns only, ord 0) | quantile_hist (ord = quantile)
    * | heavy_hitter (ord = rank, value_str = the value, value_num =
    * its count).
    */
  def profileAll(
      df: DataFrame, tableName: String, cols: Seq[String],
      numericCols: Seq[String],
      k: Int = 256, hhK: Int = 10, bins: Int = 256,
      ps: Seq[Double] = Seq(0.0, 0.25, 0.5, 0.75, 1.0)): DataFrame = {
    import graft.functions.Portable
    import graft.plans.TopKPerGroup
    import org.apache.spark.sql.expressions.Window
    requireSafeNames(cols, "profileAll")
    require(cols.nonEmpty && numericCols.forall(cols.contains),
      "profileAll: numericCols must be a subset of cols")
    require(k >= 2 && hhK >= 1 && bins >= 2, "profileAll: bad k/hhK/bins")
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "profileAll: quantiles must lie in [0, 1]")
    val byName = df.schema.fields.map(f => f.name -> f).toMap
    val stackArgs =
      cols.map(c => s"'$c', ${canonicalSql(byName(c))}").mkString(", ")
    // The vacuous isnotnull(col_name) is load-bearing: the quantile
    // branch's inner joins make InferFiltersFromConstraints push an
    // isnotnull(col_name) below the shared aggregate in THOSE branches
    // only, forking the subtree into a second scan. Asserting it here,
    // inside the shared subtree, makes the inferred filter redundant
    // (already guaranteed by constraints) in every branch — the
    // subtrees stay identical and AQE reuses one exchange. col_name is
    // a stack() label literal, so the filter removes nothing.
    val grouped = df
      .select(expr(s"stack(${cols.size}, $stackArgs) AS (col_name, v)"))
      .filter(col("col_name").isNotNull)
      .groupBy("col_name", "v").agg(count(lit(1)).as("cnt"))

    // ---- counts branch
    val counts = grouped.groupBy("col_name").agg(
      sum(col("cnt")).as("n_rows"),
      coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_nulls"))

    // ---- KMV distinct branch (x53's estimator over the same exchange).
    // grouped's key is the VALUE, not its hash, so two values could in
    // principle collide to one h — re-aggregate on (col_name, h) so the
    // bottom-k ranks DISTINCT hashes exactly as the oracle's DISTINCT
    // does (branch-local, already-aggregated input, map-side combined).
    val nullSentinel = Long.MaxValue
    val withH = grouped.select(col("col_name"),
        coalesce(Portable.hash60(col("v")), lit(nullSentinel)).as("h"),
        col("cnt"))
      .groupBy("col_name", "h").agg(sum(col("cnt")).as("cnt"))
    val bottomK = TopKPerGroup.topK(withH, Seq("col_name"),
      Seq("h" -> TopKPerGroup.Asc, "cnt" -> TopKPerGroup.Asc), k)
    val distinctEst = bottomK.groupBy("col_name")
      .agg(count(when(col("h") =!= nullSentinel, lit(1))).as("n_seen"),
        max(when(col("h") =!= nullSentinel, col("h"))).as("kth"))
      .select(col("col_name"), coalesce(
        when(col("n_seen") < k, col("n_seen"))
          .otherwise(round(lit((k - 1).toDouble * twoPow60) /
            col("kth").cast("double")).cast("long")),
        lit(0L)).as("n_distinct_est"))

    // numeric value of a canonical rendering — an EXPRESSION, not a
    // filter (guards ride as when(); see the plan-discipline note).
    // try_cast, not cast: under ANSI the guard conjuncts don't promise
    // to short-circuit before the cast sees a non-numeric column's value
    val castV = expr("try_cast(v AS DOUBLE)")
    def vNum = when(col("col_name").isin(numericCols: _*) &&
      castV.isNotNull && !isnan(castV) &&
      abs(castV) =!= lit(Double.PositiveInfinity), castV)

    // ---- bounds (min/max/n per numeric column; n excludes NULLs)
    val bounds = grouped
      .select(col("col_name"), vNum.as("v_num"), col("cnt"))
      .groupBy("col_name").agg(
        min(col("v_num")).as("mn"), max(col("v_num")).as("mx"),
        coalesce(sum(when(col("v_num").isNotNull, col("cnt"))), lit(0L)).as("n"))

    // ---- histogram-quantile branch (x63's shape, weights = cnt)
    val binned = grouped
      .select(col("col_name"), vNum.as("v_num"), col("cnt"))
      .join(broadcast(bounds), Seq("col_name"))
      .select(col("col_name"),
        // the n === 0 arm is unreachable (n = 0 ⇒ every v_num is NULL,
        // caught by the first arm) — it exists to keep `n` referenced
        // so this branch's bounds aggregate stays identical to the
        // others' (pruning n would let the optimizer collapse it into
        // a direct min/max over the unpivot: a second scan)
        when(col("v_num").isNull, lit(null))
          .when(col("n") === 0, lit(null))
          .when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(bins - 1L), floor(
            ((col("v_num") - col("mn")) / (col("mx") - col("mn"))) * bins)))
          .as("bin"),
        col("cnt"))
    val cum = binned.groupBy(col("col_name"), col("bin"))
      .agg(sum(col("cnt")).as("bcnt"))
      .filter(col("bin").isNotNull)
      .withColumn("cum",
        sum(col("bcnt")).over(Window.partitionBy("col_name").orderBy("bin")))
    val th = quantileRanks(bounds.select(col("col_name"), col("n")), ps)
    val quant = cum.join(broadcast(th),
        col("col_name") === col("th_col") && col("cum") >= col("rk"))
      .groupBy(col("th_col").as("col_name"), col("quantile"))
      .agg(min(col("bin")).as("bin"))
      .join(broadcast(bounds), Seq("col_name"))
      .select(col("col_name"), col("quantile"),
        // rows reach here only via a cum ≥ rk match, which requires
        // n ≥ 1 — the n > 0 gate is identity, kept so `n` stays
        // referenced and this bounds copy doesn't prune-and-collapse
        // into its own scan (see the binned-branch note)
        when(col("n") > 0,
          round(col("mn") + col("bin") * ((col("mx") - col("mn")) / bins), 6))
          .as("est_value"))

    // ---- heavy-hitter branch (x64's heap; NULL group sorts last)
    val hits = TopKPerGroup.topK(
        grouped.select(col("col_name"),
          when(col("v").isNull, lit(1L)).otherwise(lit(0L)).as("nullflag"),
          col("v"), col("cnt")),
        Seq("col_name"),
        Seq("nullflag" -> TopKPerGroup.Asc, "cnt" -> TopKPerGroup.Desc,
          "v" -> TopKPerGroup.Asc), hhK)
      .filter(col("nullflag") === 0L)

    // ---- assemble the long-format union
    val metricRows = counts
      .join(broadcast(distinctEst), Seq("col_name"), "left")
      .join(broadcast(bounds), Seq("col_name"), "left")
      .select(col("col_name"), expr(
        // min/max gate on n > 0 rather than mn IS NULL — equivalent
        // (a column has numeric values iff n > 0), and the reference
        // to n stops ColumnPruning from dropping it here, which would
        // let the optimizer collapse this branch's bounds aggregate
        // over the shared aggregate into a direct min/max over the
        // unpivot — a cheaper branch plan that costs a SECOND scan
        """stack(5,
          |  'n_rows', CAST(n_rows AS DOUBLE),
          |  'n_nulls', CAST(n_nulls AS DOUBLE),
          |  'n_distinct_est', CAST(coalesce(n_distinct_est, 0) AS DOUBLE),
          |  'min', CASE WHEN n > 0 THEN mn END,
          |  'max', CASE WHEN n > 0 THEN mx END) AS (metric, value_num)""".stripMargin))
      .filter(!(col("metric").isin("min", "max") && col("value_num").isNull))
      .select(col("col_name"), col("metric"), lit(0.0).as("ord"),
        lit(null).cast("string").as("value_str"), col("value_num"))
    val quantRows = quant.select(col("col_name"),
      lit("quantile_hist").as("metric"), col("quantile").as("ord"),
      lit(null).cast("string").as("value_str"),
      col("est_value").as("value_num"))
    val hhRows = hits.select(col("col_name"),
      lit("heavy_hitter").as("metric"), col("rank").cast("double").as("ord"),
      col("v").as("value_str"), col("cnt").cast("double").as("value_num"))
    metricRows.unionByName(quantRows).unionByName(hhRows)
      .select(lit(tableName).as("table_name"), col("col_name"),
        col("metric"), col("ord"), col("value_str"), col("value_num"))
  }

  /** x69 — corpus DRIFT between two corpus versions: the question a
    * training-data pipeline asks at every refresh ("did the new crawl
    * shift the length / language / source mix?"), answered per column
    * as a total-variation distance with a thresholded flag.
    *
    * Statistic: TV = ½·Σ|p_a(i) − p_b(i)| over a shared domain —
    * numeric columns binned to a FIXED-width histogram over the
    * UNION's min/max (x63's arithmetic, so both sides land in the
    * same bins by construction; a bounds shift between versions IS
    * drift and shows up as mass at the edges), categorical columns
    * compared value-by-value. TV over PSI/KL deliberately: it needs
    * no logarithm (ln is not guaranteed bit-identical across libms,
    * which would poison the oracle hash), it is bounded [0, 1] with
    * a direct reading ("fraction of probability mass that moved"),
    * and the per-term |p_a − p_b| rides a DECIMAL(28,12) sum so the
    * total is order-independent and engine-exact.
    *
    * Plan shape: each side unpivots once with a side tag and the two
    * scans union BEFORE any exchange, so bounds, bins, and per-side
    * masses all ride one (col, key)-grouped pipeline over the union —
    * two FileScans total (one per corpus version, irreducible), every
    * post-scan structure ≤ bins (numeric) or distinct values
    * (categorical, the heavy-hitter caveat applies). A value present
    * in one side only contributes its full mass to TV, as it should.
    *
    * Output: (col_name, kind 'numeric_tv' | 'categorical_tv', n_a,
    * n_b, tv, drifted), one row per compared column ALWAYS — a column
    * with zero usable values on BOTH sides still emits its row (n_a =
    * n_b = 0, tv = 0, not drifted: the versions agree the field is
    * dead, and the zero counts are the visible signal), via a seed
    * union rather than vanishing from the result. `drifted` = tv >
    * threshold compared on the 6-rounded value for oracle
    * bit-portability. An empty side (the other non-empty) makes
    * TV = 1 for every column (all mass moved) rather than erroring —
    * a vanished corpus IS maximal drift.
    */
  def profileDrift(
      a: DataFrame, b: DataFrame,
      numericCols: Seq[String], catCols: Seq[String],
      bins: Int = 10, threshold: Double = 0.1): DataFrame = {
    requireSafeNames(numericCols ++ catCols, "profileDrift")
    require((numericCols ++ catCols).nonEmpty, "profileDrift: no columns")
    require(numericCols.intersect(catCols).isEmpty,
      "profileDrift: a column cannot be both numeric and categorical — " +
        "the shared per-column totals would halve both distributions")
    require(bins >= 2 && threshold > 0, "profileDrift: bad bins/threshold")
    def unpivot(df: DataFrame, side: String): DataFrame = {
      val numArgs = numericCols.map(c =>
        s"'$c', 'num', CAST(CAST(`$c` AS DOUBLE) AS STRING)")
      val catArgs = catCols.map(c => s"'$c', 'cat', CAST(`$c` AS STRING)")
      val args = (numArgs ++ catArgs).mkString(", ")
      val castV = col("v").cast("double")
      df.select(expr(
          s"stack(${numericCols.size + catCols.size}, $args) AS (col_name, kind, v)"))
        // NaN AND ±Infinity out of the numeric branch: one Inf in
        // either version would become the union max, collapse every
        // finite value of BOTH sides into bin 0, and read total drift
        // as tv ≈ 0 — the detector's answer inverted
        .filter(col("v").isNotNull && !(col("kind") === "num" &&
          (isnan(castV) || abs(castV) === lit(Double.PositiveInfinity))))
        .withColumn("side", lit(side))
    }
    val all = unpivot(a, "a").unionByName(unpivot(b, "b"))
    // numeric: shared fixed-width bins over the union's bounds; the key
    // for categorical columns is the value itself
    val bounds = all.filter(col("kind") === "num")
      .groupBy("col_name").agg(
        min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))
    val keyed = all.join(broadcast(bounds), Seq("col_name"), "left")
      .select(col("col_name"), col("kind"), col("side"),
        when(col("kind") === "cat", col("v"))
          .when(col("mx") === col("mn"), lit("0"))
          .otherwise(least(lit(bins - 1L), floor(
            ((col("v").cast("double") - col("mn")) / (col("mx") - col("mn"))) * bins))
            .cast("string"))
          .as("k"))
    val masses = keyed.groupBy("col_name", "kind", "k").agg(
      sum(when(col("side") === "a", 1L).otherwise(0L)).as("ca"),
      sum(when(col("side") === "b", 1L).otherwise(0L)).as("cb"))
    val totals = masses.groupBy("col_name").agg(
      sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val scored = masses.join(broadcast(totals), Seq("col_name"))
      .select(col("col_name"), col("kind"), col("n_a"), col("n_b"),
        // empty side: its every fraction is defined 0 ⇒ TV = 1
        abs(when(col("n_a") > 0, col("ca").cast("double") / col("n_a"))
            .otherwise(lit(0.0)) -
          when(col("n_b") > 0, col("cb").cast("double") / col("n_b"))
            .otherwise(lit(0.0)))
          .cast("decimal(28,12)").as("d"))
      .groupBy(col("col_name"), col("kind"), col("n_a"), col("n_b"))
      // cast the decimal sum to double BEFORE halving: /2 on a double
      // is exact (power of two), while decimal division scale rules
      // differ between engines
      .agg(round(sum(col("d")).cast("double") / 2, 6).as("tv0"))
      .select(col("col_name"),
        concat(when(col("kind") === "num", lit("numeric"))
          .otherwise(lit("categorical")), lit("_tv")).as("kind"),
        col("n_a"), col("n_b"),
        // an absent side under the defined-0 convention would read
        // 0.5 (½·Σ p); pin it to the documented maximum instead — a
        // vanished corpus is total drift, not half
        when(col("n_a") === 0 || col("n_b") === 0, lit(1.0))
          .otherwise(col("tv0")).as("tv"))
      .select(col("col_name"), col("kind"), col("n_a"), col("n_b"),
        col("tv"), (col("tv") > threshold).as("drifted"))
    seedDriftColumns(a.sparkSession, scored, numericCols, catCols)
  }

  /** [[profileDrift]] body splits here so the seed join reads clearly:
    * every REQUESTED column must emit a row even when both sides have
    * zero usable values (all NULL/NaN/Inf) — otherwise a field that
    * died between versions silently vanishes from the report.
    */
  private def seedDriftColumns(
      spark: SparkSession,
      result: DataFrame,
      numericCols: Seq[String], catCols: Seq[String]): DataFrame = {
    import spark.implicits._
    val seed = (numericCols.map(_ -> "numeric_tv") ++
      catCols.map(_ -> "categorical_tv")).toDF("col_name", "kind")
    seed.join(result, Seq("col_name", "kind"), "left")
      .select(col("col_name"), col("kind"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("tv"), lit(0.0)).as("tv"),
        coalesce(col("drifted"), lit(false)).as("drifted"))
  }

  /** Corpus-version manifest diff: the IDENTITY-level companion to
    * [[profileDrift]]'s distribution-level drift — "which documents did
    * the new crawl add, remove, or change", the question every
    * incremental re-train, cache invalidation, and audit trail starts
    * from. One full-outer equi-join on the id; emits ONLY the deltas
    * (added / removed / changed) — at corpus scale the output is the
    * delta, not the corpus.
    *
    * Scale shape: content equality is decided on a 60-bit fingerprint
    * ([[graft.functions.Portable.hash60]] over the content columns,
    * each value LENGTH-PREFIXED so column boundaries cannot alias
    * (("ab","c") vs ("a","bc")) and NULL (rendered "n:") is distinct
    * from every string ("<len>:...")) PROJECTED BEFORE the join — the
    * exchange carries (id, 8-byte fp) per side, never the document
    * bodies, so the shuffle width is independent of document size. A
    * fingerprint collision (≈ 2⁻⁶⁰ per pair) would misreport one
    * changed row as unchanged; an audit that cannot tolerate that
    * re-checks the reported-unchanged ids by content. The driver
    * oracle compares the raw columns directly (IS DISTINCT FROM), so
    * the hash shortcut is itself verified against content-level truth
    * on every run.
    * Output: (doc_id, status ∈ {added, removed, changed}).
    */
  def corpusDiff(oldV: DataFrame, newV: DataFrame, idCol: String,
      contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "contentCols must be non-empty")
    def render(c: String) = {
      val s = col(c).cast("string")
      when(s.isNull, lit("n:"))
        .otherwise(concat(length(s).cast("string"), lit(":"), s))
    }
    def fp(df: DataFrame, side: String): DataFrame =
      df.filter(col(idCol).isNotNull).select(
        col(idCol).as(s"__id_$side"),
        graft.functions.Portable.hash60(
          concat(contentCols.map(render): _*)).as(s"__fp_$side"))
    fp(oldV, "o").join(fp(newV, "n"),
        col("__id_o") === col("__id_n"), "full_outer")
      .select(coalesce(col("__id_o"), col("__id_n")).as(idCol),
        when(col("__id_o").isNull, "added")
          .when(col("__id_n").isNull, "removed")
          .when(col("__fp_o") =!= col("__fp_n"), "changed")
          .otherwise("unchanged").as("status"))
      .filter(col("status") =!= "unchanged")
  }

  /** Full introspection: builds the driver-side [[DatabaseMeta]] the
    * conversion algorithm consumes (analog of
    * server/DBMigration.js:30-91). Column lists come from each table's
    * [[Tables.load]] frame; row counts are the Parquet footers' row-group
    * counts summed over that frame's `inputFiles`, read on the driver
    * over a bounded pool ([[graft.tools.DriverPool]]) — the same files
    * and the same numbers as the S7 query [[tableCounts]], without
    * planning or running a Spark job. Everything else comes from the
    * declared spec.
    */
  def introspect(spark: SparkSession, sfDir: String, spec: SchemaSpec): DatabaseMeta = {
    val frames = spec.tables.map(t => t.name -> Tables.load(spark, sfDir, t.name)).toMap
    val files = spec.tables.flatMap(t => frames(t.name).inputFiles.map(t.name -> _))
    val rows = new Array[Long](files.size)
    val conf = spark.sparkContext.hadoopConfiguration
    graft.tools.DriverPool.awaitAll(files.indices.map(i => () => {
      val in = HadoopInputFile.fromPath(new Path(new java.net.URI(files(i)._2)), conf)
      val reader = ParquetFileReader.open(in)
      try rows(i) = reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally reader.close()
    }))
    val counts = files.map(_._1).zip(rows).groupMapReduce(_._1)(_._2)(_ + _)
    val referencedBy: Map[String, Seq[String]] = spec.tables
      .flatMap(t => t.foreignKeys.map(fk => fk.referencedTable -> t.name))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.sorted }
    val metas = spec.tables.map { t =>
      TableMeta(
        name = t.name,
        numOfRows = counts.getOrElse(t.name, 0L),
        columns = frames(t.name).columns.toSeq,
        primaryKeys = t.primaryKeys,
        foreignKeys = t.foreignKeys,
        isReferenced = referencedBy.contains(t.name),
        referencingTables = referencedBy.getOrElse(t.name, Seq.empty))
    }
    DatabaseMeta(spec.name, metas)
  }
}
