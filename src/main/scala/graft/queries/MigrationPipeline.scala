package graft.queries

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model._
import graft.operators.Catalog
import graft.sources.Tables
import graft.workload.LogPipeline
import graft.convert.SchemaConverter
import graft.map.{DataMapper, DocTree}

/** The full migration pipeline (SURVEY.md §3.1) wired over the fixture
  * tables: introspect → workload analysis → schema conversion → data
  * mapping. Metadata results are memoized per sfDir — the control plane
  * is driver-side and shared by several query-surface entries; the data
  * plane (the nested DataFrames) stays lazy.
  */
object MigrationPipeline {

  private val cache = TrieMap.empty[String, (DatabaseMeta, DocumentSchema)]

  // Mapped root collections, memoized per (application, sfDir, root) and
  // persisted: q24 (nested check), q26 (flattened check) and entry() all
  // consume the same region tree — without this each of them re-executes
  // the full multi-level nesting pipeline. At production scale the
  // migration output is materialized exactly once and every downstream
  // check reads the materialization; persist() is the in-session analog.
  // Keyed by applicationId so a frame never outlives its SparkContext.
  private val mapped = TrieMap.empty[(String, String, String), DataFrame]

  /** Introspect + workload + convert, memoized per scale-factor dir. */
  def converted(spark: SparkSession, sfDir: String): (DatabaseMeta, DocumentSchema) =
    cache.getOrElseUpdate(sfDir, {
      val db0 = Catalog.introspect(spark, sfDir, Tables.tpchSpec)
      // Row counts were just introspected — reuse them for the workload
      // join instead of re-counting.
      import spark.implicits._
      val rowCounts = db0.tables.map(t => (t.name, t.numOfRows))
        .toDF("table_name", "num_rows")
      val stmts = LogPipeline.statementsFromText(
        spark, Fixtures.mysqlLog, LogPipeline.MySqlLog)
      val stats = LogPipeline.workloadStats(
        LogPipeline.tableMentions(stmts), rowCounts)
      val db = LogPipeline.applyWorkload(db0, stats)
      (db, SchemaConverter.convert(db))
    })

  /** One root collection's nested DataFrame (memoized + persisted).
    * GUARDED by default since round 12: the x70 pre-flight runs before
    * the nested fold, so a tree that would exceed MongoDB's 16 MB
    * document limit fails in ~0.2 s with the worst offenders named
    * instead of discovering the wall as an executor OOM minutes in
    * (round-11 advisory: the guard existed but the registered path
    * never ran it). At the gate scales every fixture root fits, so the
    * registered outputs are unchanged; callers that WANT the unguarded
    * wall (the q24 decade probe's labeled baseline) drive DataMapper
    * directly. Schemas that trip the guard should come from
    * [[convertedBudgeted]], which demotes instead of refusing.
    */
  def mapRoot(spark: SparkSession, sfDir: String, rootName: String): DataFrame =
    mapped.getOrElseUpdate((spark.sparkContext.applicationId, sfDir, rootName), {
      val (db, schema) = converted(spark, sfDir)
      val root = schema.roots.find(_.name == rootName)
        .getOrElse(throw new IllegalArgumentException(s"no root $rootName"))
      new DataMapper(spark, sfDir, db).mapRootGuarded(root).persist()
    })

  private val cacheBudgeted =
    TrieMap.empty[(String, Long), (DatabaseMeta, DocumentSchema, Seq[(String, Seq[String])])]

  /** [[converted]] with the document-size budget ENFORCED — the
    * standard production flow since round 12: the decision procedure's
    * schema goes through [[SchemaConverter.enforceDocBudget]] wired to
    * [[graft.map.DocSizeAudit]]'s exact per-root pricing, so an
    * over-budget root DEMOTES (children hoist to referencing roots,
    * subtrees intact) and the build proceeds on a schema that fits —
    * instead of [[graft.map.DataMapper.mapRootGuarded]] refusing, or
    * the unguarded fold dying at the 100×-scale OOM wall. Returns the
    * adjusted schema plus the demotion log. Memoized per
    * (sfDir, budget).
    */
  def convertedBudgeted(spark: SparkSession, sfDir: String,
      budgetBytes: Long = graft.map.DocSizeAudit.MongoDocLimit)
      : (DatabaseMeta, DocumentSchema, Seq[(String, Seq[String])]) =
    cacheBudgeted.getOrElseUpdate((sfDir, budgetBytes), {
      val (db, schema0) = converted(spark, sfDir)
      val audit = new graft.map.DocSizeAudit(spark, sfDir, db)
      val (schema, demotions) =
        SchemaConverter.enforceDocBudget(db, schema0, audit.maxDocBytes, budgetBytes)
      demotions.foreach { case (root, children) =>
        System.err.println(s"[graft] doc budget: demoted root '$root', " +
          s"hoisted ${children.mkString(", ")} to referencing roots") }
      (db, schema, demotions)
    })

  /** x73 — the profile-informed conversion audit: x66's one-scan
    * unified profile ([[Catalog.profileAll]]) run over every migration
    * table and read back AGAINST the declared schema and the decision
    * procedure's output. The reference introspects names and row counts
    * only (server/DBMigration.js:30-91); this is the data-shape audit
    * SURVEY §1.3 calls for, turned into actionable advisories:
    *
    *   - `key_candidate` — a non-key column that is null-free and
    *     near-unique (distinct ≥ 95% of rows): a document-key the
    *     declared schema missed.
    *   - `constant_fold` — at most one distinct value: repeating it in
    *     every document wastes bytes; fold into collection metadata.
    *   - `null_heavy_fk` — a declared FK null in over half the rows:
    *     embedding on it orphans the null-keyed children, so the
    *     conversion kind the decision procedure chose (joined in as
    *     `kind`) deserves a second look.
    *
    * Thresholds compare in integer arithmetic (est·100 ≥ rows·95,
    * nulls·2 > rows) so the flags are bit-portable to the oracle; the
    * distinct estimate is the KMV sketch both engines compute
    * bit-identically. One profileAll scan per table; the advisory
    * derivation reads only the three count metrics but the full
    * profile rides the same pass for the operator that wants it.
    * Output: (table_name, col_name, advisory, kind, n_rows, n_nulls,
    * n_distinct_est).
    */
  def profileAdvisories(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (db, _) = converted(spark, sfDir)
    // memoized through the canonical-plan registry: every advisory
    // consumer in a session (x73's audit, x97's advised conversion, the
    // template/key wirings) shares ONE profileAll scan per table — the
    // round-12 verdict measured the re-paid scan at ~6 s per consumer
    val profiles = graft.tools.InternalCaches.persist(
      Tables.migrationTables.map { tn =>
        val df = Tables.load(spark, sfDir, tn)
        val numCols = df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] => f.name
        }.toSeq
        Catalog.profileAll(df, tn, df.columns.toSeq, numCols)
      }.reduce(_ unionByName _))
    val m = profiles
      .filter(col("metric").isin("n_rows", "n_nulls", "n_distinct_est"))
      .groupBy("table_name", "col_name")
      .agg(
        max(when(col("metric") === "n_rows", col("value_num"))).cast("long").as("n_rows"),
        max(when(col("metric") === "n_nulls", col("value_num"))).cast("long").as("n_nulls"),
        max(when(col("metric") === "n_distinct_est", col("value_num"))).cast("long").as("n_distinct_est"))
    val roles = db.tables.flatMap(t => t.columns.map(c =>
        (t.name, c, t.primaryKeys.contains(c), t.foreignKeys.exists(_.columnName == c))))
      .toDF("table_name", "col_name", "is_pk", "is_fk")
    val kinds = decisions(spark, sfDir)
      .select(col("collection_name").as("table_name"), col("kind"))
    advisoriesFrom(m, roles, kinds)
  }

  /** The advisory derivation of [[profileAdvisories]], factored over its
    * three inputs so the threshold logic is testable on controlled
    * frames: `stats` = (table_name, col_name, n_rows, n_nulls,
    * n_distinct_est), `roles` = (table_name, col_name, is_pk, is_fk),
    * `kinds` = (table_name, kind). Both metadata frames are broadcast —
    * they are catalog-sized at any data scale.
    */
  def advisoriesFrom(stats: DataFrame, roles: DataFrame, kinds: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    stats.join(broadcast(roles), Seq("table_name", "col_name"))
      .join(broadcast(kinds), Seq("table_name"), "left")
      .select(col("table_name"), col("col_name"), col("kind"),
        col("n_rows"), col("n_nulls"), col("n_distinct_est"),
        explode(array(
          when(!col("is_pk") && !col("is_fk") && col("n_nulls") === 0 &&
            col("n_distinct_est") * 100 >= col("n_rows") * 95, "key_candidate"),
          when(col("n_distinct_est") <= 1, "constant_fold"),
          when(col("is_fk") && col("n_nulls") * 2 > col("n_rows"), "null_heavy_fk")))
          .as("advisory"))
      .filter(col("advisory").isNotNull)
      .select(col("table_name"), col("col_name"), col("advisory"), col("kind"),
        col("n_rows"), col("n_nulls"), col("n_distinct_est"))
  }

  /** The converted tree flattened depth-first, roots in order:
    * (node, parent name, depth) — the rows of q20, x96 and x97. */
  private def flatten(schema: DocumentSchema): Seq[(CollectionNode, Option[String], Int)] = {
    def walk(n: CollectionNode, parent: Option[String], depth: Int)
        : Seq[(CollectionNode, Option[String], Int)] =
      (n, parent, depth) +: n.embedded.flatMap(walk(_, Some(n.name), depth + 1))
    schema.roots.flatMap(walk(_, None, 0))
  }

  /** Flatten the converted tree to (collection, kind, parent, depth) rows
    * for the decision-procedure query surface.
    */
  def decisions(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, schema) = converted(spark, sfDir)
    import spark.implicits._
    flatten(schema).map { case (n, parent, depth) => (n.name, n.kind.label, parent, depth) }
      .toDF("collection_name", "kind", "parent_name", "depth")
  }

  /** x96 — [[decisions]] with the document-size budget enforced:
    * q20's table plus `hoisted_from`, the over-budget root a
    * collection was hoisted out of (NULL when the budget changed
    * nothing), so the output differs from q20's precisely on the
    * demoted subtree. The demotion responds to DATA SIZE by design —
    * at sf0.001 the fixture region tree fits a 64 KB budget and this
    * is q20's table with a NULL column; at sf0.01 region then nation
    * demote and the cascade stops at customer. The oracle recomputes
    * the same cascade from the same byte model, so the gate holds at
    * every scale without pinning either outcome.
    */
  def decisionsBudgeted(spark: SparkSession, sfDir: String,
      budgetBytes: Long): DataFrame = {
    val (_, schema, demotions) = convertedBudgeted(spark, sfDir, budgetBytes)
    val hoistedFrom = demotions
      .flatMap { case (root, children) => children.map(_ -> root) }.toMap
    import spark.implicits._
    flatten(schema).map { case (n, parent, depth) =>
      (n.name, n.kind.label, parent, depth, hoistedFrom.get(n.name)) }
      .toDF("collection_name", "kind", "parent_name", "depth", "hoisted_from")
  }

  /** x97 — the advisory loop closed: x73's `null_heavy_fk` audit rows
    * feed the conversion decision ([[SchemaConverter.decide]]'s
    * `nullHeavyFks` override — embedding on a mostly-null FK orphans
    * the null-keyed children, so the data says "reference"). Output is
    * q20's table plus `advisory_forced` — true exactly where the
    * advisory CHANGED the decision procedure's choice. On a corpus
    * with no null-heavy FKs (the fixture) this is q20's table with an
    * all-false column — and the oracle recomputes the advisory flags
    * from the same null counts, so a regenerated fixture that DID null
    * out an FK would flip both sides together. Opt-in entry; the
    * default [[converted]] keeps the reference's exact semantics.
    */
  def decisionsAdvised(spark: SparkSession, sfDir: String): DataFrame = {
    val (db, _) = converted(spark, sfDir)
    // control-plane collect: ≤ #FK-columns rows by construction
    val nh = profileAdvisories(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("advisory") === "null_heavy_fk")
      .select("table_name", "col_name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val schema = SchemaConverter.convert(db, nh)
    def forced(name: String): Boolean =
      nh.exists(_._1 == name) &&
        SchemaConverter.decide(db(name), db) != ConversionKind.Referencing
    import spark.implicits._
    flatten(schema).map { case (n, parent, depth) =>
      (n.name, n.kind.label, parent, depth, forced(n.name)) }
      .toDF("collection_name", "kind", "parent_name", "depth", "advisory_forced")
  }

  /** x105 — the `constant_fold` advisory wired into the MAPPING surface
    * (round-12 advice item 5): per document field of the converted
    * tree, where the field's bytes should live. A field whose source
    * column x73 flags `constant_fold` (at most one distinct value)
    * carries zero information per document — repeating it across every
    * document wastes `n_docs × width` bytes at corpus scale, so the
    * fold moves it to collection METADATA (one copy). Structural
    * columns (declared PK / FK — including the `_REF` renames) never
    * fold: a key's job is identity, not information. Output one row
    * per (collection, attribute): (collection_name, parent_name,
    * attribute, source_table, source_col, disposition) with
    * disposition ∈ 'field' | 'folded_constant'. On the fixture no
    * column is constant, so every row reads 'field' — and the oracle
    * recomputes constancy from the data (x97's convention), so a
    * corpus WITH a constant column flips both sides together.
    * Driver-side walk over the tree; the only Spark work is the
    * (memoized) profile scan.
    */
  def templateFolded(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    val (db, schema) = converted(spark, sfDir)
    // control-plane collect: ≤ #columns rows by construction
    val consts = profileAdvisories(spark, sfDir)
      .filter(c("advisory") === "constant_fold")
      .select("table_name", "col_name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    import spark.implicits._
    templateFoldedFrom(db, schema, consts)
      .toDF("collection_name", "parent_name", "attribute",
        "source_table", "source_col", "disposition")
  }

  /** The fold derivation of [[templateFolded]], factored over its
    * inputs so the source-resolution and never-fold-structural rules
    * are testable on controlled metadata (the [[advisoriesFrom]]
    * convention). `consts` = (table, column) pairs flagged
    * `constant_fold`.
    */
  private[graft] def templateFoldedFrom(db: DatabaseMeta,
      schema: DocumentSchema, consts: Set[(String, String)])
      : Seq[(String, Option[String], String, String, String, String)] = {
    def structural(table: String, column: String): Boolean = {
      val t = db(table)
      t.primaryKeys.contains(column) || t.fkColumns.contains(column)
    }
    // `edge` is how `n` nests under `parent`; its FK to a two-way
    // node's other parent names the one column of that parent not inlined
    def rows(n: CollectionNode, parent: Option[String], edge: Option[DocTree.Edge])
        : Seq[(String, Option[String], String, String, String, String)] = {
      val t = db(n.name)
      val own = n.attributes.map { attr =>
        // resolve the attribute to its source (table, column): a two-way
        // node's inlined other-parent columns win name collisions — the
        // reference's JS-overwrite semantics (SchemaConverter.attributesFor)
        val (srcTable, srcCol) = edge.flatMap(_.toOther) match {
          case Some(o) if o.referencedColumn != attr &&
              db(o.referencedTable).columns.contains(attr) => (o.referencedTable, attr)
          case _ => (n.name, t.referencingSource(attr))
        }
        val disposition =
          if (consts.contains((srcTable, srcCol)) && !structural(srcTable, srcCol))
            "folded_constant"
          else "field"
        (n.name, parent, attr, srcTable, srcCol, disposition)
      }
      own ++ DocTree.edges(db, n).flatMap(e => rows(e.child, Some(n.name), Some(e)))
    }
    schema.roots.flatMap(r => rows(r, None, None))
  }

  /** x106 — the `key_candidate` advisory wired into the conversion's
    * KEY surface (round-12 advice item 5): per collection, the column
    * the document `_id` should derive from. A single-column declared
    * PK is always the key. A COMPOSITE (or missing) PK is where the
    * advisory earns its place: a document store wants one scalar
    * identity, and x73's `key_candidate` (non-key, null-free, distinct
    * ≥ 95 % of rows) names the best single-column stand-in the declared
    * schema missed — picked by highest distinct estimate, ties to the
    * lexicographically first column (bit-portable: the estimate is the
    * KMV sketch both engines compute identically). No candidate →
    * the composite key stays (key_kind 'composite'). Output:
    * (collection_name, key_kind ∈ 'pk'|'advisory'|'composite'|'none',
    * key_columns, advisory_key). Whether the fixture's lineitem (the
    * one composite-key table) yields an advisory key is decided by the
    * DATA — the oracle recomputes the same candidate scan, so both
    * sides flip together on a regenerated fixture.
    */
  def documentKeys(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    val (db, schema) = converted(spark, sfDir)
    // control-plane collect: ≤ #columns rows by construction
    val cands = profileAdvisories(spark, sfDir)
      .filter(c("advisory") === "key_candidate")
      .select("table_name", "col_name", "n_distinct_est")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    import spark.implicits._
    documentKeysFrom(db, schema, cands.toSeq)
      .toDF("collection_name", "key_kind", "key_columns", "advisory_key")
  }

  /** The key derivation of [[documentKeys]], factored over its inputs
    * for controlled-metadata testing. `cands` = (table, column,
    * n_distinct_est) rows flagged `key_candidate`.
    */
  private[graft] def documentKeysFrom(db: DatabaseMeta,
      schema: DocumentSchema, cands: Seq[(String, String, Long)])
      : Seq[(String, String, String, Boolean)] = {
    def tablesOf(n: CollectionNode): Seq[String] =
      n.name +: n.embedded.flatMap(tablesOf)
    val names = schema.roots.flatMap(tablesOf).distinct
    names.map { name =>
      val t = db(name)
      if (t.primaryKeys.size == 1)
        (name, "pk", t.primaryKeys.head, false)
      else {
        val best = cands.filter(_._1 == name)
          .sortBy { case (_, col0, est) => (-est, col0) }.headOption
        best match {
          case Some((_, col0, _)) => (name, "advisory", col0, true)
          case None if t.primaryKeys.nonEmpty =>
            (name, "composite", t.primaryKeys.mkString(","), false)
          case None => (name, "none", "", false)
        }
      }
    }
  }
}
