package graft.map

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.model._
import graft.operators.Embedding
import graft.sources.Tables

/** The data plane: materialize each root collection of a converted
  * [[DocumentSchema]] as a nested DataFrame (SURVEY.md §3.3).
  *
  * The reference recurses top-down, issuing one full scan per tree node
  * and one point-lookup SQL query per parent row
  * (server/DBMigration.js:405-498, :524-575) — O(rows × depth) network
  * round trips. Here the recursion becomes a bottom-up fold over the
  * tree's edges, resolved by [[DocTree]] exactly as [[DocSizeAudit]]
  * prices them: deepest children first, each level exactly one shuffle
  * (the child grouped by its FK into an ordered array of documents,
  * [[Embedding.oneWayEmbed]]) plus one join, with no per-row boundary
  * crossings. Tables referenced by multiple tree nodes
  * are read once per node from Parquet (cheap — columnar scan with
  * pruning); at cluster scale each level's shuffle partitions by the FK.
  * Skewed parents are handled by the level itself: every embedding level
  * goes through [[Embedding.oneWayEmbedAuto]], whose sampled fan-out
  * pre-pass switches a hot level to the salted two-phase merge plan
  * (AQE can't split a single NestCollect group — a million-child parent
  * is ONE row of the aggregation, so the fix has to be plan-level).
  */
class DataMapper(
    spark: SparkSession,
    sfDir: String,
    db: DatabaseMeta,
    loader: (SparkSession, String, String) => DataFrame = Tables.load,
    /** Estimated children-per-parent at which an embedding level
      * switches to the salted two-phase merge plan
      * ([[Embedding.oneWayEmbedAuto]]). The default trips only on
      * genuinely pathological parents — a 100 TB corpus with a
      * million-child key would otherwise straggle the level's whole
      * NestCollect on one task. Identical output either way; the
      * sampled decision is strategy-only.
      */
    hotFanout: Long = 1000000L,
    sampleFraction: Double = 0.001) {

  private def load(table: String): DataFrame = loader(spark, sfDir, table)

  /** [[mapRoot]] behind the x70 pre-flight: price every root
    * document ([[DocSizeAudit]]) and REFUSE to build when any exceeds
    * `budgetBytes` — the audit costs a (key, long) aggregate per tree
    * edge where the build it guards would pay the full nested fold
    * before discovering the wall as an executor OOM (or MongoDB's
    * 16 MB rejection two decades earlier). The check costs one pricing
    * plan ([[DocSizeAudit.maxDocBytes]], a batch of one). Only a root
    * over budget pays a second query, for the error: it names the worst
    * offenders (top 5 by estimated bytes) so the caller can re-plan —
    * typically by demoting the root.
    */
  def mapRootGuarded(
      root: CollectionNode,
      budgetBytes: Long = DocSizeAudit.MongoDocLimit): DataFrame = {
    val audit = new DocSizeAudit(spark, sfDir, db, loader)
    guarded(audit, root, audit.maxDocBytes(root), budgetBytes)
  }

  /** Build every root collection, each behind [[mapRootGuarded]]'s
    * budget check: (collection name, nested DataFrame). A schema from
    * [[graft.convert.SchemaConverter.enforceDocBudget]] carries its
    * roots' prices ([[DocumentSchema.rootPrices]]), so this runs no
    * pricing plan for it; any other schema has all its roots priced in
    * one plan. */
  def mapAllGuarded(
      schema: DocumentSchema,
      budgetBytes: Long = DocSizeAudit.MongoDocLimit): Seq[(String, DataFrame)] = {
    val audit = new DocSizeAudit(spark, sfDir, db, loader)
    val prices = schema.rootPrices.getOrElse(audit.maxDocBytes.prices(schema.roots))
    schema.roots.zip(prices).map { case (r, p) => r.name -> guarded(audit, r, p, budgetBytes) }
  }

  /** [[mapRoot]] of a root whose largest document is priced at `price`
    * bytes, or the refusal naming its worst offenders. */
  private def guarded(audit: DocSizeAudit, root: CollectionNode, price: Long,
      budgetBytes: Long): DataFrame = {
    if (price > budgetBytes) {
      // control-plane action: ≤5 (key, bytes) rows cross the driver
      val worst = audit.estimateRoot(root).filter(col("est_doc_bytes") > budgetBytes)
        .orderBy(col("est_doc_bytes").desc)
        .limit(5).collect()
      val keys = db(root.name).primaryKeys.mkString(",")
      val tops = worst.map(r => s"($keys)=(${
        r.toSeq.dropRight(1).mkString(",")}) ~${r.getLong(r.length - 1)}B")
      throw new IllegalStateException(
        s"mapRootGuarded: root '${root.name}' would build documents over " +
          s"the $budgetBytes-byte budget; worst: ${tops.mkString("; ")}. " +
          "Demote the root (SchemaConverter.enforceDocBudget) or raise the budget.")
    }
    mapRoot(root)
  }

  /** Build one root collection's nested DataFrame. */
  def mapRoot(root: CollectionNode): DataFrame =
    nestChildren(DocTree.rootFrame(db, root, load), root)

  /** Nest `node`'s embedded children into `df`, deepest first: each
    * edge's child frame ([[DocTree.Edge.frame]]) gets its own children
    * nested, then folds into one array column of `df`. `df` must still
    * carry the column each edge's FK references.
    */
  private def nestChildren(df: DataFrame, node: CollectionNode): DataFrame =
    DocTree.edges(db, node).foldLeft(df) { (parentDf, e) =>
      val childMeta = db(e.child.name)
      val childDf = nestChildren(e.frame(load), e.child)
      // Arrays order by the child's surviving PK columns first, then by
      // every other document field, so output is deterministic under
      // parallelism — also for a junction whose PK columns are all FKs.
      val sortKeys = childMeta.primaryKeys.filterNot(childMeta.fkColumns.contains)
      // The auto path: a sampled fan-out pre-pass decides plain vs
      // salted per level. Control-plane short-circuit first: the
      // introspected row count upper-bounds any key's fan-out (the
      // two-way enrichment joins other-parent KEYS, so it never
      // multiplies rows), so a child table smaller than the hot
      // threshold can't need salting and skips the sampling job
      // entirely — at sf-scale testing no pre-pass runs at all; at
      // 100 TB it runs only on the levels where it could matter.
      if (childMeta.numOfRows < hotFanout)
        Embedding.oneWayEmbed(parentDf, e.parentKey, childDf, e.groupCol, e.child.name, sortKeys)
      else
        Embedding.oneWayEmbedAuto(parentDf, e.parentKey, childDf, e.groupCol, e.child.name,
          sortKeys, hotFanout = hotFanout, sampleFraction = sampleFraction)
    }
}
