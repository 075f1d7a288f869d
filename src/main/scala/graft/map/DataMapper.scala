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
  * round trips. Here the recursion becomes a bottom-up fold: deepest
  * children first, each level exactly one shuffle
  * (`groupBy(fk).agg(collect_list(struct(...)))`) plus one join, with no
  * per-row boundary crossings. Tables referenced by multiple tree nodes
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

  /** [[mapRoot]] behind the x70 pre-flight: estimate every root
    * document's size ([[DocSizeAudit]]) and REFUSE to build when any
    * exceeds `budgetBytes` — the audit costs a (key, long) aggregate
    * per tree edge where the build it guards would pay the full nested
    * fold before discovering the wall as an executor OOM (or MongoDB's
    * 16 MB rejection two decades earlier). The error names the worst
    * offenders so the caller can re-plan — typically by demoting the
    * root ([[graft.convert.SchemaConverter.enforceDocBudget]]).
    */
  def mapRootGuarded(
      root: CollectionNode,
      budgetBytes: Long = DocSizeAudit.MongoDocLimit): DataFrame = {
    val audit = new DocSizeAudit(spark, sfDir, db, loader).estimateRoot(root)
    // control-plane action: ≤5 (key, bytes) rows cross the driver
    val worst = audit.filter(col("est_doc_bytes") > budgetBytes)
      .orderBy(col("est_doc_bytes").desc)
      .limit(5).collect()
    if (worst.nonEmpty) {
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

  /** Build every root collection, each behind [[mapRootGuarded]]'s
    * budget pre-flight: (collection name, nested DataFrame). */
  def mapAllGuarded(
      schema: DocumentSchema,
      budgetBytes: Long = DocSizeAudit.MongoDocLimit): Seq[(String, DataFrame)] =
    schema.roots.map(r => r.name -> mapRootGuarded(r, budgetBytes))

  /** Build one root collection's nested DataFrame. */
  def mapRoot(root: CollectionNode): DataFrame = {
    val meta = db(root.name)
    val base = root.kind match {
      case ConversionKind.Referencing =>
        Embedding.renameFkRefs(load(root.name), meta.foreignKeys.map(_.columnName))
      case _ => load(root.name)
    }
    nestChildren(base, root)
  }

  /** Recursively nest `node`'s embedded children into `df`. `df` must
    * still carry the join column each child's FK references.
    */
  private def nestChildren(df: DataFrame, node: CollectionNode): DataFrame =
    node.embedded.foldLeft(df) { (parentDf, child) =>
      val childMeta = db(child.name)
      // Bind by the recorded FK column when present (required when both
      // of a junction's FKs reference the same parent table); fall back
      // to referenced-table lookup for hand-built trees.
      val fkToParent = child.parentFkColumn
        .flatMap(c => childMeta.foreignKeys.find(_.columnName == c))
        .orElse(childMeta.foreignKeys.find(_.referencedTable == node.name))
        .getOrElse(throw new IllegalStateException(
          s"${child.name} embedded under ${node.name} without an FK to it"))
      val childDf = buildChild(child, fkToParent)
      // Two-way children had their FK-to-parent moved to the reserved
      // grouping column by joinOtherParent.
      val groupCol =
        if (childDf.columns.contains(Embedding.ParentFkCol)) Embedding.ParentFkCol
        else fkToParent.columnName
      // Sort the embedded array by the child's surviving PK columns so
      // output is deterministic under parallelism.
      val dropped = childMeta.foreignKeys.map(_.columnName).toSet
      val sortKeys = childMeta.primaryKeys.filterNot(dropped.contains) match {
        case Seq() => childDf.columns.toSeq.intersect(childMeta.columns).take(1)
        case pks => pks
      }
      // The auto path: a sampled fan-out pre-pass decides plain vs
      // salted per level. Control-plane short-circuit first: the
      // introspected row count upper-bounds any key's fan-out (the
      // two-way enrichment joins other-parent KEYS, so it never
      // multiplies rows), so a child table smaller than the hot
      // threshold can't need salting and skips the sampling job
      // entirely — at sf-scale testing no pre-pass runs at all; at
      // 100 TB it runs only on the levels where it could matter.
      if (childMeta.numOfRows < hotFanout)
        Embedding.oneWayEmbed(
          parentDf, fkToParent.referencedColumn, childDf,
          groupCol, child.name, sortKeys)
      else
        Embedding.oneWayEmbedAuto(
          parentDf, fkToParent.referencedColumn, childDf,
          groupCol, child.name, sortKeys,
          hotFanout = hotFanout, sampleFraction = sampleFraction)
    }

  /** Build a child's (pre-nesting) DataFrame: source rows, two-way
    * enrichment with the other parent's attributes if applicable, then
    * its own embedded children, keeping `fkToParent` for the group-by.
    */
  private def buildChild(child: CollectionNode, fkToParent: ForeignKeyMeta): DataFrame = {
    val meta = db(child.name)
    var df = load(child.name)
    child.embeddedAttributesFrom.foreach { otherTable =>
      val fkToOther = meta.foreignKeys
        .find(fk => fk.referencedTable == otherTable && fk != fkToParent)
        .getOrElse(throw new IllegalStateException(
          s"${child.name}: no FK to two-way other parent $otherTable"))
      df = Embedding.joinOtherParent(
        df, fkToParent.columnName, fkToOther.columnName,
        load(otherTable), fkToOther.referencedColumn)
    }
    nestChildren(df, child)
  }

}
