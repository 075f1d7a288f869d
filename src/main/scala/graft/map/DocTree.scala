package graft.map

import org.apache.spark.sql.DataFrame
import graft.model._
import graft.operators.Embedding

/** The document tree's edge resolution, shared by everything that walks
  * a converted tree: the build ([[DataMapper]] folds each edge into a
  * nested array), its price ([[DocSizeAudit]] folds it into a byte sum)
  * and the x105 field sources
  * ([[graft.queries.MigrationPipeline.templateFolded]], metadata only).
  * Resolving every edge in one place is what makes the audit price
  * exactly the documents the build makes.
  */
private[graft] object DocTree {

  /** One embedded edge: `child` nests under its parent through
    * `toParent`, and a two-way child inlines the other parent it
    * reaches through `toOther`. */
  final case class Edge(child: CollectionNode, toParent: ForeignKeyMeta,
      toOther: Option[ForeignKeyMeta]) {

    /** The parent column the child's group column matches. */
    def parentKey: String = toParent.referencedColumn

    /** The column the child's rows group by: the FK to the parent, which
      * the two-way join moves to [[Embedding.ParentFkCol]]. */
    def groupCol: String = if (toOther.isDefined) Embedding.ParentFkCol else toParent.columnName

    /** The child's rows before nesting: its source rows, joined with the
      * other parent's attributes for a two-way child
      * ([[Embedding.joinOtherParent]]). */
    def frame(load: String => DataFrame): DataFrame = toOther.fold(load(child.name)) { o =>
      Embedding.joinOtherParent(load(child.name), toParent.columnName, o.columnName,
        load(o.referencedTable), o.referencedColumn)
    }
  }

  /** `node`'s embedded edges, in nesting order. The FK to the parent
    * is the recorded `parentFkColumn` when present (required when both
    * of a junction's FKs reference the same parent table), else the
    * child's FK to the parent's table, for hand-built trees. The FK to a
    * two-way child's other parent is its other FK into that table. */
  def edges(db: DatabaseMeta, node: CollectionNode): Seq[Edge] = node.embedded.map { child =>
    val fks = db(child.name).foreignKeys
    val toParent = child.parentFkColumn.flatMap(c => fks.find(_.columnName == c))
      .orElse(fks.find(_.referencedTable == node.name))
      .getOrElse(throw new IllegalStateException(
        s"${child.name} embedded under ${node.name} without an FK to it"))
    val toOther = child.embeddedAttributesFrom.map { other =>
      fks.find(fk => fk.referencedTable == other && fk != toParent)
        .getOrElse(throw new IllegalStateException(
          s"${child.name}: no FK to two-way other parent $other"))
    }
    Edge(child, toParent, toOther)
  }

  /** A root collection's own rows: a Referencing root stores its FK
    * columns in the referencing shape ([[TableMeta.refField]]). */
  def rootFrame(db: DatabaseMeta, root: CollectionNode, load: String => DataFrame): DataFrame =
    if (root.kind == ConversionKind.Referencing)
      Embedding.renameFkRefs(load(root.name), db(root.name).fkColumns)
    else load(root.name)
}
