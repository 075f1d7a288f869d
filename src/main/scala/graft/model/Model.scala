package graft.model

/** Metadata model for the migration engine.
  *
  * Mirrors the reference's driver-side schema objects (see SURVEY.md §1):
  * `RelationalDatabase`/`Table`/`ForeignKey`
  * (reference: server/models/RelationalDatabase.js:1-7,
  * server/models/Table.js:2-20, server/models/ForeignKey.js:1-9) and the
  * document-side `NoSQLDatabase`/`Collection`
  * (reference: server/models/NoSQLDatabase.js:3-28,
  * server/models/Collection.js:1-19).
  *
  * These are small driver-side case classes: the metadata graph is tiny
  * (tens of tables), so plain Scala is the right tool; only the *data
  * plane* is distributed.
  */

/** Single-column foreign key (the reference never models composite FKs —
  * server/models/ForeignKey.js:1-9).
  */
final case class ForeignKeyMeta(
    columnName: String,
    referencedTable: String,
    referencedColumn: String)

/** Declared keys for one table of a file-based source (stands in for
  * `information_schema` introspection, which only exists on JDBC sources).
  */
final case class TableSpec(
    name: String,
    primaryKeys: Seq[String],
    foreignKeys: Seq[ForeignKeyMeta])

/** Declared schema for a whole source database. */
final case class SchemaSpec(name: String, tables: Seq[TableSpec]) {
  def tableNames: Seq[String] = tables.map(_.name)
  def apply(table: String): TableSpec = tables.find(_.name == table).get
}

/** Fully-introspected table metadata — the analog of the reference's
  * `Table` (server/models/Table.js:2-20), including the workload counters
  * gaf (general access frequency) and uaf (update access frequency),
  * each incremented by the table's row count per query-log mention
  * (server/models/Table.js:30-36).
  */
final case class TableMeta(
    name: String,
    numOfRows: Long,
    columns: Seq[String],
    primaryKeys: Seq[String],
    foreignKeys: Seq[ForeignKeyMeta],
    isReferenced: Boolean,
    referencingTables: Seq[String],
    gaf: Long = 0L,
    uaf: Long = 0L) {
  def numOfForeignKeys: Int = foreignKeys.size
  def isSelfReferencing: Boolean = foreignKeys.exists(_.referencedTable == name)
  def fkColumns: Seq[String] = foreignKeys.map(_.columnName)

  /** A column's field name when this table is kept as a Referencing
    * collection: [[TableMeta.refField]] for an FK column, its own name
    * for any other. */
  def referencingField(column: String): String =
    if (fkColumns.contains(column)) TableMeta.refField(column) else column

  /** This table's document fields as a Referencing collection, in
    * column order. */
  def referencingFields: Seq[String] = columns.map(referencingField)

  /** The column a Referencing collection's field holds: the inverse of
    * [[referencingField]]. */
  def referencingSource(field: String): String =
    fkColumns.find(TableMeta.refField(_) == field).getOrElse(field)
}

object TableMeta {
  /** P3 — the referencing shape: a Referencing collection stores each FK
    * column `c` as the field `c_REF`, values unchanged
    * (server/DBMigration.js:319-333; golden collection7.json
    * `orderId_REF: 10248`).
    */
  def refField(fkColumn: String): String = fkColumn + "_REF"
}

/** Introspected relational database + the workload threshold `maf`
  * (= 0.0125 × Σ gaf — server/models/RelationalDatabase.js:17-24).
  */
final case class DatabaseMeta(name: String, tables: Seq[TableMeta], maf: Double = 0.0) {
  def apply(table: String): TableMeta = tables.find(_.name == table).get
  def get(table: String): Option[TableMeta] = tables.find(_.name == table)
}

/** How a table was converted (SURVEY.md §2.8 decision rule). */
sealed trait ConversionKind { def label: String }
object ConversionKind {
  /** 0-FK table → new root collection. */
  case object Root extends ConversionKind { val label = "root" }
  /** Kept as top-level collection in the referencing shape
    * ([[TableMeta.refField]]). */
  case object Referencing extends ConversionKind { val label = "referencing" }
  /** 1-FK table nested under its parent as an array of documents. */
  case object OneWayEmbedded extends ConversionKind { val label = "one_way_embedded" }
  /** 2-FK junction table nested under each parent with the *other*
    * parent's attributes inlined into every embedded document.
    */
  case object TwoWayEmbedded extends ConversionKind { val label = "two_way_embedded" }
}

/** The document-size price of root collections: `apply` prices one
  * root, `prices` a batch of roots, in order. The default batch prices
  * each root alone, so any `CollectionNode => Long` function literal is
  * a pricer; [[graft.map.DocSizeAudit.maxDocBytes]] prices a whole batch
  * in one Spark plan.
  */
trait DocPricer extends (CollectionNode => Long) {
  def prices(roots: Seq[CollectionNode]): Seq[Long] = roots.map(this)
}

/** A node of the document-schema tree — the analog of the reference's
  * `Collection` (server/models/Collection.js:1-19). `attributes` is
  * name-only (the reference carries no types; Spark infers them from the
  * source DataFrames). `embeddedAttributesFrom` marks the two-way case:
  * the name of the *other* parent whose attributes are inlined
  * (server/models/Collection.js:12-16).
  */
final case class CollectionNode(
    name: String,
    attributes: Seq[String],
    kind: ConversionKind,
    embedded: Seq[CollectionNode] = Seq.empty,
    embeddedAttributesFrom: Option[String] = None,
    /** The FK column binding this embedded node to its parent — needed
      * when several FKs reference the same table (e.g. a follows/edges
      * junction with both FKs into one parent), where referenced-table
      * lookup alone is ambiguous.
      */
    parentFkColumn: Option[String] = None) {

  /** The empty-valued document template the reference UI renders per
    * collection (client/src/components/NoSqlCollection.js:3-28 builds
    * `{attr: "", embeddedName: [template]}` recursively and shows
    * `JSON.stringify(item, null, 4)`). Same field order (attributes
    * first, then embedded collections) and the same 4-space
    * indentation, so the string matches the reference byte-for-byte
    * for ASCII names. Driver-side: a template describes the SCHEMA,
    * not data — O(tree) work, no Spark job.
    */
  def documentTemplate: String = {
    // JSON.stringify emits the two-char short escapes for \b \t \n \f
    // \r and \u00XX only for the remaining control chars — match that,
    // or the byte-for-byte claim fails for names containing them.
    def quote(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\b' => "\\b"
        case '\t' => "\\t"
        case '\n' => "\\n"
        case '\f' => "\\f"
        case '\r' => "\\r"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def render(n: CollectionNode, indent: Int): String = {
      val pad = " " * (indent + 4)
      val attrs = n.attributes.map(a => s"$pad${quote(a)}: \"\"")
      val nested = n.embedded.map(e =>
        s"$pad${quote(e.name)}: [\n${" " * (indent + 8)}${
          render(e, indent + 8)}\n$pad]")
      val entries = attrs ++ nested
      if (entries.isEmpty) "{}" // JSON.stringify({}, null, 4)
      else entries.mkString("{\n", ",\n", s"\n${" " * indent}}")
    }
    render(this, 0)
  }

  /** BFS through the embedded tree, so an embedded collection is itself
    * addressable as a nesting target
    * (reference: server/models/NoSQLDatabase.js:14-27).
    */
  def find(target: String): Option[CollectionNode] = {
    val q = scala.collection.mutable.Queue(this)
    while (q.nonEmpty) {
      val n = q.dequeue()
      if (n.name == target) return Some(n)
      q.enqueueAll(n.embedded)
    }
    None
  }
}

/** The converted document database: root collections only; embedded
  * collections live inside their parents
  * (reference: server/models/NoSQLDatabase.js:3-28).
  */
final case class DocumentSchema(name: String, roots: Seq[CollectionNode]) {

  /** Each root's largest estimated document in bytes, aligned with
    * `roots`, when the document-size budget step priced them
    * ([[withRootPrices]]); None otherwise. Not part of equality, and
    * `copy` drops it: a changed schema is priced again.
    */
  def rootPrices: Option[Seq[Long]] = prices
  private var prices: Option[Seq[Long]] = None

  /** This schema carrying `rootPrices`, one per root, in root order. */
  def withRootPrices(rootPrices: Seq[Long]): DocumentSchema = {
    require(rootPrices.size == roots.size,
      s"${rootPrices.size} prices for ${roots.size} roots")
    val priced = copy()
    priced.prices = Some(rootPrices)
    priced
  }

  /** BFS across all roots — mirrors the reference's `getCollection`
    * (server/models/NoSQLDatabase.js:14-27), which returns the *first*
    * match in BFS order (relevant when a two-way table appears under both
    * parents). Returns the path of child indices from the root.
    */
  private def findPath(target: String): Option[(Int, List[Int])] = {
    val q = scala.collection.mutable.Queue.empty[(CollectionNode, Int, List[Int])]
    roots.zipWithIndex.foreach { case (r, i) => q.enqueue((r, i, Nil)) }
    while (q.nonEmpty) {
      val (n, rootIdx, path) = q.dequeue()
      if (n.name == target) return Some((rootIdx, path))
      n.embedded.zipWithIndex.foreach { case (c, ci) =>
        q.enqueue((c, rootIdx, path :+ ci))
      }
    }
    None
  }

  def find(target: String): Option[CollectionNode] =
    findPath(target).map { case (rootIdx, path) =>
      path.foldLeft(roots(rootIdx))((n, i) => n.embedded(i))
    }

  /** Apply `f` to the first BFS match of `target` only (reference parity:
    * only the first-found collection receives the new child).
    */
  def mapNode(target: String, f: CollectionNode => CollectionNode): DocumentSchema =
    findPath(target) match {
      case None => this
      case Some((rootIdx, path)) =>
        def update(n: CollectionNode, p: List[Int]): CollectionNode = p match {
          case Nil => f(n)
          case i :: rest =>
            n.copy(embedded = n.embedded.updated(i, update(n.embedded(i), rest)))
        }
        copy(roots = roots.updated(rootIdx, update(roots(rootIdx), path)))
    }
}
