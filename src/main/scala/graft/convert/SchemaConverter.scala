package graft.convert

import graft.model._

/** The schema-conversion decision procedure (SURVEY.md §2.8) — the
  * control plane. Pure driver-side Scala over [[TableMeta]]: the table
  * graph is tiny (tens of nodes), so no distributed computation belongs
  * here; only the *data mapping* it plans is distributed.
  *
  * Reference: server/DBMigration.js:194-262 (BFS queue), :335-392
  * (per-table rule), server/models/NoSQLDatabase.js:14-27 (BFS nesting
  * target lookup).
  */
object SchemaConverter {

  /** Result of the topological ordering: tables in conversion order, plus
    * tables silently dropped because they sit in an FK cycle that never
    * satisfies the admission rule (the reference never enqueues them so
    * they vanish from the output — server/DBMigration.js:224-259; we
    * preserve the semantics but surface the list).
    */
  final case class TopoResult(order: Seq[String], droppedCyclic: Seq[String])

  /** Topological BFS queue (server/DBMigration.js:194-262): seed with
    * 0-FK tables (:200-206); if none exist, seed with single-FK
    * self-referencing tables (:209-221); then repeatedly admit a table
    * once every FK it holds points at an already-enqueued table or at
    * itself (:224-259).
    */
  def topoOrder(db: DatabaseMeta): TopoResult = {
    val enqueued = scala.collection.mutable.LinkedHashSet.empty[String]
    val zeroFk = db.tables.filter(_.foreignKeys.isEmpty)
    if (zeroFk.nonEmpty) enqueued ++= zeroFk.map(_.name)
    else enqueued ++= db.tables
      .filter(t => t.numOfForeignKeys == 1 && t.isSelfReferencing)
      .map(_.name)

    var progress = true
    while (progress) {
      progress = false
      for (t <- db.tables if !enqueued.contains(t.name) && t.foreignKeys.nonEmpty) {
        val admissible = t.foreignKeys.forall(fk =>
          enqueued.contains(fk.referencedTable) || fk.referencedTable == t.name)
        if (admissible) { enqueued += t.name; progress = true }
      }
    }
    val dropped = db.tables.map(_.name).filterNot(enqueued.contains)
    if (dropped.nonEmpty)
      System.err.println(
        s"[graft] WARNING: FK-cyclic tables never admitted, dropped from " +
          s"conversion (reference parity): ${dropped.mkString(", ")}")
    TopoResult(enqueued.toSeq, dropped)
  }

  /** The per-table embed-vs-reference rule (server/DBMigration.js:341-389),
    * returning what to do with one table given the already-built tree.
    *
    * `nullHeavyFks` feeds x73's data audit into the decision (round-12
    * advisory loop): a (table, fkColumn) pair flagged `null_heavy_fk`
    * forces Referencing — embedding on an FK that is null in most rows
    * ORPHANS the null-keyed children (they join to no parent document
    * and vanish from the corpus), so the safe shape is a top-level
    * collection with the `_REF` link. Precedence sits with the
    * workload rule: structural rules (root / self-ref / >2 FKs) first,
    * then the data-driven overrides. Empty set (the default) preserves
    * the reference's exact semantics.
    */
  def decide(t: TableMeta, db: DatabaseMeta,
      nullHeavyFks: Set[(String, String)] = Set.empty): ConversionKind = {
    if (t.foreignKeys.isEmpty) ConversionKind.Root
    else if (t.isSelfReferencing) ConversionKind.Referencing
    else if (t.numOfForeignKeys > 2) ConversionKind.Referencing
    else {
      // ≤2 FKs: the workload rule — frequently-updated tables (or tables
      // referenced by frequently-updated ones) stay top-level so updates
      // touch one document (server/DBMigration.js:355-369).
      val hot = t.uaf > db.maf ||
        (t.isReferenced && t.referencingTables.exists(rt =>
          db.get(rt).exists(_.uaf > db.maf)))
      val orphaning = t.foreignKeys.exists(fk =>
        nullHeavyFks.contains((t.name, fk.columnName)))
      if (hot || orphaning) ConversionKind.Referencing
      else if (t.numOfForeignKeys == 2) ConversionKind.TwoWayEmbedded
      else ConversionKind.OneWayEmbedded
    }
  }

  /** Run the whole conversion: topological order, per-table decision,
    * tree construction with BFS nesting-target lookup (so children embed
    * into parents that are themselves embedded — golden collection4.json
    * shows region→territory→employeeterritory at 3 levels, and
    * referencing-created roots still receive embedded children).
    */
  def convert(db: DatabaseMeta,
      nullHeavyFks: Set[(String, String)] = Set.empty): DocumentSchema = {
    val topo = topoOrder(db)
    var schema = DocumentSchema(db.name, Seq.empty)

    def attributesFor(t: TableMeta, kind: ConversionKind, otherParent: Option[(TableMeta, String)]): Seq[String] =
      kind match {
        case ConversionKind.Root => t.columns
        case ConversionKind.Referencing => t.referencingFields
        case ConversionKind.OneWayEmbedded => t.columns.filterNot(t.fkColumns.contains)
        case ConversionKind.TwoWayEmbedded =>
          // child attrs minus both FKs ++ other parent attrs minus its
          // referenced key (server/DBMigration.js:304-309); a name
          // collision yields ONE document field holding the other
          // parent's value (JS overwrite — :563-569), so dedupe
          val (other, refCol) = otherParent.get
          (t.columns.filterNot(t.fkColumns.contains) ++
            other.columns.filterNot(_ == refCol)).distinct
      }

    for (name <- topo.order) {
      val t = db(name)
      decide(t, db, nullHeavyFks) match {
        case k @ (ConversionKind.Root | ConversionKind.Referencing) =>
          schema = schema.copy(roots = schema.roots :+
            CollectionNode(t.name, attributesFor(t, k, None), k))
        case ConversionKind.OneWayEmbedded =>
          val fk = t.foreignKeys.head
          schema.find(fk.referencedTable) match {
            case Some(_) =>
              val node = CollectionNode(
                t.name, attributesFor(t, ConversionKind.OneWayEmbedded, None),
                ConversionKind.OneWayEmbedded,
                parentFkColumn = Some(fk.columnName))
              schema = schema.mapNode(fk.referencedTable,
                p => p.copy(embedded = p.embedded :+ node))
            case None =>
              System.err.println(
                s"[graft] WARNING: embed target ${fk.referencedTable} for " +
                  s"$name not in tree; kept as referencing")
              schema = schema.copy(roots = schema.roots :+
                CollectionNode(t.name,
                  attributesFor(t, ConversionKind.Referencing, None),
                  ConversionKind.Referencing))
          }
        case ConversionKind.TwoWayEmbedded =>
          // Nest under BOTH parents; under each, inline the *other*
          // parent's attributes (server/DBMigration.js:282-317). When
          // both FKs reference the SAME table (a follows/edges junction)
          // the reference adds both copies under one parent and its
          // per-document mapping then overwrites the first with the
          // second (document[name] reassignment) — so only the
          // second-FK-keyed variant survives; we add just that one.
          val Seq(fkA, fkB) = t.foreignKeys.take(2)
          val variants =
            if (fkA.referencedTable == fkB.referencedTable) {
              System.err.println(
                s"[graft] WARNING: $name has both FKs into " +
                  s"${fkA.referencedTable}; keeping the ${fkB.columnName}-keyed " +
                  "embedding only (reference overwrite semantics)")
              Seq((fkB, fkA))
            } else Seq((fkA, fkB), (fkB, fkA))
          for ((fkParent, fkOther) <- variants) {
            schema.find(fkParent.referencedTable) match {
              case Some(_) =>
                val otherMeta = db(fkOther.referencedTable)
                val node = CollectionNode(
                  t.name,
                  attributesFor(t, ConversionKind.TwoWayEmbedded,
                    Some((otherMeta, fkOther.referencedColumn))),
                  ConversionKind.TwoWayEmbedded,
                  embeddedAttributesFrom = Some(fkOther.referencedTable),
                  parentFkColumn = Some(fkParent.columnName))
                schema = schema.mapNode(fkParent.referencedTable,
                  p => p.copy(embedded = p.embedded :+ node))
              case None =>
                System.err.println(
                  s"[graft] WARNING: two-way embed target " +
                    s"${fkParent.referencedTable} for $name not in tree; skipped")
            }
          }
      }
    }
    schema
  }

  /** x70 pressure valve: force referencing where the document-size
    * pre-flight says embedding would breach the per-document budget.
    *
    * The reference's workload rule keeps hot tables top-level but knows
    * nothing about document BYTES — a cold deep tree sails through the
    * decision procedure and then hits MongoDB's 16 MB rejection (or the
    * build's own giant-row wall) at data-mapping time. This procedure
    * closes the loop: while any root's largest estimated document
    * (`maxDocBytes`, normally [[graft.map.DocSizeAudit.maxDocBytes]])
    * exceeds `budgetBytes`, DEMOTE the first such root — its direct
    * children hoist to top-level Referencing collections (their own
    * subtrees intact, their attributes restored to the referencing
    * shape: all columns, FKs renamed `_REF`) and the root keeps only its
    * own attributes. Each demotion removes at least one embedding edge,
    * so the loop terminates; a childless over-budget root (the table's
    * own row exceeds the budget — nothing schema-level can fix that) is
    * reported and left as-is.
    *
    * Pricing runs in rounds: each round prices every root not priced
    * yet — the childless ones too — as ONE batch
    * (`maxDocBytes.prices`, one Spark plan for the audit), then demotes
    * at most one root. A migration whose roots all fit costs one plan;
    * each demotion adds one for the roots it created. Each distinct node
    * is priced at most once per call, and nothing is remembered across
    * calls.
    *
    * Returns the adjusted schema plus the demotion log
    * (root → hoisted children), empty when everything already fits. The
    * returned schema carries its roots' prices
    * ([[DocumentSchema.rootPrices]]), so the build guard
    * ([[graft.map.DataMapper.mapAllGuarded]]) runs no pricing plan of
    * its own for it.
    */
  def enforceDocBudget(
      db: DatabaseMeta,
      schema: DocumentSchema,
      maxDocBytes: DocPricer,
      budgetBytes: Long): (DocumentSchema, Seq[(String, Seq[String])]) = {
    val priced = scala.collection.mutable.HashMap.empty[CollectionNode, Long]
    def referencingNode(n: CollectionNode): CollectionNode =
      n.copy(kind = ConversionKind.Referencing, attributes = db(n.name).referencingFields,
        embeddedAttributesFrom = None, parentFkColumn = None)
    var cur = schema
    val log = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[String])]
    var progress = true
    while (progress) {
      val fresh = cur.roots.filterNot(priced.contains).distinct
      if (fresh.nonEmpty) priced ++= fresh.zip(maxDocBytes.prices(fresh))
      progress = false
      cur.roots.find(r => r.embedded.nonEmpty && priced(r) > budgetBytes)
        .foreach { r =>
          val hoisted = r.embedded.map(referencingNode)
          log += r.name -> hoisted.map(_.name)
          cur = cur.copy(roots =
            cur.roots.map(x => if (x.name == r.name) x.copy(embedded = Seq.empty) else x) ++
              hoisted)
          progress = true
        }
    }
    cur.roots.filter(r => r.embedded.isEmpty && priced(r) > budgetBytes)
      .foreach(r => System.err.println(
        s"[graft] WARNING: root ${r.name} exceeds the $budgetBytes-byte " +
          "document budget with no embedded children to hoist — the table's " +
          "own rows are too large for the target store"))
    (cur.withRootPrices(cur.roots.map(priced)), log.toSeq)
  }
}
