package graft.map

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model._
import graft.sources.Tables

/** x70 — document-size pre-flight audit: estimate the serialized size of
  * every root document a converted [[DocumentSchema]] would build,
  * WITHOUT building anything.
  *
  * Why this operator exists: the reference's target store rejects
  * documents over 16 MB (MongoDB's BSON document limit; the reference
  * serializes whole root arrays — server/WriteToFile.js:5-25 — so an
  * oversized root is a hard downstream failure), and the nested build
  * itself hits the same wall first: the measured 100× region tree
  * aggregates ~300 MB single-task rows and OOMs after 281 s (HEADROOM
  * r10, `q24_maproot_write`). Both failures are *discovered* only after
  * paying the full build. This audit computes the per-root byte estimate
  * with the build's own shuffle keys but none of its payload: each tree
  * level is a `groupBy(fk).agg(sum(bytes))` + one join carrying ONE long
  * per key where the build carries the entire child subtree — so the
  * pre-flight costs a small constant fraction of the build it guards and
  * cannot itself hit the wall (no `collect_list`, no array rows; gated
  * in DocSizeAuditSpec).
  *
  * Byte model ("estimated BSON bytes", constants documented inline):
  * BSON because the 16 MB limit is a BSON limit. Per document: 5 bytes
  * frame (int32 length + terminator). Per field: 2 + utf8(name) (type
  * byte + name cstring) plus a value cost of 0 for NULL, octet_length+5
  * for strings/binary (int32 length + bytes + NUL), 1 for booleans, 4
  * for int32/float32, 8 for int64/double/date/timestamp, 16 for
  * decimals. An embedded array of n child documents costs
  * 7 + utf8(arrayName) (element header + array frame) + Σ(4 + childDoc)
  * — 4 is a fixed per-element overhead (type byte + short index
  * cstring; exact BSON grows with index digit count, so estimates read
  * ~2–6 bytes/element low on million-element arrays — callers keep
  * headroom in the budget, and [[DocSizeAudit.MongoDocLimit]] already
  * sits at the hard ceiling). An EMPTY child array costs 0: the build
  * omits the key entirely (`Embedding.emptyToNull` + JSON-sink
  * omission, reference server/DBMigration.js:515-517).
  *
  * The tree's edges, the child frames and their group columns come from
  * [[DocTree]], the same resolution the build uses, so the audit prices
  * the documents [[DataMapper]] makes.
  *
  * Scale shape: one aggregate + one join per tree edge, shuffling
  * (key, long) pairs; at 100 TB each level partitions by the same FK the
  * build would use, with map-side partial sums. The estimate is exact
  * under the model (no sampling), so the guard's decision is
  * deterministic.
  *
  * Pricing plan: [[maxDocBytes]] prices a batch of roots in ONE plan:
  * each root's per-document estimate carries an observed `max` (an
  * [[org.apache.spark.sql.Observation]], accumulated inside the
  * estimate's own last stage), and one no-op write drains the union of
  * the estimates. A batch of n roots is one plan, not n, with no
  * shuffle or stage for the maxima; a single root is a batch of one.
  */
class DocSizeAudit(
    spark: SparkSession,
    sfDir: String,
    db: DatabaseMeta,
    loader: (SparkSession, String, String) => DataFrame = Tables.load) {

  import DocSizeAudit._

  private def load(table: String): DataFrame = loader(spark, sfDir, table)

  /** Per-document estimate for one root: the root table's primary-key
    * columns (original names, even for Referencing roots whose FK-PK
    * columns the build stores in the referencing shape) plus
    * `est_doc_bytes`.
    */
  def estimateRoot(root: CollectionNode): DataFrame = {
    val meta = db(root.name)
    // the build's field names: a Referencing root's FK columns serialize
    // as `c_REF` (4 extra name bytes each)
    val field: String => String =
      if (root.kind == ConversionKind.Referencing) meta.referencingField else identity
    annotate(DocTree.rootFrame(db, root, load), root, excluded = Set.empty)
      .select(meta.primaryKeys.map(pk => col(field(pk)).as(pk)) :+
        col(DocBytesCol).as("est_doc_bytes"): _*)
  }

  /** Largest estimated document of each root tree (0 for an empty root
    * table) — the scalar the budget guards compare. `maxDocBytes(root)`
    * prices one root; `maxDocBytes.prices(roots)` prices a batch in one
    * plan (class Scaladoc). Nothing is remembered between calls.
    */
  val maxDocBytes: DocPricer = new DocPricer {
    def apply(root: CollectionNode): Long = prices(Seq(root)).head
    override def prices(roots: Seq[CollectionNode]): Seq[Long] =
      if (roots.isEmpty) Seq.empty
      else {
        val maxes = roots.map(_ => Observation())
        roots.zip(maxes).map { case (r, m) =>
          estimateRoot(r).select(col("est_doc_bytes"))
            .observe(m, max(col("est_doc_bytes")).as("max"))
        }.reduce(_ union _).write.format("noop").mode("overwrite").save()
        maxes.map(m => Option(m.get("max")).fold(0L)(_.asInstanceOf[Long]))
      }
  }

  /** Whole-schema audit: one row per root collection —
    * (collection, n_docs, max_doc_bytes, n_over_budget).
    */
  def summary(schema: DocumentSchema, budgetBytes: Long = MongoDocLimit): DataFrame =
    schema.roots.map { r =>
      estimateRoot(r)
        .agg(
          count(lit(1)).as("n_docs"),
          coalesce(max(col("est_doc_bytes")), lit(0L)).as("max_doc_bytes"),
          coalesce(sum(when(col("est_doc_bytes") > budgetBytes, 1L).otherwise(0L)),
            lit(0L)).as("n_over_budget"))
        .select(lit(r.name).as("collection"), col("n_docs"),
          col("max_doc_bytes"), col("n_over_budget"))
    }.reduce(_ unionByName _)

  /** Add [[DocBytesCol]] = full per-row document bytes (own fields plus
    * all embedded subtrees), folding each [[DocTree]] edge into a byte
    * sum where [[DataMapper]] folds it into an array. `excluded` names
    * columns that are NOT part of the document at this level (the
    * group-by FK the build drops).
    */
  private def annotate(df: DataFrame, node: CollectionNode, excluded: Set[String]): DataFrame = {
    var cur = df
    val contribCols = DocTree.edges(db, node).zipWithIndex.map { case (e, i) =>
      val contribName = s"__graft_contrib_$i"
      val contrib = annotate(e.frame(load), e.child, Set(e.groupCol))
        .groupBy(col(e.groupCol).as("__graft_ck"))
        .agg((lit(7L + utf8Len(e.child.name)) +
          sum(lit(4L) + col(DocBytesCol))).as(contribName))
      cur = cur
        .join(contrib, cur(e.parentKey) === contrib("__graft_ck"), "left")
        .drop("__graft_ck")
      contribName
    }
    val ownCols = cur.schema.fields.filter(f =>
      !excluded.contains(f.name) && !f.name.startsWith("__graft_"))
    val own = ownCols.map(f => fieldBytes(f.name, f.dataType))
      .foldLeft(lit(5L): Column)(_ + _)
    val total = contribCols.foldLeft(own)((acc, c) => acc + coalesce(col(c), lit(0L)))
    cur.withColumn(DocBytesCol, total).drop(contribCols: _*)
  }

  /** One field's cost under the byte model (see class Scaladoc). */
  private def fieldBytes(name: String, dt: DataType): Column = {
    val nameCost = lit(2L + utf8Len(name))
    val valCost: Column = dt match {
      case StringType | BinaryType =>
        when(col(name).isNull, lit(0L))
          .otherwise(octet_length(col(name)).cast("long") + lit(5L))
      case BooleanType => when(col(name).isNull, lit(0L)).otherwise(lit(1L))
      case ByteType | ShortType | IntegerType | FloatType =>
        when(col(name).isNull, lit(0L)).otherwise(lit(4L))
      case LongType | DoubleType | TimestampType | TimestampNTZType | DateType =>
        when(col(name).isNull, lit(0L)).otherwise(lit(8L))
      case _: DecimalType => when(col(name).isNull, lit(0L)).otherwise(lit(16L))
      case other => throw new IllegalArgumentException(
        s"DocSizeAudit: unsupported source column type $other for column $name")
    }
    nameCost + valCost
  }
}

object DocSizeAudit {

  /** MongoDB's hard per-document BSON limit — the default budget. */
  val MongoDocLimit: Long = 16L * 1024 * 1024

  private[map] val DocBytesCol = "__graft_doc_bytes"

  private[map] def utf8Len(s: String): Long =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
}
