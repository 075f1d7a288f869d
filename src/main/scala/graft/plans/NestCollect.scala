package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

/** Order-preserving grouped nesting (`group rows by FK into a sorted
  * array of structs`) as a first-class operator — the core aggregate of
  * the document data plane ([[graft.operators.Embedding]], SURVEY.md
  * §2.3/§3.3).
  *
  * Why not `collect_list`: the embedded-array contract requires a
  * *deterministic child order* (the reference inherits scan order, which
  * we pin to the child's PK). The builtin routes all fail one leg of
  * correctness-at-scale:
  *   - `array_sort(collect_list(struct))` is correct but pays an
  *     O(m log m) struct comparator per parent after collection (the
  *     round-1 plan — 15 s of a 58 s bench at sf0.1).
  *   - sort-before-collect (`repartition(fk).sortWithinPartitions` +
  *     `collect_list`) is fast but **silently wrong under memory
  *     pressure**: `ObjectHashAggregateExec` falls back to sort-based
  *     aggregation after `spark.sql.objectHashAggregate.sortBased.
  *     fallbackThreshold` (default 128) distinct keys per partition, and
  *     the fallback merges the spilled hash-map buffers with the
  *     re-sorted remaining rows in non-stable order — a group split
  *     across the fallback boundary comes out misordered. Observed in
  *     practice at sf0.001 (150 grouped keys in one coalesced
  *     partition).
  *
  * This operator instead *declares* its distribution to the planner —
  * `requiredChildDistribution` = cluster by FK (one exchange, same as
  * the aggregate) — sorts each partition by (FK, sortKeys) itself (one
  * local Tungsten sort, the FK as its key prefix), and then streams the
  * partition in a single pass, cutting an array at every FK boundary.
  * No hash map, no fallback path, no comparator over the collected
  * structs; order is guaranteed by the operator contract rather than
  * by unspecified aggregate-iteration behavior. Memory is bounded by
  * the largest single group (inherent to materializing a document
  * array — the skew escape hatch is
  * [[graft.operators.Embedding.oneWayEmbedSalted]]).
  */
case class NestCollect(
    groupBy: Seq[Expression],
    sortOrder: Seq[SortOrder],
    // names and exprs as parallel Seqs, NOT Seq[(String, Expression)]:
    // QueryPlan's expression discovery does not look inside tuples, and
    // an invisible expression never gets rewritten by rules like
    // DeduplicateRelations — leaving stale attribute refs (observed on
    // a same-parent junction embed, where dedup re-aliases one side)
    docNames: Seq[String],
    docExprs: Seq[Expression],
    outName: String,
    child: LogicalPlan,
    // constructor parameter, not a body val: plan transforms copy() the
    // node and a body-initialized attribute would mint a fresh exprId,
    // orphaning downstream references to the array column
    outAttr: AttributeReference) extends UnaryNode {
  override def output: Seq[Attribute] =
    groupBy.map(_.asInstanceOf[Attribute]) :+ outAttr
  override def producedAttributes: AttributeSet = AttributeSet(outAttr :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): NestCollect =
    copy(child = newChild)
}

case class NestCollectExec(
    groupBy: Seq[Expression],
    sortOrder: Seq[SortOrder],
    docExprs: Seq[Expression],
    outAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    groupBy.map(_.asInstanceOf[Attribute]) :+ outAttr
  override def producedAttributes: AttributeSet = AttributeSet(outAttr :: Nil)

  // One clustering exchange (the same one the aggregate form needs)...
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupBy) :: Nil

  // group-local operator: the clustering stays visible downstream (the
  // parent join on the FK must not re-shuffle this side), as does the
  // per-partition key order
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = groupBy.map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    // capture only serializable locals — a `this` reference in the
    // closure would drag the whole plan subtree into every task binary
    val groupByLocal = groupBy
    val docExprsLocal = docExprs
    val schema = child.output
    val numOut = groupByLocal.size + 1
    val outType = outAttr.dataType
    // ...plus a local sort on (fk, sortKeys): the Tungsten sorter, run
    // here rather than as a planned `Sort` — a planned one is a
    // whole-stage-codegen stage of its own, one more generated class
    // per nesting level for a loop that only hands the sorter's rows on.
    val sorted = SortExec(groupBy.map(SortOrder(_, Ascending)) ++ sortOrder,
      global = false, child).execute()
    sorted.mapPartitions({ rows =>
      val keyProj = UnsafeProjection.create(groupByLocal, schema)
      val docProj = UnsafeProjection.create(docExprsLocal, schema)
      val resultProj = UnsafeProjection.create(
        groupByLocal.map(_.dataType).toArray :+ outType)
      new Iterator[InternalRow] {
        private var curKey: UnsafeRow = _
        private val docs = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        private var pending: InternalRow = _

        private def emit(): InternalRow = {
          val out = new GenericInternalRow(numOut)
          var i = 0
          while (i < curKey.numFields) {
            out.update(i, curKey.get(i, groupByLocal(i).dataType)); i += 1
          }
          out.update(numOut - 1, new GenericArrayData(docs.toArray[Any]))
          docs.clear()
          resultProj(out)
        }

        override def hasNext: Boolean = pending != null || advance()

        private def advance(): Boolean = {
          while (rows.hasNext) {
            val row = rows.next()
            val k = keyProj(row)
            if (curKey == null) curKey = k.copy()
            else if (k != curKey) {
              pending = emit()
              curKey = k.copy()
              docs += docProj(row).copy()
              return true
            }
            docs += docProj(row).copy()
          }
          if (curKey != null && docs.nonEmpty) { pending = emit(); curKey = null; true }
          else false
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = pending; pending = null; r
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): NestCollectExec =
    copy(child = newChild)
}

object NestCollect {

  /** Strategy planning the logical node (registered per session on first
    * use, same mechanism as [[TopKPerGroup.Strategy]]).
    */
  object Strategy extends org.apache.spark.sql.execution.SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case NestCollect(g, o, _, exprs, _, child, outAttr) =>
        NestCollectExec(g, o, exprs, outAttr, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** API surface: nest `child` rows under `key` as an array column
    * `outName` of structs over `attrs`, each group's array ordered by
    * `sortKeys` (must be a per-group total order for deterministic
    * output). Output columns: (`key`, `outName`).
    */
  def nest(
      child: DataFrame,
      key: String,
      attrs: Seq[String],
      sortKeys: Seq[String],
      outName: String): DataFrame =
    nestMulti(child, Seq(key), attrs, sortKeys, outName)

  /** [[nest]] with a composite grouping key — used by the salted hot-key
    * embedding to build per-(fk, salt) pre-sorted chunks. Output columns:
    * (`keys`…, `outName`).
    */
  def nestMulti(
      child: DataFrame,
      keys: Seq[String],
      attrs: Seq[String],
      sortKeys: Seq[String],
      outName: String): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key is required")
    require(attrs.nonEmpty, "at least one doc attribute is required")
    require(sortKeys.nonEmpty, "sort keys are required (deterministic array order)")
    val spark = child.sparkSession
    graft.plans.Strategies.register(spark, Strategy)
    val plan = GraftSqlBridge.analyzedPlan(child)
    def attr(n: String): Attribute = plan.output.filter(_.name == n) match {
      case Seq(a) => a
      case Seq() => plan.output.filter(_.name.equalsIgnoreCase(n)) match {
        case Seq(a) => a
        case Seq() => throw new IllegalArgumentException(
          s"no column $n in ${plan.output.map(_.name).mkString(", ")}")
        case many => throw new IllegalArgumentException(
          s"ambiguous column $n: ${many.map(_.name).mkString(", ")}")
      }
      case many => throw new IllegalArgumentException(
        s"ambiguous column $n: ${many.size} columns share the name")
    }
    val docExprs = attrs.map(a => attr(a): Expression)
    val elemType = StructType(attrs.zip(docExprs).map { case (n, e) =>
      StructField(n, e.dataType, e.nullable)
    })
    val outAttr = AttributeReference(
      outName, ArrayType(elemType, containsNull = false), nullable = false)()
    val sortOrders = sortKeys.map(k => SortOrder(attr(k), Ascending))
    GraftSqlBridge.ofRows(spark,
      NestCollect(keys.map(attr(_)), sortOrders, attrs, docExprs, outName, plan, outAttr))
  }
}
