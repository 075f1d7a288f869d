package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.TableMeta

/** The denormalization operators of the data plane (SURVEY.md §2.3).
  *
  * The reference computes every embedding with a driver-side nested loop —
  * one indexed `SELECT ... WHERE fk = ?` round-trip per outer row
  * (server/DBMigration.js:536-548, server/MySQLDBManager.js:284-312).
  * Here each embedding level is exactly one shuffle (the child grouped
  * by its FK into an ordered array of documents, [[nestByKey]]) plus one
  * join, both planned by Catalyst: the child side shuffles on the FK, the parent
  * joins on its PK, and small parents are broadcast automatically. At
  * 100 TB the cost is O(data) with no per-row round trips; the one scale
  * hazard is per-parent array size (a parent with millions of children
  * makes a giant row) — `ObjectHashAggregate` spills the *map* but not a
  * single row, so extreme fan-out keys should be referenced, not embedded
  * (which is exactly what the reference's workload rule tends to decide).
  */
object Embedding {

  /** J1 — one-way embedding join (server/DBMigration.js:264-280 schema,
    * :500-522 data): for each parent row, an array column `childName` of
    * child documents where `child(childFk) == parent(parentKey)`. The
    * child's FK column is dropped (P2, server/DBMigration.js:271-276) and
    * the key is omitted (null) when the array is empty — the reference
    * only sets `document[name]` `if (res.length > 0)`
    * (server/DBMigration.js:515-517); Spark's JSON sink then omits null
    * fields, matching the reference's output byte shape.
    *
    * @param childSortKeys columns (pre-drop) placed first in each
    *   document and in its array order; every other document field
    *   follows in column order ([[nestByKey]]). The reference inherits
    *   source-scan order, which is unspecified — we pin it.
    */
  def oneWayEmbed(
      parent: DataFrame,
      parentKey: String,
      child: DataFrame,
      childFk: String,
      childName: String,
      childSortKeys: Seq[String] = Seq.empty): DataFrame =
    attach(parent, parentKey, nestByKey(child, childFk, childSortKeys, childName),
      childFk, childName)

  /** Reserved grouping-column name: the child's FK-to-parent is renamed
    * to this before the other-parent join, so an other-parent attribute
    * that happens to share the FK's name can survive into the documents
    * (the reference's attribute-matching would populate it —
    * server/DBMigration.js:563-569) without an ambiguous reference.
    */
  private[graft] val ParentFkCol = "__graft_pfk"

  /** J2 — two-way embedding join (server/DBMigration.js:282-317 schema,
    * :524-575 data): junction table `child` has FKs to `parent` (the
    * collection we are nesting under) and `otherParent`. Each embedded
    * document is one `child ⋈ otherParent` match: child attributes minus
    * *both* FK columns, plus the other parent's attributes minus its
    * referenced key column. The fan-out is a genuine inner equi-join
    * (golden collection2.json: salesorder docs under customer carry the
    * shipper's companyName/phone). It is J1 over [[joinOtherParent]]'s
    * rows, grouped by [[ParentFkCol]].
    */
  def twoWayEmbed(
      parent: DataFrame,
      parentKey: String,
      child: DataFrame,
      childFkToParent: String,
      childFkToOther: String,
      otherParent: DataFrame,
      otherKey: String,
      childName: String,
      childSortKeys: Seq[String] = Seq.empty): DataFrame =
    oneWayEmbed(parent, parentKey,
      joinOtherParent(child, childFkToParent, childFkToOther, otherParent, otherKey),
      ParentFkCol, childName, childSortKeys)

  /** The inner `child ⋈ otherParent` half of J2, exposed separately so the
    * document-tree walk ([[graft.map.DocTree.Edge.frame]]) can enrich a
    * child *before* nesting its own embedded children under it. Moves
    * `childFkToParent` to [[ParentFkCol]] (needed for the later
    * group-by), drops `childFkToOther` and the other parent's key.
    *
    * Name collisions (e.g. orderdetail.unitPrice vs product.unitPrice in
    * the Northwind demo) resolve to the OTHER PARENT's value: the
    * reference assigns `doc[attribute] = embeddedData[columnName]` over
    * the already-populated child document, overwriting the child's field
    * (server/DBMigration.js:563-569).
    */
  def joinOtherParent(
      child: DataFrame,
      childFkToParent: String,
      childFkToOther: String,
      otherParent: DataFrame,
      otherKey: String): DataFrame = {
    // The FK to the nesting parent moves to the reserved grouping name
    // first, so even an other-parent column named like that FK joins in
    // cleanly (it becomes a plain document attribute).
    val childP = child.withColumnRenamed(childFkToParent, ParentFkCol)
    val other = otherParent.withColumnRenamed(otherKey, "__graft_other_key")
    val collisions = childP.columns.toSet
      .intersect(other.columns.toSet) - ParentFkCol - childFkToOther
    val childSafe = collisions.foldLeft(childP)((d, c) =>
      d.withColumnRenamed(c, s"__graft_dup_$c"))
    childSafe
      .join(other, childSafe(childFkToOther) === other("__graft_other_key"), "inner")
      .drop(childFkToOther, "__graft_other_key")
      .drop(collisions.map(c => s"__graft_dup_$c").toSeq: _*)
  }

  /** The document fields of `child` grouped by `key`, in document
    * order: the `sortKeys` present first, then every other field in
    * column order. Arrays are ordered by ALL of them, keys first — the
    * same total order the round-1 `array_sort` over the whole struct
    * gave. Sorting only by the caller's keys would leave ties in
    * shuffle-arrival order (Spark's sort is not stable) whenever a key
    * is not unique per group, and empty keys order by every field;
    * trailing fields cost comparator time only on ties. The field order
    * is part of the document contract established in round 1 (and what
    * the JSON sink emits), independent of how ordering is achieved.
    */
  private def docOrder(child: DataFrame, key: String, sortKeys: Seq[String]): Seq[String] = {
    val attrs = child.columns.toSeq.filterNot(_ == key)
    val keys = sortKeys.filter(attrs.contains)
    keys ++ attrs.filterNot(keys.contains)
  }

  /** The nesting aggregate of J1/J2: group child rows by `key` into an
    * array of structs in [[docOrder]] — executed by the custom
    * order-preserving operator [[graft.plans.NestCollect]] (one
    * clustering exchange + one narrow-key local sort + a single
    * streaming pass; see its Scaladoc for why neither
    * `array_sort(collect_list)` nor sort-before-`collect_list` survives
    * at scale). Null keys drop before nesting: the embedding joins on
    * the key, so a null-keyed group never matches, and nested rows whose
    * key is known non-null need no null filter — a whole-row copy stage
    * — between the nesting and the join.
    */
  private def nestByKey(
      child: DataFrame,
      key: String,
      sortKeys: Seq[String],
      outName: String): DataFrame = {
    val ordered = docOrder(child, key, sortKeys)
    graft.plans.NestCollect.nest(
      child.filter(col(key).isNotNull), key, ordered, ordered, outName)
  }

  /** The tail every embedding shares: left-join the nested arrays to the
    * parent on its key, drop the child's key and omit empty arrays. */
  private def attach(parent: DataFrame, parentKey: String, nested: DataFrame,
      key: String, childName: String): DataFrame =
    parent
      .join(nested, parent(parentKey) === nested(key), "left")
      .drop(nested(key))
      .withColumn(childName, emptyToNull(col(childName)))

  /** Empty embedded array → null, so the JSON sink omits the key
    * (reference: `if (res.length > 0)` — server/DBMigration.js:515-517).
    */
  private def emptyToNull(c: Column): Column = when(size(c) > 0, c)

  /** Skew-aware variant of the J1 nesting shuffle for the 100 TB path:
    * a parent with millions of children turns the plain nesting reduce
    * task into a straggler (the hot key lands on ONE reducer). This
    * salts the child rows into `salts` sub-groups by a hash of their
    * document fields, builds a PRE-SORTED chunk per (fk, salt) with
    * [[graft.plans.NestCollect]] (the same narrow-key Tungsten sort +
    * streaming cut as the normal path — no wide-struct comparator), then
    * merges the k sorted chunks per parent with
    * [[graft.functions.MergeSortedArrays]] in a second, `salts`-times-
    * smaller shuffle: O(m·log k) comparator calls instead of the
    * O(m·log m) full `array_sort(flatten(...))` re-sort. Output is
    * identical to [[oneWayEmbed]] (same [[docOrder]], same tail); the
    * giant final row still exists — that is inherent to the reference's
    * document model — but no single shuffle task is hot and no
    * full-array re-sort runs.
    */
  def oneWayEmbedSalted(
      parent: DataFrame,
      parentKey: String,
      child: DataFrame,
      childFk: String,
      childName: String,
      childSortKeys: Seq[String],
      salts: Int = 16): DataFrame = {
    val ordered = docOrder(child, childFk, childSortKeys)
    val salted = child
      .withColumn("__salt", pmod(hash(ordered.map(col): _*), lit(salts)))
    val chunked = graft.plans.NestCollect
      .nestMulti(salted, Seq(childFk, "__salt"), ordered, ordered, "__chunk")
      .groupBy(col(childFk))
      .agg(collect_list(col("__chunk")).as("__chunks"))
      .select(col(childFk),
        graft.functions.MergeSortedArrays.merge_sorted_arrays(col("__chunks"))
          .as(childName))
    attach(parent, parentKey, chunked, childFk, childName)
  }

  /** Auto-salting J1: picks between [[oneWayEmbed]] and
    * [[oneWayEmbedSalted]] from a SAMPLED per-key fan-out estimate, so
    * the 100 TB caller does not need to know ahead of time whether the
    * corpus hides a hot parent. The pre-pass samples `sampleFraction`
    * of the child, counts per FK, and extrapolates the max
    * (`max_sampled / fraction`); at or above `hotFanout` estimated
    * children-per-parent the salted two-phase merge plan is chosen.
    * Both plans produce byte-identical output (q15 ≡ q13 oracle), so
    * the sampled decision affects execution strategy only — a borderline
    * misestimate costs performance, never correctness.
    *
    * The estimate is one aggregation over the sample collapsing to a
    * single driver-side scalar (control-plane, SURVEY §1.3) — at
    * fraction 1e-3 the pre-pass reads 0.1% of the child and its
    * shuffle carries one row per sampled-distinct key. A key must
    * appear ≥ 2/fraction times in expectation to clear a
    * `hotFanout` ≥ 2/fraction threshold, so genuinely hot keys
    * (millions of children) are found with near-certainty; keys near
    * the threshold flip by sampling luck, which the identical-output
    * contract makes safe.
    */
  def oneWayEmbedAuto(
      parent: DataFrame,
      parentKey: String,
      child: DataFrame,
      childFk: String,
      childName: String,
      childSortKeys: Seq[String],
      hotFanout: Long = 1000000L,
      sampleFraction: Double = 0.001,
      salts: Int = 16): DataFrame = {
    require(hotFanout >= 1, "hotFanout must be >= 1")
    if (estimateMaxFanout(child, childFk, sampleFraction) >= hotFanout)
      oneWayEmbedSalted(parent, parentKey, child, childFk, childName,
        childSortKeys, salts)
    else
      oneWayEmbed(parent, parentKey, child, childFk, childName, childSortKeys)
  }

  /** Sampled children-per-parent maximum: `max over sampled keys of
    * count / fraction`, 0 for an empty (or fully NULL-keyed) sample.
    * Deterministic seed so repeated planning decisions agree on the
    * same data layout.
    */
  private[graft] def estimateMaxFanout(
      child: DataFrame, childFk: String, fraction: Double): Long = {
    require(fraction > 0 && fraction <= 1, "fraction must be in (0, 1]")
    val sampled =
      if (fraction >= 1.0) child
      else child.sample(withReplacement = false, fraction, seed = 42L)
    val m = sampled.filter(col(childFk).isNotNull)
      .groupBy(col(childFk)).agg(count(lit(1)).as("__c"))
      .agg(max(col("__c"))).head()
    if (m.isNullAt(0)) 0L else math.round(m.getLong(0) / fraction)
  }

  /** P3 — a referencing collection's rows: every FK column `c` renamed
    * to its referencing field ([[graft.model.TableMeta.refField]]),
    * values unchanged.
    */
  def renameFkRefs(df: DataFrame, fkColumns: Seq[String]): DataFrame =
    fkColumns.foldLeft(df)((d, c) => d.withColumnRenamed(c, TableMeta.refField(c)))
}
