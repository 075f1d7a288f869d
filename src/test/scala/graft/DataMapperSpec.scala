package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.queries.MigrationPipeline

/** End-to-end migration pipeline shape on the fixture star schema. */
class DataMapperSpec extends SparkSpec {

  test("converted tree: region→nation→{customer→orders, supplier}; lineitem referencing; part root") {
    val (_, schema) = MigrationPipeline.converted(spark, sf)
    val region = schema.roots.find(_.name == "region").get
    assert(region.embedded.map(_.name) === Seq("nation"))
    val nation = region.embedded.head
    assert(nation.embedded.map(_.name).sorted === Seq("customer", "supplier"))
    assert(nation.find("orders").isDefined, "orders nested under customer")
    assert(schema.roots.map(_.name).toSet === Set("region", "part", "lineitem"))
  }

  test("nested region documents have 4 levels and conserve row counts") {
    val nested = MigrationPipeline.mapRoot(spark, sf, "region")
    assert(nested.count() === 5)
    // total customers across all nests == customer table size
    val nCust = nested.select(explode(col("nation")).as("n"))
      .select(explode(col("n.customer")).as("c")).count()
    assert(nCust === graft.sources.Tables.load(spark, sf, "customer").count())
    // total orders across all nests == orders table size
    val nOrders = nested.select(explode(col("nation")).as("n"))
      .select(explode(col("n.customer")).as("c"))
      .select(explode(col("c.orders")).as("o")).count()
    assert(nOrders === graft.sources.Tables.load(spark, sf, "orders").count())
    // FK elision: embedded nation docs carry no n_regionkey
    val nationFields = nested.schema("nation").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    assert(!nationFields.contains("n_regionkey"))
    assert(nationFields.contains("customer") && nationFields.contains("supplier"))
  }

  test("profile advisories: thresholds, role gating, and kind attribution") {
    // controlled stats frame exercising every advisory arm and both
    // boundary sides of each integer-arithmetic threshold
    val sess = spark; import sess.implicits._
    val stats = Seq(
      // near-unique null-free non-key: 95/100 exactly AT threshold → flags
      ("t", "at_threshold", 100L, 0L, 95L),
      // one under threshold → silent
      ("t", "under_threshold", 100L, 0L, 94L),
      // near-unique but a single null → silent (key candidates are null-free)
      ("t", "unique_with_null", 100L, 1L, 99L),
      // near-unique but PK → silent (already a key)
      ("t", "pk_col", 100L, 0L, 100L),
      // near-unique but FK → silent
      ("t", "fk_unique", 100L, 0L, 100L),
      // one distinct value → constant_fold
      ("t", "const_col", 100L, 0L, 1L),
      // FK null in 51/100 rows → null_heavy_fk (50/100 must NOT flag)
      ("t", "fk_half_null", 100L, 51L, 7L),
      ("t", "fk_exactly_half", 100L, 50L, 7L),
      // all-null column: distinct_est 0 → constant_fold fires (0 <= 1)
      ("t2", "all_null", 10L, 10L, 0L))
      .toDF("table_name", "col_name", "n_rows", "n_nulls", "n_distinct_est")
    val roles = Seq(
      ("t", "at_threshold", false, false), ("t", "under_threshold", false, false),
      ("t", "unique_with_null", false, false), ("t", "pk_col", true, false),
      ("t", "fk_unique", false, true), ("t", "const_col", false, false),
      ("t", "fk_half_null", false, true), ("t", "fk_exactly_half", false, true),
      ("t2", "all_null", false, false))
      .toDF("table_name", "col_name", "is_pk", "is_fk")
    // t2 deliberately absent from kinds: the left join must yield NULL
    val kinds = Seq(("t", "referencing")).toDF("table_name", "kind")
    val out = MigrationPipeline.advisoriesFrom(stats, roles, kinds)
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(out === Set(
      ("at_threshold", "key_candidate"),
      ("const_col", "constant_fold"),
      ("fk_half_null", "null_heavy_fk"),
      ("all_null", "constant_fold")), s"unexpected advisory set: $out")
    val t2kind = MigrationPipeline.advisoriesFrom(stats, roles, kinds)
      .filter(col("table_name") === "t2").select("kind").first()
    assert(t2kind.isNullAt(0), "missing decision kind must surface as NULL")
  }

  test("profile advisories on the fixture: key candidates only, schema stable") {
    val out = MigrationPipeline.profileAdvisories(spark, sf)
    assert(out.columns.toSeq === Seq("table_name", "col_name", "advisory",
      "kind", "n_rows", "n_nulls", "n_distinct_est"))
    val rows = out.collect()
    assert(rows.nonEmpty, "fixture should surface at least one advisory")
    // the synthetic fixture has no null FKs and no constant columns
    assert(rows.forall(_.getString(2) == "key_candidate"),
      s"unexpected advisories: ${rows.mkString(";")}")
    // a key candidate is by definition not a declared PK or FK column
    val pkFk = Set("r_regionkey", "n_nationkey", "n_regionkey", "c_custkey",
      "c_nationkey", "s_suppkey", "s_nationkey", "p_partkey", "o_orderkey",
      "o_custkey", "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    assert(rows.forall(r => !pkFk.contains(r.getString(1))),
      "declared key columns must never surface as key candidates")
  }

  test("template folding: constants fold, structural columns never do, " +
    "_REF and two-way inlines resolve to their source columns") {
    import graft.model._
    val p = TableMeta("p", 10L, Seq("id", "status", "note"), Seq("id"),
      Seq.empty, isReferenced = true, referencingTables = Seq("ch", "j"))
    val b = TableMeta("b", 10L, Seq("id", "bname"), Seq("id"),
      Seq.empty, isReferenced = true, referencingTables = Seq("j"))
    val ch = TableMeta("ch", 20L, Seq("cid", "p_id", "v"), Seq("cid"),
      Seq(ForeignKeyMeta("p_id", "p", "id")), isReferenced = false,
      referencingTables = Seq.empty)
    val r = TableMeta("r", 20L, Seq("rid", "x", "y"), Seq("rid"),
      Seq(ForeignKeyMeta("x", "p", "id")), isReferenced = false,
      referencingTables = Seq.empty)
    val j = TableMeta("j", 30L, Seq("jid", "a_id", "b_id"), Seq("jid"),
      Seq(ForeignKeyMeta("a_id", "p", "id"), ForeignKeyMeta("b_id", "b", "id")),
      isReferenced = false, referencingTables = Seq.empty)
    val db = DatabaseMeta("t", Seq(p, b, ch, r, j))
    val schema = DocumentSchema("t", Seq(
      CollectionNode("p", Seq("id", "status", "note"), ConversionKind.Root,
        embedded = Seq(
          CollectionNode("ch", Seq("cid", "v"), ConversionKind.OneWayEmbedded,
            parentFkColumn = Some("p_id")),
          CollectionNode("j", Seq("jid", "bname"), ConversionKind.TwoWayEmbedded,
            embeddedAttributesFrom = Some("b"),
            parentFkColumn = Some("a_id")))),
      CollectionNode("r", Seq("rid", "x_REF", "y"), ConversionKind.Referencing)))
    // constants: a PK (never folds), an FK (never folds), and three
    // genuinely foldable columns across own / _REF-table / inlined-other
    val consts = Set(("p", "id"), ("p", "status"), ("ch", "p_id"),
      ("r", "x"), ("r", "y"), ("b", "bname"))
    val out = MigrationPipeline.templateFoldedFrom(db, schema, consts)
    val byKey = out.map(t => (t._1, t._3) -> ((t._4, t._5, t._6))).toMap
    assert(byKey(("p", "id")) === (("p", "id", "field")),
      "a constant PK must never fold")
    assert(byKey(("p", "status")) === (("p", "status", "folded_constant")))
    assert(byKey(("p", "note")) === (("p", "note", "field")))
    assert(byKey(("r", "x_REF")) === (("r", "x", "field")),
      "_REF resolves to its FK source and never folds (structural)")
    assert(byKey(("r", "y")) === (("r", "y", "folded_constant")))
    assert(byKey(("j", "bname")) === (("b", "bname", "folded_constant")),
      "two-way inlined attribute resolves to the OTHER parent's column")
    assert(byKey(("j", "jid")) === (("j", "jid", "field")))
  }

  test("document keys: single PK wins, composite asks the advisory " +
    "(max estimate, ties to first name), no candidate leaves composite") {
    import graft.model._
    def tm(name: String, pks: Seq[String], cols: Seq[String]) =
      TableMeta(name, 10L, cols, pks, Seq.empty, isReferenced = false,
        referencingTables = Seq.empty)
    val db = DatabaseMeta("t", Seq(
      tm("single", Seq("sk"), Seq("sk", "u")),
      tm("comp", Seq("k1", "k2"), Seq("k1", "k2", "u1", "u2", "u3")),
      tm("bare", Seq("b1", "b2"), Seq("b1", "b2", "w")),
      tm("keyless", Seq.empty, Seq("z"))))
    val schema = DocumentSchema("t", Seq(
      CollectionNode("single", Seq("sk", "u"), ConversionKind.Root),
      CollectionNode("comp", Seq("k1", "k2", "u1", "u2", "u3"), ConversionKind.Root),
      CollectionNode("bare", Seq("b1", "b2", "w"), ConversionKind.Root),
      CollectionNode("keyless", Seq("z"), ConversionKind.Root)))
    val cands = Seq(
      ("single", "u", 10L),          // ignored: a single PK always wins
      ("comp", "u1", 9L), ("comp", "u3", 10L), ("comp", "u2", 10L))
    val m = MigrationPipeline.documentKeysFrom(db, schema, cands)
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(m("single") === (("pk", "sk", false)))
    assert(m("comp") === (("advisory", "u2", true)),
      "tie at est=10 between u2/u3 must break to the first column name")
    assert(m("bare") === (("composite", "b1,b2", false)))
    assert(m("keyless") === (("none", "", false)))
  }

  test("advisory wirings on the fixture: no constants fold, the profile " +
    "scan is shared across consumers (memoized once)") {
    val folded = MigrationPipeline.templateFolded(spark, sf)
    val rows = folded.collect()
    assert(rows.length === 33, s"fixture tree has 33 fields, got ${rows.length}")
    assert(rows.forall(_.getString(5) == "field"),
      "the synthetic fixture has no constant columns")
    // lineitem's _REF attributes resolve to their FK source columns
    assert(rows.exists(r => r.getString(0) == "lineitem" &&
      r.getString(2) == "l_orderkey_REF" && r.getString(4) == "l_orderkey"))
    val keys = MigrationPipeline.documentKeys(spark, sf)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(keys("region") === "pk" && keys("orders") === "pk")
    assert(Set("advisory", "composite").contains(keys("lineitem")),
      "the composite-key table's outcome is decided by the data")
    // the memoized profile frame: a second advisory consumer registers
    // no new internal cache entry (round-12 advice item 7)
    val lc = graft.tools.InternalCaches.liveCount(spark)
    MigrationPipeline.decisionsAdvised(spark, sf).count()
    assert(graft.tools.InternalCaches.liveCount(spark) === lc,
      "x97 must reuse the profile scan templateFolded already registered")
  }

  test("a junction whose PK columns are all FKs nests its arrays sorted by " +
      "their document fields, whatever the input partitioning") {
    import graft.model._
    import spark.implicits._
    // employeeterritory's shape: the PK is its two FKs, so after the
    // two-way join no PK column survives into the embedded documents
    def tm(name: String, cols: Seq[String], pks: Seq[String], fks: Seq[ForeignKeyMeta]) =
      TableMeta(name, 4L, cols, pks, fks, isReferenced = fks.isEmpty,
        referencingTables = if (fks.isEmpty) Seq("et") else Seq.empty)
    val db = DatabaseMeta("t", Seq(
      tm("employee", Seq("employeeId", "lastname"), Seq("employeeId"), Seq.empty),
      tm("territory", Seq("territoryId", "tname"), Seq("territoryId"), Seq.empty),
      tm("et", Seq("employeeId", "territoryId"), Seq("employeeId", "territoryId"),
        Seq(ForeignKeyMeta("employeeId", "employee", "employeeId"),
          ForeignKeyMeta("territoryId", "territory", "territoryId")))))
    val territory = graft.convert.SchemaConverter.convert(db)
      .roots.find(_.name == "territory").get
    assert(territory.embedded.map(_.name) === Seq("et"))
    val employee = Seq((1, "c"), (2, "a"), (3, "d"), (4, "b")).toDF("employeeId", "lastname")
    val terr = Seq((1, "north"), (2, "south")).toDF("territoryId", "tname")
    // four employees under territory 1, fed from ONE partition in
    // descending document order, and the same rows spread over three
    val desc = Seq((3, 1), (1, 1), (4, 1), (2, 1), (2, 2)).toDF("employeeId", "territoryId")
      .coalesce(1)
    val spread = desc.repartition(3, col("employeeId"))
    def json(et: org.apache.spark.sql.DataFrame): Seq[String] = {
      val dfs = Map("employee" -> employee, "territory" -> terr, "et" -> et)
      new graft.map.DataMapper(spark, "", db, (_, _, n) => dfs(n)).mapRoot(territory)
        .orderBy("territoryId").toJSON.collect().toSeq
    }
    val a = json(desc)
    assert(a.head === """{"territoryId":1,"tname":"north","et":[""" +
      """{"lastname":"a"},{"lastname":"b"},{"lastname":"c"},{"lastname":"d"}]}""")
    assert(json(spread) === a, "partitioning must not change the documents")
  }

  test("date-normalizing parity loader formats temporal columns as Bangkok dates") {
    val (db, schema) = MigrationPipeline.converted(spark, sf)
    val mapper = new graft.map.DataMapper(spark, sf, db,
      graft.sinks.JsonSink.normalizingLoader(graft.sources.Tables.load))
    val li = mapper.mapRoot(schema.roots.find(_.name == "lineitem").get)
    val v = li.select("l_shipdate").first().getString(0)
    assert(v.matches("\\d{4}-\\d{2}-\\d{2}"), s"expected yyyy-MM-dd, got $v")
  }
}
