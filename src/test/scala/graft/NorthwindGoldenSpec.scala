package graft

import org.apache.spark.sql.{DataFrame, Row}
import graft.convert.SchemaConverter
import graft.map.DataMapper
import graft.model._

/** Golden end-to-end parity on the reference's own demo schema shape
  * (FIXTURES.md §1 — TSQL2012-Northwind variant). Two workload
  * scenarios, both per the reference CODE (server/DBMigration.js:341-389
  * — SURVEY §2.10: the committed archive is stale vs the code, e.g. it
  * shows embedded product alongside a hot orderdetail, which the rule
  * cannot produce: a hot referencing table flips its referenced tables
  * to referencing too):
  *
  *   - cold: no DML → every ≤2-FK table embeds (the archive's nesting
  *     shapes: two-way inlining, 3-level region chain, chained two-ways
  *     customer→salesorder→orderdetail);
  *   - hot orderdetail: orderdetail AND the tables it references
  *     (salesorder, product) stay top-level referencing.
  */
class NorthwindGoldenSpec extends SparkSpec {
  import spark.implicits._

  private def fk(c: String, t: String, rc: String) = ForeignKeyMeta(c, t, rc)

  private lazy val dfs: Map[String, DataFrame] = Map(
    "category" -> Seq((1, "Beverages")).toDF("categoryId", "categoryName"),
    "supplier" -> Seq((1, "Supplier QOVFD", "B'wville")).toDF("supplierId", "companyName", "city"),
    "product" -> Seq((1, "Product HHYDP", 18.0, 1, 1), (2, "Product RECZE", 19.0, 1, 1))
      .toDF("productId", "productName", "unitPrice", "categoryId", "supplierId"),
    "customer" -> Seq(("ALFKI", "Customer NRZBB")).toDF("custId", "companyName"),
    "shipper" -> Seq((1, "Shipper GVSUA", "(503) 555-0137")).toDF("shipperId", "companyName", "phone"),
    "employee" -> Seq((1, "Davis", "Sara"), (2, "Funk", "Don"))
      .toDF("employeeId", "lastname", "firstname"),
    // self-junction: BOTH FKs reference employee (mentee, mentor) — the
    // reference's overwrite semantics keep only the second-FK-keyed
    // embedding (SchemaConverter.scala:136-144), and the data plane must
    // survive parent == other-parent lineage (NestCollect.scala:50-54)
    "mentorship" -> Seq((1, 1, 2), (2, 2, 1))
      .toDF("mentorshipId", "employeeId", "mentorId"),
    "region" -> Seq((1, "Eastern")).toDF("regionId", "regiondescription"),
    "territory" -> Seq(("01581", "Westboro", 1)).toDF("territoryId", "territorydescription", "regionId"),
    "employeeterritory" -> Seq((1, "01581")).toDF("employeeId", "territoryId"),
    "salesorder" -> Seq((10248, "ALFKI", 1, 32.38), (10249, "ALFKI", 1, 11.61))
      .toDF("orderId", "custId", "shipperId", "freight"),
    "orderdetail" -> Seq((1, 10248, 1, 14.0), (2, 10248, 2, 9.8))
      .toDF("orderDetailId", "orderId", "productId", "unitPrice"))

  private val fks = Map(
    "product" -> Seq(fk("categoryId", "category", "categoryId"),
      fk("supplierId", "supplier", "supplierId")),
    "territory" -> Seq(fk("regionId", "region", "regionId")),
    "employeeterritory" -> Seq(fk("employeeId", "employee", "employeeId"),
      fk("territoryId", "territory", "territoryId")),
    "mentorship" -> Seq(fk("employeeId", "employee", "employeeId"),
      fk("mentorId", "employee", "employeeId")),
    "salesorder" -> Seq(fk("custId", "customer", "custId"),
      fk("shipperId", "shipper", "shipperId")),
    "orderdetail" -> Seq(fk("orderId", "salesorder", "orderId"),
      fk("productId", "product", "productId")))

  // catalog order pins the queue order (and therefore which copy of a
  // twice-embedded two-way table the BFS first-match nests into — the
  // reference inherits this from its catalog scan order)
  private val tableOrder = Seq("category", "supplier", "product", "customer",
    "shipper", "employee", "region", "territory", "employeeterritory",
    "salesorder", "orderdetail", "mentorship")

  private def mkDb(orderdetailUaf: Long): DatabaseMeta = {
    val referencedBy = fks.toSeq
      .flatMap { case (t, f) => f.map(x => x.referencedTable -> t) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted.toSeq).toMap
    val metas = tableOrder.map { name =>
      val df = dfs(name)
      TableMeta(name, df.count(), df.columns.toSeq,
        primaryKeys = Seq(df.columns.head),
        foreignKeys = fks.getOrElse(name, Seq.empty),
        isReferenced = referencedBy.contains(name),
        referencingTables = referencedBy.getOrElse(name, Seq.empty),
        gaf = 100L, uaf = if (name == "orderdetail") orderdetailUaf else 0L)
    }
    DatabaseMeta("northwind", metas, maf = 500.0)
  }

  private lazy val cold = SchemaConverter.convert(mkDb(orderdetailUaf = 0L))
  private lazy val hot = SchemaConverter.convert(mkDb(orderdetailUaf = 1000L))
  private def mapper(db: DatabaseMeta) =
    new DataMapper(spark, "", db, (_, _, name) => dfs(name))

  test("cold workload: archive nesting shapes — all ≤2-FK tables embed") {
    assert(cold.roots.map(_.name).toSet ===
      Set("category", "supplier", "customer", "shipper", "employee", "region"))
    assert(cold.roots.find(_.name == "category").get.embedded.map(_.name) === Seq("product"))
    assert(cold.roots.find(_.name == "supplier").get.embedded.map(_.name) === Seq("product"))
    val customer = cold.roots.find(_.name == "customer").get
    assert(customer.embedded.map(_.name) === Seq("salesorder"))
    // chained two-way: orderdetail nests under the first-found salesorder
    // (BFS through embedded collections — NoSQLDatabase.js:14-27)
    assert(customer.embedded.head.embedded.map(_.name) === Seq("orderdetail"))
    val region = cold.roots.find(_.name == "region").get
    assert(region.embedded.map(_.name) === Seq("territory"))
    assert(region.embedded.head.embedded.map(_.name) === Seq("employeeterritory"))
  }

  test("hot orderdetail: itself AND its referenced tables stay referencing (code rule)") {
    val kinds = hot.roots.map(r => r.name -> r.kind).toMap
    assert(kinds("orderdetail") === ConversionKind.Referencing)
    assert(kinds("salesorder") === ConversionKind.Referencing)
    assert(kinds("product") === ConversionKind.Referencing)
    // untouched subtree keeps embedding
    val region = hot.roots.find(_.name == "region").get
    assert(region.embedded.map(_.name) === Seq("territory"))
  }

  test("customer documents: salesorder docs inline shipper attrs, nested orderdetail inlines product attrs") {
    val db = mkDb(0L)
    val cust = mapper(db).mapRoot(cold.roots.find(_.name == "customer").get)
      .orderBy("custId").collect()
    val orders = cust(0).getSeq[Row](cust(0).fieldIndex("salesorder"))
    assert(orders.length === 2)
    val fields = orders.head.schema.fieldNames.toSet
    assert(fields.contains("companyName") && fields.contains("phone"),
      "shipper attributes inlined into embedded salesorder docs (golden collection2.json)")
    assert(!fields.contains("custId") && !fields.contains("shipperId"), "both FKs elided")
    // 3rd level: orderdetail docs under order 10248 with product attrs inlined
    val o10248 = orders.find(_.getAs[Double]("freight") == 32.38).get
    val details = o10248.getSeq[Row](o10248.schema.fieldNames.indexOf("orderdetail"))
    assert(details.length === 2)
    assert(details.head.schema.fieldNames.contains("productName"),
      "product attributes inlined into embedded orderdetail docs")
    // order 10249 has no details → key omitted (null)
    val o10249 = orders.find(_.getAs[Double]("freight") == 11.61).get
    assert(o10249.isNullAt(o10249.schema.fieldNames.indexOf("orderdetail")))
  }

  test("hot scenario: referencing collections rename FKs with value passthrough (collection7.json)") {
    val db = mkDb(1000L)
    val od = mapper(db).mapRoot(hot.roots.find(_.name == "orderdetail").get)
    assert(od.columns.toSet === Set("orderDetailId", "orderId_REF", "productId_REF", "unitPrice"))
    assert(od.orderBy("orderDetailId").select("orderId_REF").as[Int].collect().toSeq
      === Seq(10248, 10248))
  }

  test("self-junction: both FKs into employee — one embedding, keyed by the " +
      "second FK, with the first-FK employee's attrs inlined") {
    val employee = cold.roots.find(_.name == "employee").get
    val node = employee.embedded.find(_.name == "mentorship").get
    assert(node.embeddedAttributesFrom === Some("employee"))
    assert(node.parentFkColumn === Some("mentorId"),
      "reference overwrite semantics keep the SECOND FK as the nesting key")
    // exactly one mentorship embedding in the whole tree (no duplicate
    // under the same parent)
    assert(employee.embedded.count(_.name == "mentorship") === 1)
    val docs = mapper(mkDb(0L)).mapRoot(employee).orderBy("employeeId").collect()
    assert(docs.length === 2)
    def mentorships(r: Row): Seq[Row] = r.getSeq[Row](r.fieldIndex("mentorship"))
    // (1,1,2): mentee 1, mentor 2 → nests under employee 2 with the
    // MENTEE's attributes inlined; (2,2,1) symmetric
    val m1 = mentorships(docs(0)); val m2 = mentorships(docs(1))
    assert(m1.length === 1 && m2.length === 1)
    assert(m1.head.getAs[String]("lastname") === "Funk",
      "employee 1's doc carries mentorship (2,2,1) with employee 2 inlined")
    assert(m2.head.getAs[String]("lastname") === "Davis",
      "employee 2's doc carries mentorship (1,1,2) with employee 1 inlined")
    val fields = m1.head.schema.fieldNames.toSet
    assert(fields === Set("mentorshipId", "lastname", "firstname"),
      s"both FK columns elided, other-employee attrs inlined; got $fields")
  }

  test("3-level nested region document with employee attrs inlined (collection4.json)") {
    val db = mkDb(0L)
    val region = mapper(db).mapRoot(cold.roots.find(_.name == "region").get).collect()
    val terr = region(0).getSeq[Row](region(0).fieldIndex("territory"))
    assert(terr.length === 1)
    val et = terr.head.getSeq[Row](terr.head.schema.fieldNames.indexOf("employeeterritory"))
    assert(et.length === 1, "employeeterritory nested inside territory inside region")
    assert(et.head.schema.fieldNames.contains("lastname"),
      "employee attrs inlined (two-way; the archive's missing regionId is its known staleness)")
  }

  test("cold tree: every root document's estimate is within 2x of its built JSON") {
    // the audit must price the two-way edges (inlined other-parent
    // attributes, the self-junction, the chained two-ways) the build nests
    val db = mkDb(0L)
    val audit = new graft.map.DocSizeAudit(spark, "", db, (_, _, name) => dfs(name))
    import org.apache.spark.sql.functions._
    for (root <- cold.roots) {
      val key = db(root.name).primaryKeys.head
      val built = mapper(db).mapRoot(root)
      val actual = built.select(col(key),
        octet_length(to_json(struct(built.columns.map(col): _*))).as("json_bytes"))
      val joined = audit.estimateRoot(root).join(actual, key)
        .select(col("est_doc_bytes"), col("json_bytes")).collect()
      assert(joined.length === dfs(root.name).count(), root.name)
      joined.foreach { r =>
        val ratio = r.getLong(0).toDouble / r.getInt(1)
        assert(ratio > 0.5 && ratio < 2.0,
          s"${root.name}: est=${r.getLong(0)} json=${r.getInt(1)}")
      }
    }
  }

  test("document template renders the reference UI's empty-valued JSON") {
    // the UI shape (NoSqlCollection.js:3-28): every attribute maps to
    // "", every embedded collection to a one-element array of its own
    // template, rendered as JSON.stringify(·, null, 4)
    val region = cold.roots.find(_.name == "region").get
    val t = region.documentTemplate
    // structurally valid JSON with the exact nesting
    val parsed = spark.range(1).select(
      org.apache.spark.sql.functions.schema_of_json(t)).head().getString(0)
    assert(parsed.contains("territory: ARRAY<STRUCT<"), parsed)
    assert(parsed.contains("employeeterritory: ARRAY<STRUCT<"), parsed)
    // byte-exact formatting on a small hand tree
    val leaf = CollectionNode("kid", Seq("k1"), ConversionKind.OneWayEmbedded)
    val root = CollectionNode("root", Seq("a", "b"), ConversionKind.Root,
      embedded = Seq(leaf))
    assert(root.documentTemplate ===
      """{
        |    "a": "",
        |    "b": "",
        |    "kid": [
        |        {
        |            "k1": ""
        |        }
        |    ]
        |}""".stripMargin)
  }

  test("document template quotes names exactly like JSON.stringify") {
    // JSON.stringify emits two-char short escapes for \b \t \n \f \r
    // and \u00XX only for the remaining control chars; quotes and
    // backslashes escape as themselves
    val weird = CollectionNode("n", Seq("a\nb", "t\tq\"z\\w", "cd\re"),
      ConversionKind.Root)
    assert(weird.documentTemplate ===
      "{\n    \"a\\nb\": \"\",\n    \"t\\tq\\\"z\\\\w\": \"\",\n" +
        "    \"c\\u0001d\\re\": \"\"\n}")
  }
}
