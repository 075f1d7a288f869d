package graft

import org.apache.spark.sql.functions._

import graft.convert.SchemaConverter
import graft.map.{DataMapper, DocSizeAudit}
import graft.model.{CollectionNode, ConversionKind}
import graft.queries.MigrationPipeline

/** x70 — the document-size pre-flight: the estimate must price the real
  * build closely, must never BUILD anything (that is its entire point),
  * and must drive both guards (DataMapper refusal, SchemaConverter
  * demotion).
  */
class DocSizeAuditSpec extends SparkSpec {

  private def audit(dir: String) = {
    val (db, schema) = MigrationPipeline.converted(spark, dir)
    (new DocSizeAudit(spark, dir, db), db, schema)
  }

  test("estimate tracks the built documents' serialized size") {
    val (a, _, schema) = audit(sf)
    val region = schema.roots.find(_.name == "region").get
    val est = a.estimateRoot(region)
    // the real built documents, serialized — the quantity the model
    // approximates (JSON here; the model prices BSON, so ratios near 1
    // are expected, not equality)
    val built = MigrationPipeline.mapRoot(spark, sf, "region")
    val actual = built.select(col("r_regionkey"),
      octet_length(to_json(struct(built.columns.map(col): _*))).as("json_bytes"))
    val joined = est.join(actual, "r_regionkey")
      .select(col("est_doc_bytes"), col("json_bytes")).collect()
    assert(joined.length === 5)
    joined.foreach { r =>
      val ratio = r.getLong(0).toDouble / r.getInt(1)
      assert(ratio > 0.5 && ratio < 2.0,
        s"estimate off by more than 2x: est=${r.getLong(0)} json=${r.getInt(1)}")
    }
  }

  test("a same-parent junction is priced as the build nests it; a parent " +
      "with no children is priced at its own fields only") {
    import graft.model._
    import spark.implicits._
    // SchemaConverterSpec's follows junction: both FKs into user, nested
    // once under the followee with the follower's uname inlined
    val db = DatabaseMeta("t", Seq(
      TableMeta("user", 3, Seq("uid", "uname"), Seq("uid"), Seq.empty,
        isReferenced = true, referencingTables = Seq("follows")),
      TableMeta("follows", 2, Seq("fid", "follower", "followee"), Seq("fid"),
        Seq(ForeignKeyMeta("follower", "user", "uid"),
          ForeignKeyMeta("followee", "user", "uid")),
        isReferenced = false, referencingTables = Seq.empty)))
    val user = SchemaConverter.convert(db).roots.find(_.name == "user").get
    val dfs = Map(
      "user" -> Seq((1L, "ann"), (2L, "bo"), (3L, "cy")).toDF("uid", "uname"),
      "follows" -> Seq((10L, 1L, 2L), (11L, 3L, 2L)).toDF("fid", "follower", "followee"))
    val loader = (_: org.apache.spark.sql.SparkSession, _: String, n: String) => dfs(n)
    val est = new DocSizeAudit(spark, "", db, loader).estimateRoot(user)
      .as[(Long, Long)].collect().toMap
    // byte model: 5 frame; uid 2+3 name + 8; uname 2+5 name + len+5
    def own(uname: String) = 5L + (5 + 8) + (7 + uname.length + 5)
    assert(est(1L) === own("ann"), "ann follows someone but has no followers")
    assert(est(3L) === own("cy"))
    // bo's array: 7 + "follows", then 4 + a (fid, uname) doc per follower
    // (both FKs dropped, the follower's name inlined)
    assert(est(2L) === own("bo") + (7 + 7) + (4 + own("ann")) + (4 + own("cy")))
    val built = new DataMapper(spark, "", db, loader).mapRoot(user)
    assert(built.filter(col("follows").isNotNull).select("uid").as[Long].collect().toSeq === Seq(2L),
      "the build nests exactly the edge the audit priced")
  }

  test("the audit plan builds no documents: no nesting aggregate anywhere") {
    val (a, _, schema) = audit(sf)
    val region = schema.roots.find(_.name == "region").get
    val plan = a.estimateRoot(region).queryExecution.executedPlan.toString
    for (marker <- Seq("NestCollect", "collect_list", "merge_sorted_arrays"))
      assert(!plan.contains(marker),
        s"audit plan must not build documents but contains $marker")
  }

  test("the 100x region tree flags before building where the 1x tree passes") {
    // sf0.1 is 100x the spec corpus — the same two-decade step the
    // measured q24 wall sits on. One budget, both scales: the audit
    // must separate them BEFORE any build runs (the previous test
    // pins 'before building' structurally).
    val budget = 1L * 1024 * 1024
    val (a1, _, schema1) = audit(sf)
    assert(a1.maxDocBytes(schema1.roots.find(_.name == "region").get) <= budget,
      "1x region tree should fit the 1 MiB budget")
    val (a100, _, schema100) = audit("/root/testdata/sf0.1")
    val est = a100.estimateRoot(schema100.roots.find(_.name == "region").get)
    assert(est.filter(col("est_doc_bytes") > budget).count() === 5,
      "every 100x region document should flag the 1 MiB budget")
  }

  test("mapRootGuarded refuses over-budget roots and passes fitting ones") {
    val (db, schema) = MigrationPipeline.converted(spark, sf)
    val mapper = new DataMapper(spark, sf, db)
    val region = schema.roots.find(_.name == "region").get
    val e = intercept[IllegalStateException] {
      mapper.mapRootGuarded(region, budgetBytes = 10000L)
    }
    assert(e.getMessage.contains("region") && e.getMessage.contains("10000"),
      s"guard message should name root and budget: ${e.getMessage}")
    assert(e.getMessage.contains("worst: (r_regionkey)=("),
      s"guard message should name the worst keys: ${e.getMessage}")
    // within budget: same result as the unguarded build
    val ok = mapper.mapRootGuarded(region, budgetBytes = DocSizeAudit.MongoDocLimit)
    assert(ok.count() === 5)
  }

  test("enforceDocBudget demotes the over-budget root and keeps the rest") {
    val (a, db, schema) = audit(sf)
    // ~40 KB region docs at this scale: a 20 KB budget demotes region
    // once — nation hoists to a referencing root with its subtree
    // intact — and everything then fits
    val budget = 20000L
    val (adjusted, log) =
      SchemaConverter.enforceDocBudget(db, schema, a.maxDocBytes, budget)
    assert(log === Seq("region" -> Seq("nation")), s"unexpected demotions: $log")
    val region = adjusted.roots.find(_.name == "region").get
    assert(region.embedded.isEmpty, "demoted root keeps no embedded children")
    val nation = adjusted.roots.find(_.name == "nation").get
    assert(nation.kind === ConversionKind.Referencing)
    assert(nation.attributes.contains("n_regionkey_REF"),
      "hoisted root's FK must take the referencing _REF shape")
    assert(nation.embedded.map(_.name).toSet === Set("customer", "supplier"),
      "hoisted root keeps its own subtree")
    adjusted.roots.foreach(r =>
      assert(a.maxDocBytes(r) <= budget, s"root ${r.name} still over budget"))
    // a fitting schema is returned unchanged
    val (same, none) =
      SchemaConverter.enforceDocBudget(db, schema, a.maxDocBytes, DocSizeAudit.MongoDocLimit)
    assert(none.isEmpty && same === schema)
  }

  test("enforceDocBudget prices each distinct node once per call") {
    val (db, schema) = MigrationPipeline.converted(spark, sf)
    val region = schema.roots.find(_.name == "region").get
    val nation = region.embedded.head
    val customer = nation.embedded.find(_.name == "customer").get
    // customer→orders fits and sits before region, so every restart of
    // the demotion loop passes it again
    val input = schema.copy(roots = customer +: schema.roots.map(r =>
      if (r.name == "region")
        r.copy(embedded = Seq(nation.copy(embedded = nation.embedded.filterNot(_ == customer))))
      else r))
    // a fake price: 3 for a supplier, 1 for any other row, summed over
    // the tree — region (5) and then nation (4) go over a budget of 3
    def bytes(n: CollectionNode): Long =
      (if (n.name == "supplier") 3L else 1L) + n.embedded.map(bytes).sum
    val calls = scala.collection.mutable.Map.empty[CollectionNode, Int].withDefaultValue(0)
    val (adjusted, log) = SchemaConverter.enforceDocBudget(db, input,
      n => { calls(n) += 1; bytes(n) }, budgetBytes = 3L)
    assert(log === Seq("region" -> Seq("nation"), "nation" -> Seq("supplier")))
    assert(adjusted.roots.map(r => r.name -> r.embedded.map(_.name)) === Seq(
      "customer" -> Seq("orders"), "region" -> Seq(), "part" -> Seq(), "lineitem" -> Seq(),
      "nation" -> Seq(), "supplier" -> Seq()))
    assert(adjusted.roots.find(_.name == "nation").get.kind === ConversionKind.Referencing)
    assert(calls.values.forall(_ == 1), s"nodes priced more than once: $calls")
    assert(calls.size === 8, "2 demoted roots, 2 demoted copies, 4 roots that fit")
  }

  test("the batch price of every root and hoisted node equals its estimate's max") {
    val (a, db, schema) = audit(sf)
    // the decided roots, region demoted once (bare region, nation hoisted
    // with its subtree), and every node hoisted bare (a 1-byte budget
    // demotes all the way down)
    val roots = (schema.roots ++
      SchemaConverter.enforceDocBudget(db, schema, a.maxDocBytes, 20000L)._1.roots ++
      SchemaConverter.enforceDocBudget(db, schema, a.maxDocBytes, 1L)._1.roots).distinct
    assert(roots.size === 9)
    val want = roots.map { r =>
      a.estimateRoot(r).agg(max(col("est_doc_bytes"))).head().getLong(0)
    }
    assert(a.maxDocBytes.prices(roots) === want)
    assert(roots.map(a.maxDocBytes(_)) === want, "a single root is a batch of one")
  }

  test("an empty root table prices 0, in a batch and alone") {
    val (db, schema) = MigrationPipeline.converted(spark, sf)
    val emptyPart = new DocSizeAudit(spark, sf, db, (s, dir, t) =>
      if (t == "part") graft.sources.Tables.load(s, dir, t).limit(0)
      else graft.sources.Tables.load(s, dir, t))
    val full = new DocSizeAudit(spark, sf, db)
    val prices = emptyPart.maxDocBytes.prices(schema.roots)
    schema.roots.zip(prices).zip(full.maxDocBytes.prices(schema.roots)).foreach {
      case ((r, p), f) =>
        if (r.name == "part") assert(p === 0L) else assert(p === f && p > 0L, r.name)
    }
    assert(emptyPart.maxDocBytes(schema.roots.find(_.name == "part").get) === 0L)
  }

  test("enforceDocBudget returns its roots' prices; a changed schema carries none") {
    val (a, db, schema) = audit(sf)
    val (adjusted, _) = SchemaConverter.enforceDocBudget(db, schema, a.maxDocBytes, 20000L)
    assert(adjusted.rootPrices === Some(a.maxDocBytes.prices(adjusted.roots)))
    assert(adjusted.copy().rootPrices.isEmpty, "a copy is priced again")
    assert(schema.rootPrices.isEmpty)
  }

  test("summary audits every root with document counts") {
    val (a, _, schema) = audit(sf)
    val rows = a.summary(schema, budgetBytes = 20000L).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(rows.keySet === Set("region", "part", "lineitem"))
    assert(rows("region")._1 === 5)
    assert(rows("region")._2 === 5, "all five region docs over 20KB")
    assert(rows("part")._2 === 0, "flat part docs are tiny")
  }
}
