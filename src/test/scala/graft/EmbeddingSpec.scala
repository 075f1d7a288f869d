package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.Embedding

/** Micro-fixture tests for the embedding joins (FIXTURES.md §4): empty
  * array omission, fan-out, FK elision, _REF passthrough.
  */
class EmbeddingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val parent = Seq((1, "p1"), (2, "p2"), (3, "p3")).toDF("pid", "pname")
  private lazy val child = Seq((10, 1, "c10"), (11, 1, "c11"), (12, 2, "c12"))
    .toDF("cid", "fk", "cname")

  test("oneWayEmbed nests children sorted, drops FK, omits empty arrays") {
    val out = Embedding.oneWayEmbed(parent, "pid", child, "fk", "kids", Seq("cid"))
      .orderBy("pid").collect()
    assert(out.length === 3)
    val p1 = out(0).getSeq[Row](out(0).fieldIndex("kids"))
    assert(p1.map(_.getAs[String]("cname")) === Seq("c10", "c11"))
    assert(p1.head.schema.fieldNames.toSeq === Seq("cid", "cname"), "FK column elided")
    // parent with no children: key is null (omitted by the JSON sink)
    assert(out(2).isNullAt(out(2).fieldIndex("kids")))
  }

  test("twoWayEmbed inlines other-parent attrs and fans out per match") {
    val other = Seq((100, "x"), (200, "y")).toDF("oid", "oname")
    val junction = Seq((1, 100, 5.0), (1, 200, 6.0), (2, 100, 7.0))
      .toDF("fk_p", "fk_o", "qty")
    val out = Embedding.twoWayEmbed(parent, "pid", junction, "fk_p", "fk_o",
      other, "oid", "links", Seq("qty")).orderBy("pid").collect()
    val p1 = out(0).getSeq[Row](out(0).fieldIndex("links"))
    assert(p1.length === 2, "one embedded doc per junction x other-parent match")
    assert(p1.head.schema.fieldNames.toSeq === Seq("qty", "oname"),
      "both FKs and the other parent's key elided; other attrs inlined")
    assert(p1.map(_.getAs[String]("oname")) === Seq("x", "y"))
    assert(out(2).isNullAt(out(2).fieldIndex("links")))
  }

  test("empty sort keys order arrays by every document field, plain and salted alike") {
    val kids = Seq((12, 1, "b"), (11, 1, "b"), (10, 1, "a"), (13, 2, "z")).toDF("cid", "fk", "cname")
      .coalesce(1)
    val plain = Embedding.oneWayEmbed(parent, "pid", kids, "fk", "kids")
    val first = plain.orderBy("pid").collect()(0)
    val p1 = first.getSeq[Row](first.fieldIndex("kids"))
    assert(p1.map(r => (r.getInt(0), r.getString(1))) === Seq((10, "a"), (11, "b"), (12, "b")))
    val salted = Embedding.oneWayEmbedSalted(parent, "pid", kids, "fk", "kids", Seq.empty, salts = 3)
    assert(salted.orderBy("pid").toJSON.collect().toSeq === plain.orderBy("pid").toJSON.collect().toSeq)
  }

  test("renameFkRefs renames columns only, values pass through") {
    val out = Embedding.renameFkRefs(child, Seq("fk"))
    assert(out.columns.toSeq === Seq("cid", "fk_REF", "cname"))
    assert(out.orderBy("cid").select("fk_REF").as[Int].collect().toSeq === Seq(1, 1, 2))
  }

  test("JSON sink omits empty embedded arrays (reference key-omission)") {
    val nested = Embedding.oneWayEmbed(parent, "pid", child, "fk", "kids", Seq("cid"))
    val json = nested.orderBy("pid").toJSON.collect()
    assert(json(0).contains("\"kids\""))
    assert(!json(2).contains("\"kids\""), "empty embed → key absent in JSON")
  }
}
