package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.convert.SchemaConverter
import graft.map.{DataMapper, DocSizeAudit}
import graft.model._
import graft.operators.Catalog
import graft.sinks.JsonSink
import graft.sources.Tables
import graft.workload.LogPipeline

/** One finished migration: its wall time, the program's decisions and
  * where it wrote. */
final case class Migration(seconds: Double, cpuSeconds: Double, db: DatabaseMeta, decided: DocumentSchema,
    schema: DocumentSchema, demotions: Seq[(String, Seq[String])], out: String, bytes: Long)

/** The paper's pipeline, called layer by layer through the program's
  * public functions: introspect → mine the query log → decide embed or
  * reference → price documents against the size budget (demoting roots
  * over it) → build the guarded nested frames → write one JSON
  * collection per root. Each migration uses a fresh `DataMapper` and no
  * memoized pipeline state, so a repeat migration redoes all the work.
  */
final class Migrate(spark: SparkSession, tracer: Tracer, m: JsonNode, work: String) extends Runner {
  import spark.implicits._

  private val dir = m.get("tables_dir").asText
  private val logDir = m.get("log_dir").asText
  private val plan = m.get("plan")
  private val budget = plan.get("budget_bytes").asLong
  private def longs(n: JsonNode): Map[String, Long] =
    n.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
  private val rows = longs(m.get("rows"))
  private val mentions = longs(m.get("log").get("mentions"))
  private val dml = longs(m.get("log").get("dml_mentions"))
  private val expectKinds = plan.get("kinds").properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
  private val expectRoots = plan.get("roots").elements().asScala.map(_.asText).toSeq
  private val expectDemotions = plan.get("demotions").elements().asScala.map { d =>
    d.get(0).asText -> d.get(1).elements().asScala.map(_.asText).toSeq }.toSeq

  private def migrate(out: String): Migration = {
    val t0 = System.nanoTime()
    val c0 = Files.cpuNanos()
    val db0 = tracer.span("catalog.introspect") { Catalog.introspect(spark, dir, Tables.tpchSpec) }
    val db = tracer.span("workload.mine") {
      val rowCounts = db0.tables.map(t => (t.name, t.numOfRows)).toDF("table_name", "num_rows")
      val stmts = LogPipeline.statements(spark, logDir, LogPipeline.MySqlLog)
      LogPipeline.applyWorkload(db0,
        LogPipeline.workloadStats(LogPipeline.tableMentions(stmts), rowCounts))
    }
    val decided = tracer.span("convert.decide") { SchemaConverter.convert(db) }
    val (schema, demotions) = tracer.span("map.budget") {
      val audit = new DocSizeAudit(spark, dir, db)
      SchemaConverter.enforceDocBudget(db, decided, audit.maxDocBytes, budget)
    }
    val frames = tracer.span("map.guard") { new DataMapper(spark, dir, db).mapAllGuarded(schema, budget) }
    tracer.span("sink.write") { JsonSink.write(frames, out) }
    val s = (System.nanoTime() - t0) / 1e9
    Migration(s, (Files.cpuNanos() - c0) / 1e9, db, decided, schema, demotions, out, Files.dataBytes(out))
  }

  private def walk(n: CollectionNode): Seq[CollectionNode] = n +: n.embedded.flatMap(walk)

  /** Checks that need no Spark job: workload counters against the log
    * generator's tallies, and the decided schema against the plan. */
  private def planChecks(r: Migration): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    r.db.tables.foreach { t =>
      val gaf = mentions.getOrElse(t.name, 0L) * rows(t.name)
      val uaf = dml.getOrElse(t.name, 0L) * rows(t.name)
      if (t.gaf != gaf || t.uaf != uaf)
        bad += s"${t.name} gaf/uaf ${t.gaf}/${t.uaf} != $gaf/$uaf"
    }
    val kinds = r.decided.roots.flatMap(walk).map(n => n.name -> n.kind.label).toMap
    if (kinds != expectKinds) bad += s"kinds $kinds != $expectKinds"
    val roots = r.schema.roots.map(_.name)
    if (roots.sorted != expectRoots.sorted) bad += s"roots $roots != $expectRoots"
    if (r.demotions.map { case (a, b) => (a, b.sorted) } != expectDemotions.map { case (a, b) => (a, b.sorted) })
      bad += s"demotions ${r.demotions} != $expectDemotions"
    bad.toSeq
  }

  /** One text pass per written collection: document count, nested child
    * counts (one `"<key>":` per embedded document) and an
    * order-insensitive digest of the JSON lines. */
  private def outputChecks(r: Migration): (Seq[String], String) = {
    val bad = mutable.ArrayBuffer.empty[String]
    val parts = r.schema.roots.sortBy(_.name).map { root =>
      val nested = walk(root).tail
      val keyOf = nested.map(n => n.name -> r.db(n.name).primaryKeys.head).toMap
      val aggs = Seq(count(lit(1)).as("docs"), bit_xor(xxhash64(col("value"))).as("x"),
        sum(pmod(xxhash64(col("value")), lit(2147483647L))).as("s")) ++
        nested.map(n => sum(size(split(col("value"),
          java.util.regex.Pattern.quote("\"" + keyOf(n.name) + "\":"))) - 1).as(n.name))
      val row = spark.read.text(s"${r.out}/${root.name}").agg(aggs.head, aggs.tail: _*).head()
      val docs = row.getLong(0)
      if (docs != rows(root.name)) bad += s"${root.name}: $docs docs != ${rows(root.name)} rows"
      nested.zipWithIndex.foreach { case (n, i) =>
        val c = row.getLong(3 + i)
        if (c != rows(n.name)) bad += s"${root.name}.${n.name}: $c nested != ${rows(n.name)} rows"
      }
      s"${root.name}:$docs:${row.getLong(1)}:${row.getLong(2)}"
    }
    (bad.toSeq, parts.mkString(";"))
  }

  def run(seconds: Double, warm: Int, deadline: Long): Outcome = {
    val ops = mutable.ArrayBuffer.empty[Op]
    var digest = ""
    var coldBytes = -1L
    var demotions = 0
    var i = 0
    var windowStart = 0L
    // the cold migration, then at least `warm` warm ones, and more while
    // the window is open
    def due = i < 1 || (i <= warm || (System.nanoTime() - windowStart) / 1e9 < seconds) &&
      System.nanoTime() < deadline
    while (due) {
      val out = s"$work/m$i"
      val kind = if (i == 0) "cold_migration" else "migration"
      val op = try {
        val r = migrate(out)
        demotions = r.demotions.size
        val bad = planChecks(r) ++ (if (i == 0) {
          val (b, d) = Tracer.internal(spark.sparkContext)(outputChecks(r))
          digest = d
          coldBytes = r.bytes
          b
        } else if (r.bytes != coldBytes) Seq(s"wrote ${r.bytes} bytes, cold migration wrote $coldBytes")
        else Seq.empty)
        Op(kind, r.seconds, r.cpuSeconds, bad.isEmpty, bad.mkString("; "))
      } catch {
        case e: Exception =>
          Op(kind, 0.0, 0.0, ok = false, e.toString)
      }
      ops += op
      Files.delete(new java.io.File(out))
      if (i == 0) windowStart = System.nanoTime()
      i += 1
    }
    val sourceRows = rows.values.sum
    Outcome(ops.toSeq,
      Map("map.budget.demotions" -> demotions.toDouble,
        "workload.mine.statements" -> m.get("log").get("statements").asDouble),
      digest,
      Map("doc_mb" -> (coldBytes / 1e6), "source_rows" -> sourceRows, "budget_bytes" -> budget,
        "rows" -> rows))
  }
}
