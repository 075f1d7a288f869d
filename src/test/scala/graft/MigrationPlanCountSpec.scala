package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.convert.SchemaConverter
import graft.map.{DataMapper, DocSizeAudit}
import graft.operators.Catalog
import graft.queries.Fixtures
import graft.sinks.JsonSink
import graft.sources.Tables
import graft.workload.LogPipeline

/** Tripwire on the number of Spark SQL plans one migration submits per
  * layer. Every plan costs planning, code generation and job scheduling
  * whatever its data, so a layer that starts probing again (an
  * emptiness check before a write, a count query for row counts, a
  * pricing query per root or a guard that prices again what the budget
  * priced) shows up here before it shows up as CPU time.
  */
class MigrationPlanCountSpec extends SparkSpec {
  import spark.implicits._

  test("a migration plans nothing to introspect, one pricing plan per budget round, " +
      "no guard plan, one write per collection") {
    val executions = new AtomicInteger
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        executions.incrementAndGet()
    }
    def layer[A](f: => A): (A, Int) = {
      ListenerDrain(spark.sparkContext)
      executions.set(0)
      val a = f
      ListenerDrain(spark.sparkContext)
      (a, executions.get)
    }
    val out = java.nio.file.Files.createTempDirectory("graft_plans").toString
    val budget = 20000L
    spark.listenerManager.register(l)
    try {
      val (db0, introspected) = layer(Catalog.introspect(spark, sf, Tables.tpchSpec))
      val db = {
        val rowCounts = db0.tables.map(t => (t.name, t.numOfRows)).toDF("table_name", "num_rows")
        val stmts = LogPipeline.statementsFromText(spark, Fixtures.mysqlLog, LogPipeline.MySqlLog)
        LogPipeline.applyWorkload(db0,
          LogPipeline.workloadStats(LogPipeline.tableMentions(stmts), rowCounts))
      }
      val ((schema, demotions), priced) = layer(SchemaConverter.enforceDocBudget(
        db, SchemaConverter.convert(db), new DocSizeAudit(spark, sf, db).maxDocBytes, budget))
      assert(demotions === Seq("region" -> Seq("nation")))
      // one round prices the decided roots, the next the two its
      // demotion made
      assert(priced === 2)
      val (frames, guarded) = layer(new DataMapper(spark, sf, db).mapAllGuarded(schema, budget))
      // a schema the budget never priced costs the guard one plan
      val (_, unpriced) = layer(new DataMapper(spark, sf, db).mapAllGuarded(schema.copy(), budget))
      val (written, sunk) = layer(JsonSink.write(frames, out))
      assert(introspected === 0)
      assert(guarded === 0, "the guard reads the budget's prices")
      assert(unpriced === 1)
      assert(written === schema.roots.map(_.name), "every collection is non-empty")
      assert(sunk === written.size)
    } finally spark.listenerManager.unregister(l)
  }
}
