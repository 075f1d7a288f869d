package graftbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Dedup
import graft.operators.Catalog
import graft.sources.Tables

/** Span attribution on tiny sf0.001 calls: every job a traced call runs,
  * including the jobs the program submits from its own driver pool, lands
  * in the call's span. */
class SpanListenerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = new File("target/span-spec").getAbsoluteFile
  private lazy val spark = Main.session(2, work.getPath)

  override def beforeAll(): Unit = {
    Files.reset(work.getPath)
    val gen = new ProcessBuilder("python3", "-c",
      s"import gen; gen.tables('${work.getPath}/sf', 0.001, 1)")
      .directory(new File(".").getAbsoluteFile).inheritIO().start()
    assert(gen.waitFor() == 0, "table generator failed")
  }

  override def afterAll(): Unit = {
    spark.stop()
    Files.delete(work)
  }

  private def traced(): (SpanListener, Tracer) = {
    val l = new SpanListener
    spark.sparkContext.addSparkListener(l)
    (l, new Tracer(spark.sparkContext, Some(l)))
  }

  test("a traced introspect attributes all of its jobs, tasks and time") {
    val (l, tr) = traced()
    val db = tr.span("catalog.introspect") { Catalog.introspect(spark, s"$work/sf", Tables.tpchSpec) }
    tr.flush()
    spark.sparkContext.removeSparkListener(l)
    assert(db.tables.find(_.name == "orders").get.numOfRows == 1500)
    val st = l.stats("catalog.introspect")
    assert(st.calls == 1)
    assert(st.jobs > 0 && st.tasks >= st.jobs)
    assert(st.wallMs >= st.planMs + st.commitMs)
    assert(st.cpuNs > 0)
    assert(l.unattributedJobs == 0)
  }

  test("jobs submitted from the program's driver pool inherit the span") {
    import spark.implicits._
    val docs = (0 until 40).map(i => (i.toLong, s"spark stream batch $i table row column key value $i"))
      .toDF("doc_id", "text")
    val (l, tr) = traced()
    // the index build commits its tables from DriverPool threads
    tr.span("index.build") { Dedup.writeNearDupIndex(docs, s"$work/idx") }
    tr.flush()
    spark.sparkContext.removeSparkListener(l)
    assert(l.unattributedJobs == 0)
    assert(l.stats("index.build").jobs >= 2)
    assert(l.stats.keySet == Set("index.build"))
  }

  test("a job outside every span is counted as unattributed") {
    val (l, tr) = traced()
    spark.range(10).agg(sum(col("id"))).collect()
    tr.flush()
    spark.sparkContext.removeSparkListener(l)
    assert(l.unattributedJobs >= 1)
    assert(l.stats.isEmpty)
  }

  test("with tracing off a span only times the call") {
    val tr = new Tracer(spark.sparkContext, None)
    assert(tr.span("convert.decide") { 41 + 1 } == 42)
    assert(spark.sparkContext.getLocalProperty(Tracer.SpanKey) == null)
  }
}
