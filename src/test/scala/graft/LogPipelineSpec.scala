package graft

import graft.workload.LogPipeline
import graft.workload.LogPipeline.{MySqlLog, PostgresLog}
import graft.queries.Fixtures

class LogPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("MySQL record split keeps Query bodies only, collapses whitespace, spans lines") {
    val stmts = LogPipeline.splitRecords(Fixtures.mysqlLog, MySqlLog)
    assert(stmts.length === 12) // 11 DML/DDL + 1 SET (filtered later)
    assert(stmts(1) ===
      "SELECT l_orderkey, o_totalprice FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
    assert(!stmts.exists(_.startsWith("root@")), "Connect bodies dropped")
  }

  test("Postgres record split handles multi-line statements and skips ERROR records") {
    val stmts = LogPipeline.splitRecords(Fixtures.postgresLog, PostgresLog)
    assert(stmts.length === 4)
    assert(stmts.head ===
      "SELECT o_orderkey, c_name FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey")
    assert(!stmts.exists(_.contains("does not exist")), "ERROR record not a statement")
  }

  test("classify keeps only DML/DDL and types by leading keyword") {
    val out = LogPipeline.classify(
      LogPipeline.statementsFromText(spark, Fixtures.mysqlLog, MySqlLog))
      .as[(String, String)].collect()
    assert(out.length === 11, "SET statement filtered out")
    assert(out.map(_._1).toSet === Set("select", "insert", "update", "delete", "create"))
  }

  test("tableMentions extracts distinct per-statement refs incl. db-qualified and quoted") {
    val stmts = spark.createDataset(Seq(
      "SELECT * FROM db1.orders o JOIN `customer` c ON 1=1 JOIN orders ON 1=1",
      "gibberish that parses to nothing"))
    val out = LogPipeline.tableMentions(stmts).as[(String, String)].collect()
    assert(out.toSet === Set(("select", "orders"), ("select", "customer")),
      "dedup within statement; unparseable statement skipped")
  }

  test("a CRLF log splits into the same statements as its LF form") {
    val crlf = Fixtures.mysqlLog.replace("\n", "\r\n")
    assert(LogPipeline.splitRecords(crlf, MySqlLog) ===
      LogPipeline.splitRecords(Fixtures.mysqlLog, MySqlLog))
    val pg = Fixtures.postgresLog.replace("\n", "\r\n")
    assert(LogPipeline.splitRecords(pg, PostgresLog) ===
      LogPipeline.splitRecords(Fixtures.postgresLog, PostgresLog))
  }

  test("the first record may start mid-line after the server preamble") {
    val log =
      "/usr/sbin/mysqld, Version: 8.0.36. started with:\n" +
        "Tcp port: 3306  Unix socket: /var/run/mysqld/mysqld.sock\n" +
        "Time                 Id Command    Argument240611 10:15:02\t  12 Query\tSELECT *\n" +
        "  FROM orders\n" +
        "240611 10:15:03     12 Query     SELECT 1"
    assert(LogPipeline.splitRecords(log, MySqlLog) === Seq("SELECT * FROM orders", "SELECT 1"))
  }

  test("an empty Query body yields no statement") {
    val log =
      "240611 10:15:02     12 Query     \n" +
        "240611 10:15:03     12 Query\t \u000B\r\n" +
        "240611 10:15:04     12 Query     DELETE FROM part\n" +
        "240611 10:15:05     12 Query"
    assert(LogPipeline.splitRecords(log, MySqlLog) === Seq("DELETE FROM part"))
  }

  test("mentions are de-duplicated before lowercasing") {
    val out = LogPipeline.tableMentions(Seq("SELECT * FROM Orders JOIN orders").toDS())
      .as[(String, String)].collect()
    assert(out.toSeq === Seq(("select", "orders"), ("select", "orders")),
      "Orders and orders are two distinct mentions of one table")
  }

  test("a keyword followed by a letter does not classify") {
    val stmts = Seq("selecté * FROM orders", "select * FROM customer").toDS()
    assert(LogPipeline.classify(stmts).as[(String, String)].collect().toSeq ===
      Seq(("select", "select * FROM customer")))
    assert(LogPipeline.tableMentions(stmts).as[(String, String)].collect().toSeq ===
      Seq(("select", "customer")))
  }

  test("workload stats weight mentions by row count; DML feeds uaf") {
    val mentions = Seq(("select", "t1"), ("select", "t1"), ("update", "t1"),
      ("insert", "t2"), ("select", "ghost")).toDF("stmt_type", "table_name")
    val counts = Seq(("t1", 100L), ("t2", 7L)).toDF("table_name", "num_rows")
    val rows = LogPipeline.workloadStats(mentions, counts)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows("t1") === ((300L, 100L)))
    assert(rows("t2") === ((7L, 7L)))
    assert(!rows.contains("ghost"), "unknown tables dropped at the metadata join")
  }
}
