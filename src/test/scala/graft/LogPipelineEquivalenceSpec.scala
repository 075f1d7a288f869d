package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.queries.Fixtures
import graft.workload.LogPipeline
import graft.workload.LogPipeline.{Dialect, MySqlLog, PostgresLog}

/** Differential check of the log scans against their regex form
  * ([[LogPipelineReference]]): the record split of both dialects must
  * return the same statements, and `classify` and `tableMentions` the
  * same row multisets, on seeded generated input. The generators build
  * records from near-miss pieces: timestamps split across a newline,
  * CRLF line ends, `Querying`, a server preamble, control characters at
  * body edges, non-ASCII letters next to keywords (`é`, `ı`, the Kelvin
  * sign `K`) and keyword look-alikes (`fromage`, `_from`).
  */
class LogPipelineEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val LogsPerDialect = 3000
  private val Statements = 20000

  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(seed + i)))

  private def show(s: String): String =
    s.flatMap {
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private val stmtToken: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("SELECT", "select", "Insert", "INTO", "into", "update", "DELETE",
      "create", "CREATE TABLE", "create table if not exists", "from", "FROM", "Join",
      "join", "UPDATE"),
    6 -> Gen.oneOf("orders", "Orders", "ORDERS", "lineitem", "db1.", "`customer`",
      "\"part\"", "`db`.`nation`", "t_1", "x9"),
    5 -> Gen.oneOf(" ", " ", "  ", "\t", "\n", "\r\n", ",", ".", "*", "=", "(", ")",
      "`", "\""),
    3 -> Gen.oneOf("fromage", "_from", "joined", "intoX", "selecté", "é", "ı", "K",
      "Kfrom", "ıfrom", "éjoin", "1from", "9 Query", "Querying"),
    2 -> Gen.oneOf("\u000B", "\f", "\u0001", "\u0000", " ", "\u0085"))

  private val keyword = Gen.oneOf("SELECT", "select", "Insert", "update", "DELETE", "create",
    "Create", "selecté", "SELECT_", "delete1", "\u212Aselect")

  // tokens mostly one space apart, sometimes glued or split by a line end
  private val stmt: Gen[String] = for {
    lead <- Gen.frequency(4 -> keyword, 1 -> stmtToken)
    n <- Gen.choose(0, 14)
    rest <- Gen.listOfN(n, for {
      sep <- Gen.frequency(6 -> " ", 2 -> "", 1 -> "\n  ", 1 -> "\t")
      t <- stmtToken
    } yield sep + t)
  } yield lead + rest.mkString

  private def log(preamble: Gen[String], record: Gen[String]): Gen[String] = for {
    pre <- preamble
    n <- Gen.choose(0, 8)
    lines <- Gen.listOfN(n, Gen.frequency(5 -> record, 1 -> stmt))
    ends <- Gen.listOfN(n, Gen.frequency(4 -> "\n", 2 -> "\r\n", 1 -> "\n\n", 1 -> " \n", 1 -> ""))
    last <- Gen.oneOf("", "\n", "\r\n")
  } yield pre + lines.zip(ends).map { case (l, e) => l + e }.mkString + last

  private val mysqlRecord: Gen[String] = for {
    ts <- Gen.oneOf("", "", "240611 10:15:02", "240611 9:05:07", "240611\n10:15:02",
      "240611\r\n10:15:02", "240611  \t1:02:03", "24061 10:15:02", "240611 10:15")
    b1 <- Gen.oneOf("", " ", "\t", "     ", " \t ")
    id <- Gen.oneOf("1", "12", "007", "4242")
    b2 <- Gen.oneOf(" ", "\t", "     ", "")
    cmd <- Gen.frequency(8 -> "Query", 2 -> "Connect", 2 -> "Quit", 1 -> "Init DB",
      1 -> "Close stmt", 2 -> "Querying", 1 -> "query", 1 -> "QueryX")
    b3 <- Gen.oneOf("", " ", "\t", "     ", "\u000B", "\u0001 ")
    body <- stmt
  } yield ts + b1 + id + b2 + cmd + b3 + body

  private val mysqlLog: Gen[String] = log(
    Gen.oneOf("", "",
      "/usr/sbin/mysqld, Version: 8.0.36 (MySQL Community Server - GPL). started with:\n" +
        "Tcp port: 3306  Unix socket: /var/run/mysqld/mysqld.sock\n" +
        "Time                 Id Command    Argument\n",
      "Time                 Id Command    Argument",
      "preamble 5 Query "),
    mysqlRecord)

  private val pgPrefix = Gen.oneOf("2024-06-11 10:15:02.123 +07 [4242]",
    "2024-06-11 10:15:02.1 UTC [7]", "2024-06-11 10:15:02 +07 [1]",
    "2024-06-11 10:15:02.5 +07x[1] [99]", "2024-06-11\n10:15:02.1 +07 [3]")

  private val pgRecord: Gen[String] = for {
    prefix <- pgPrefix
    kind <- Gen.oneOf("LOG:  statement: ", "LOG: statement:\n", "STATEMENT:  ",
      "ERROR:  relation \"ghost\" does not exist", "LOG:  duration: 0.1 ms",
      "LOG:\tstatement:\t", "LOG:statement: ", "LOG:  ", "LOG:  statement: \u0001")
    body <- Gen.frequency(5 -> stmt,
      1 -> (for { a <- stmt; p <- pgPrefix; b <- stmt } yield a + p + b))
  } yield s"$prefix $kind$body"

  private val pgLog: Gen[String] = log(Gen.oneOf("", "", "LOG:  database system is ready\n"), pgRecord)

  private def assertSplitsAgree(texts: Seq[String], dialect: Dialect): Int = {
    var statements = 0
    texts.foreach { t =>
      val expected = LogPipelineReference.splitRecords(t, dialect)
      val got = LogPipeline.splitRecords(t, dialect)
      assert(got === expected, s"$dialect split differs on \"${show(t)}\"")
      statements += got.size
    }
    statements
  }

  test("MySQL record split equals the lazy-body regex on generated logs") {
    val texts = sample(mysqlLog, LogsPerDialect, 1000L) :+ Fixtures.mysqlLog
    val statements = assertSplitsAgree(texts, MySqlLog)
    assert(statements > LogsPerDialect, "the generated logs hold statements")
  }

  test("Postgres record split equals the lazy-body regex on generated logs") {
    val texts = sample(pgLog, LogsPerDialect, 2000L) :+ Fixtures.postgresLog
    val statements = assertSplitsAgree(texts, PostgresLog)
    assert(statements > LogsPerDialect, "the generated logs hold statements")
  }

  test("classify and tableMentions return the regex expressions' row multisets") {
    val split = sample(mysqlLog, 500, 3000L).flatMap(LogPipeline.splitRecords(_, MySqlLog))
    val stmts = (sample(stmt, Statements, 4000L) ++ split :+ (null: String)).toDS()
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String)].collect().groupBy(identity).map { case (k, v) => k -> v.length }
    def assertSameMultiset(what: String, got: Map[(String, String), Int],
        expected: Map[(String, String), Int]): Unit = {
      val diff = (got.keySet ++ expected.keySet).filter(k => got.get(k) != expected.get(k))
      assert(diff.isEmpty, s"$what counts differ: " + diff.take(5).map { case k @ (t, v) =>
        s"($t, \"${show(v)}\"): ${got.get(k)} vs ${expected.get(k)}" }.mkString("; "))
    }
    val classified = multiset(LogPipeline.classify(stmts))
    assertSameMultiset("classify", classified, multiset(LogPipelineReference.classify(stmts)))
    val mentions = multiset(LogPipeline.tableMentions(stmts))
    assertSameMultiset("tableMentions", mentions,
      multiset(LogPipelineReference.tableMentions(stmts)))
    assert(classified.keySet.map(_._1) === Set("select", "insert", "update", "delete", "create"))
    assert(mentions.values.sum > Statements / 10, "the generated statements mention tables")
  }
}
