package graft.workload

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.model.DatabaseMeta

/** The query-log workload analysis (SURVEY.md §3.2) — the one genuinely
  * analytics-flavored pipeline in the reference
  * (server/LogManager.js:4-100): split the raw DBMS log into statements,
  * keep DML/DDL, extract per-statement table references, and aggregate
  * per-table access frequencies weighted by table row count.
  *
  * Spark shape: `read.text(wholetext)` → per-file record-split flatMap
  * (record boundaries are multi-line, so the file must NOT be naively
  * line-split; sharding a huge log means cutting at record-start
  * boundaries first) → one typed flatMap that classifies each statement
  * and extracts its table mentions → broadcast join with the tiny
  * table-metadata frame → one `groupBy(table)` shuffle.
  *
  * Both scans are plain Scala over the compiled `java.util.regex`
  * patterns, each linear in its input:
  *
  *   - The record split runs the header pattern once per record and
  *     finds where the body ends directly: the reference's lazy body
  *     `(.*?)` followed by a lookahead for the next header ends at the
  *     FIRST position where that lookahead matches, so the split tests
  *     only those positions (MySQL: each newline; Postgres: one `find`
  *     of the header prefix) instead of driving the lazy quantifier one
  *     character at a time. Whitespace collapses in one char loop equal
  *     to `replaceAll("\\s+", " ").trim`.
  *   - The mention scan replaces three Spark regex expressions (`rlike`,
  *     `regexp_extract`, `regexp_extract_all`, each decoding the row's
  *     string again) and `array_distinct`/`explode`/`lower` with one
  *     pass per statement. A table reference can only start at an
  *     ASCII `f/j/i/u/c` (the pattern is ASCII-case-insensitive), so
  *     only those positions are tried, with transparent bounds so the
  *     leading `\b` sees the character before, exactly as `find` does.
  *     Mentions are de-duplicated before lowercasing, as
  *     `array_distinct` ran before `lower`.
  *
  * `LogPipelineEquivalenceSpec` pins both scans to the regex forms
  * they replace on generated logs and statements.
  */
object LogPipeline {

  sealed trait Dialect
  case object MySqlLog extends Dialect
  case object PostgresLog extends Dialect

  // L1 — MySQL general-query-log records: an optional `yymmdd h:mm:ss`
  // timestamp, a thread id, a command word (Connect|Query|Quit|...), then
  // a body running to the next record header (possibly multi-line): the
  // first newline followed by a header whose command is a whole word.
  // Analog of server/LogManager.js:13-31.
  private val mysqlCommands =
    "Connect|Query|Quit|Init DB|Field List|Prepare|Execute|Close stmt|Statistics|Change user|Refresh|Shutdown"
  private val mysqlTimestamp = """\d{6}\s+\d{1,2}:\d{2}:\d{2}"""
  private val mysqlHeader =
    Pattern.compile(s"""(?:$mysqlTimestamp)?[ \\t]*(\\d+)[ \\t]+($mysqlCommands)[ \\t]*""")
  private val mysqlNextHeader =
    Pattern.compile(s"""\\n(?:$mysqlTimestamp)?[ \\t]*\\d+[ \\t]+(?:$mysqlCommands)\\b""")

  // L2 — Postgres log records: `yyyy-mm-dd hh:mm:ss.SSS +zz [pid] LOG:
  // statement: <body possibly spanning lines>`; the body runs to the next
  // `timestamp zone [pid]` prefix, wherever it starts. Analog of
  // server/LogManager.js:33-47.
  private val pgPrefix = """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d+ \S+ \[\d+\]"""
  private val pgHeader =
    Pattern.compile(s"""$pgPrefix (?:LOG|STATEMENT):\\s+(?:statement:\\s+)?""")
  private val pgNextHeader = Pattern.compile(pgPrefix)

  /** Record-split one log file's whole text into raw statement bodies
    * (whitespace collapsed + trimmed, as the reference does —
    * server/LogManager.js:24). MySQL keeps only `Query` records.
    */
  def splitRecords(text: String, dialect: Dialect): Seq[String] = {
    val mysql = dialect == MySqlLog
    val header = (if (mysql) mysqlHeader else pgHeader).matcher(text)
    val next = (if (mysql) mysqlNextHeader else pgNextHeader).matcher(text)
    val out = Vector.newBuilder[String]
    var from = 0
    while (header.find(from)) {
      val bodyStart = header.end
      val bodyEnd = if (mysql) mysqlBodyEnd(text, bodyStart, next)
        else if (next.find(bodyStart)) next.start
        else text.length
      if (!mysql || header.group(2) == "Query") {
        val body = collapseWhitespace(text, bodyStart, bodyEnd)
        if (body.nonEmpty) out += body
      }
      from = bodyEnd
    }
    out.result()
  }

  /** The first newline at or after `from` that starts the next MySQL
    * record header, or the end of the text. */
  private def mysqlBodyEnd(text: String, from: Int, next: Matcher): Int = {
    var nl = text.indexOf('\n', from)
    while (nl >= 0 && !next.region(nl, text.length).lookingAt()) nl = text.indexOf('\n', nl + 1)
    if (nl < 0) text.length else nl
  }

  /** `text.substring(from, until).replaceAll("\\s+", " ").trim` in one
    * pass: `trim` drops every char <= ' ' (control chars too) at both
    * ends, and runs of the regex's `\s` chars inside become one space.
    */
  private def collapseWhitespace(text: String, from: Int, until: Int): String = {
    var start = from
    var end = until
    while (start < end && text.charAt(start) <= ' ') start += 1
    while (end > start && text.charAt(end - 1) <= ' ') end -= 1
    val sb = new java.lang.StringBuilder(end - start)
    var i = start
    while (i < end) {
      val c = text.charAt(i)
      if (!isRegexSpace(c)) sb.append(c)
      else if (!isRegexSpace(text.charAt(i - 1))) sb.append(' ')
      i += 1
    }
    sb.toString
  }

  /** Java regex `\s`: [ \t\n\x0B\f\r]. */
  private def isRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Statements of one or more whole log files as a Dataset. Parallelism
    * is per file (wholetext read), record-splitting runs on executors.
    */
  def statements(spark: SparkSession, path: String, dialect: Dialect): Dataset[String] = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(path)
      .as[String].flatMap(splitRecords(_, dialect))
  }

  /** Statements from in-memory text (fixtures/tests). */
  def statementsFromText(spark: SparkSession, text: String, dialect: Dialect): Dataset[String] = {
    import spark.implicits._
    spark.createDataset(Seq(text)).flatMap(splitRecords(_, dialect))
  }

  // P6 — DML/DDL statements start with one of five keywords followed by
  // a word boundary (server/LogManager.js:25,:42).
  private val leadingKeyword = Pattern.compile("(?i)^(select|insert|update|delete|create)\\b")

  // L3 — table references: identifiers following FROM / JOIN / INTO /
  // UPDATE (+ CREATE TABLE), optionally backtick/double-quote wrapped,
  // optionally db-qualified. Analog of the reference's
  // node-sql-parser.tableList (server/LogManager.js:53-75): one distinct
  // (statement, type, table) mention per statement; statements yielding
  // no tables are skipped (the reference swallows parse errors —
  // server/LogManager.js:69-71).
  private val tableRefPattern = Pattern.compile(
    "(?i)\\b(?:from|join|into|update|create\\s+table(?:\\s+if\\s+not\\s+exists)?)\\s+[`\"]?(?:\\w+[`\"]?\\.[`\"]?)?(\\w+)[`\"]?")

  /** The lowercase leading keyword of a DML/DDL statement, else None.
    * The keyword is the statement's whole leading `\w+` run: the word
    * boundary after it rules out a following ASCII word char.
    */
  private def stmtType(stmt: String): Option[String] =
    if (stmt == null) None
    else {
      val m = leadingKeyword.matcher(stmt)
      if (m.lookingAt()) Some(lower(m.group(1))) else None
    }

  /** The distinct table references of one statement, in first-seen
    * order, as `regexp_extract_all` + `array_distinct` returned them. */
  private def tableRefs(stmt: String): Seq[String] = {
    val m = tableRefPattern.matcher(stmt).useTransparentBounds(true)
    val refs = scala.collection.mutable.LinkedHashSet.empty[String]
    var i = 0
    while (i < stmt.length) {
      if (mayStartRef(stmt.charAt(i)) && m.region(i, stmt.length).lookingAt()) {
        refs += m.group(1)
        i = m.end
      } else i += 1
    }
    refs.toSeq
  }

  private def mayStartRef(c: Char): Boolean = c match {
    case 'f' | 'F' | 'j' | 'J' | 'i' | 'I' | 'u' | 'U' | 'c' | 'C' => true
    case _ => false
  }

  /** Spark's `lower` on the ASCII `\w` runs both scans capture. */
  private def lower(s: String): String = UTF8String.fromString(s).toLowerCase.toString

  /** P6 — keep statements starting select|insert|update|delete|create
    * (case-insensitive; server/LogManager.js:25,:42) and classify by
    * leading keyword (the reference takes the type from its SQL parser;
    * the leading keyword is equivalent for these five).
    * Output: (stmt_type, stmt).
    */
  def classify(stmts: Dataset[String]): DataFrame = {
    import stmts.sparkSession.implicits._
    stmts.flatMap(s => stmtType(s).map(_ -> s)).toDF("stmt_type", "stmt")
  }

  /** Per-statement distinct table mentions: (stmt_type, table_name). */
  def tableMentions(stmts: Dataset[String]): DataFrame = {
    import stmts.sparkSession.implicits._
    stmts.flatMap(s => stmtType(s).toSeq.flatMap(t => tableRefs(s).map(r => (t, lower(r)))))
      .toDF("stmt_type", "table_name")
  }

  /** A5 — per-table workload counters: every mention adds the table's row
    * count to gaf; insert/update/delete mentions also add it to uaf
    * (server/models/Table.js:30-36, server/LogManager.js:77-100).
    * `rowCounts` is (table_name, num_rows) — tiny, broadcast.
    */
  def workloadStats(mentions: DataFrame, rowCounts: DataFrame): DataFrame =
    mentions
      .join(broadcast(rowCounts), Seq("table_name"), "inner")
      .groupBy("table_name")
      .agg(
        sum(col("num_rows")).as("gaf"),
        sum(when(col("stmt_type").isin("insert", "update", "delete"),
          col("num_rows")).otherwise(0L)).as("uaf"))

  /** Fold the computed stats back into the driver-side metadata (the
    * reference mutates its Table objects in place —
    * server/LogManager.js:86-99), including the A6 global threshold
    * maf = 0.0125 × Σ gaf (server/models/RelationalDatabase.js:17-24).
    */
  def applyWorkload(db: DatabaseMeta, stats: DataFrame): DatabaseMeta = {
    val byTable = stats.collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val tables = db.tables.map { t =>
      val (g, u) = byTable.getOrElse(t.name, (0L, 0L))
      t.copy(gaf = g, uaf = u)
    }
    db.copy(tables = tables, maf = tables.map(_.gaf).sum * 0.0125)
  }
}
