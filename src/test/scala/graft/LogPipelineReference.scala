package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.workload.LogPipeline.{Dialect, MySqlLog, PostgresLog}

/** The regex form of the log scans [[graft.workload.LogPipeline]] runs:
  * two whole-record patterns, each with a lazy body ended by a lookahead
  * for the next header, and three Spark regex expressions for
  * classification and table references. `LogPipelineEquivalenceSpec`
  * checks the production scans against it.
  */
object LogPipelineReference {

  private val mysqlCommands =
    "Connect|Query|Quit|Init DB|Field List|Prepare|Execute|Close stmt|Statistics|Change user|Refresh|Shutdown"
  private val mysqlRecord =
    s"""(?s)(?:\\d{6}\\s+\\d{1,2}:\\d{2}:\\d{2})?[ \\t]*(\\d+)[ \\t]+($mysqlCommands)[ \\t]*(.*?)(?=\\n(?:\\d{6}\\s+\\d{1,2}:\\d{2}:\\d{2})?[ \\t]*\\d+[ \\t]+(?:$mysqlCommands)\\b|\\z)""".r

  private val pgRecord =
    """(?s)\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d+ \S+ \[\d+\] (?:LOG|STATEMENT):\s+(?:statement:\s+)?(.*?)(?=\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d+ \S+ \[\d+\]|\z)""".r

  def splitRecords(text: String, dialect: Dialect): Seq[String] = {
    val bodies = dialect match {
      case MySqlLog =>
        mysqlRecord.findAllMatchIn(text)
          .filter(_.group(2).trim.equalsIgnoreCase("Query"))
          .map(_.group(3)).toSeq
      case PostgresLog =>
        pgRecord.findAllMatchIn(text).map(_.group(1)).toSeq
    }
    bodies.map(_.replaceAll("\\s+", " ").trim).filter(_.nonEmpty)
  }

  def classify(stmts: Dataset[String]): DataFrame =
    stmts.toDF("stmt")
      .filter(col("stmt").rlike("(?i)^(select|insert|update|delete|create)\\b"))
      .select(
        lower(regexp_extract(col("stmt"), "(?i)^(\\w+)", 1)).as("stmt_type"),
        col("stmt"))

  private val tableRefPattern =
    "(?i)\\b(?:from|join|into|update|create\\s+table(?:\\s+if\\s+not\\s+exists)?)\\s+[`\"]?(?:\\w+[`\"]?\\.[`\"]?)?(\\w+)[`\"]?"

  def tableMentions(stmts: Dataset[String]): DataFrame =
    classify(stmts)
      .select(
        col("stmt_type"),
        explode(array_distinct(
          regexp_extract_all(col("stmt"), lit(tableRefPattern), lit(1))))
          .as("table_name"))
      .select(col("stmt_type"), lower(col("table_name")).as("table_name"))
}
