package graft.sources

import java.util.Properties
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model._

/** The production-path source (SURVEY.md §2.1 S1/S5): live MySQL or
  * PostgreSQL over JDBC, with catalog introspection as pushed-down
  * queries over `information_schema` — the same relational content the
  * reference computes (server/MySQLDBManager.js:97-252,
  * server/PostgresDBMigration analog :127-276), expressed as JDBC
  * subqueries so the source DBMS evaluates them (one round trip per
  * catalog query, never per row).
  *
  * The test harness is file-based (no live DBMS in the container), so
  * this module is exercised only through its query text and the shared
  * downstream model ([[TableMeta]]); the parquet path
  * ([[Tables]]/[[graft.operators.Catalog]]) covers the operator
  * semantics against the DuckDB oracle.
  */
object JdbcSource {

  sealed trait Dialect { def name: String }
  case object MySql extends Dialect { val name = "mysql" }
  case object Postgres extends Dialect { val name = "postgresql" }

  final case class Conn(url: String, user: String, password: String, database: String) {
    def props: Properties = {
      val p = new Properties()
      p.setProperty("user", user)
      p.setProperty("password", password)
      p
    }
  }

  /** Full table scan (S1): partitioned read when a numeric PK is known —
    * `numPartitions` concurrent range scans instead of one cursor.
    */
  def readTable(
      spark: SparkSession,
      conn: Conn,
      table: String,
      partitionColumn: Option[String] = None,
      numPartitions: Int = 8): DataFrame =
    partitionColumn match {
      case Some(pk) =>
        val bounds = spark.read.jdbc(conn.url,
          s"(SELECT MIN($pk) lo, MAX($pk) hi FROM $table) b", conn.props).first()
        if (bounds.isNullAt(0)) spark.read.jdbc(conn.url, table, conn.props)
        else spark.read.jdbc(conn.url, table, pk,
          bounds.getLong(0), bounds.getLong(1), numPartitions, conn.props)
      case None => spark.read.jdbc(conn.url, table, conn.props)
    }

  /** S7 analog — row count per table (exact COUNT(*), as the reference
    * issues; planner estimates would not satisfy the gaf/uaf weights).
    */
  def rowCountSql(table: String): String =
    s"(SELECT COUNT(*) AS num_rows FROM $table) q"

  /** S8 analog — ordinal-ordered column list per table. */
  def tableColumnsSql(d: Dialect, db: String): String = d match {
    case MySql =>
      s"""(SELECT TABLE_NAME AS table_name,
         |  GROUP_CONCAT(COLUMN_NAME ORDER BY ORDINAL_POSITION SEPARATOR ', ') AS columns
         |FROM information_schema.COLUMNS
         |WHERE TABLE_SCHEMA = '$db' GROUP BY TABLE_NAME) q""".stripMargin
    case Postgres =>
      s"""(SELECT table_name,
         |  array_to_string(array_agg(column_name ORDER BY ordinal_position), ', ') AS columns
         |FROM information_schema.columns
         |WHERE table_schema = 'public' GROUP BY table_name) q""".stripMargin
  }

  /** S9 analog — PK and FK constraints per table. */
  def foreignKeysSql(d: Dialect, db: String): String = d match {
    case MySql =>
      s"""(SELECT TABLE_NAME AS table_name, COLUMN_NAME AS column_name,
         |  REFERENCED_TABLE_NAME AS referenced_table,
         |  REFERENCED_COLUMN_NAME AS referenced_column
         |FROM information_schema.KEY_COLUMN_USAGE
         |WHERE TABLE_SCHEMA = '$db' AND REFERENCED_TABLE_NAME IS NOT NULL) q""".stripMargin
    case Postgres =>
      s"""(SELECT k.table_name, k.column_name,
         |  ccu.table_name AS referenced_table,
         |  ccu.column_name AS referenced_column
         |FROM information_schema.key_column_usage k
         |JOIN information_schema.table_constraints tc
         |  ON tc.constraint_name = k.constraint_name
         | AND tc.constraint_schema = k.constraint_schema
         |JOIN information_schema.constraint_column_usage ccu
         |  ON ccu.constraint_name = tc.constraint_name
         | AND ccu.constraint_schema = tc.constraint_schema
         |WHERE tc.constraint_type = 'FOREIGN KEY'
         |  AND k.table_schema = 'public') q""".stripMargin
  }

  /** Introspect a live database into [[DatabaseMeta]] through the
    * standard `java.sql.DatabaseMetaData` API — the dialect-independent
    * fallback for engines with neither `information_schema` nor
    * `pg_catalog` (Derby, SQLite, Oracle, …). Catalog metadata is
    * driver-side by nature (tens of rows); row counts still go through
    * Spark's JDBC reader as pushed-down `COUNT(*)` subqueries, so the
    * data-plane path is exercised and the source DBMS does the counting.
    * Unlike the dialect SQL path, `DatabaseMetaData.getPrimaryKeys` also
    * yields PK columns, which the file path gets from [[SchemaSpec]].
    */
  def introspectViaMetadata(
      spark: SparkSession,
      conn: Conn,
      schemaPattern: String = null): DatabaseMeta = {
    def drain[A](rs: java.sql.ResultSet)(f: java.sql.ResultSet => A): Seq[A] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[A]
      while (rs.next()) buf += f(rs)
      rs.close()
      buf.toSeq
    }
    val jdbc = java.sql.DriverManager.getConnection(conn.url, conn.props)
    try {
      val md = jdbc.getMetaData
      val tables = drain(md.getTables(null, schemaPattern, "%", Array("TABLE")))(
        _.getString("TABLE_NAME"))
      val metas = tables.map { t =>
        val cols = drain(md.getColumns(null, schemaPattern, t, "%"))(rs =>
          rs.getInt("ORDINAL_POSITION") -> rs.getString("COLUMN_NAME"))
          .sortBy(_._1).map(_._2)
        val pks = drain(md.getPrimaryKeys(null, schemaPattern, t))(rs =>
          rs.getShort("KEY_SEQ") -> rs.getString("COLUMN_NAME"))
          .sortBy(_._1).map(_._2)
        val fks = drain(md.getImportedKeys(null, schemaPattern, t))(rs =>
          ForeignKeyMeta(rs.getString("FKCOLUMN_NAME"),
            rs.getString("PKTABLE_NAME"), rs.getString("PKCOLUMN_NAME")))
        // COUNT(*) surfaces as INTEGER on some engines (Derby), BIGINT
        // on others — go through Number
        val n = spark.read.jdbc(conn.url, rowCountSql(t), conn.props)
          .first().get(0).asInstanceOf[Number].longValue()
        (t, cols, pks, fks, n)
      }
      val referencedBy = metas
        .flatMap { case (t, _, _, fks, _) => fks.map(fk => fk.referencedTable -> t) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
      DatabaseMeta(conn.database, metas.map { case (t, cols, pks, fks, n) =>
        TableMeta(t, n, cols, pks, fks,
          isReferenced = referencedBy.contains(t),
          referencingTables = referencedBy.getOrElse(t, Seq.empty))
      })
    } finally jdbc.close()
  }

  /** Introspect a live database into [[DatabaseMeta]] (the JDBC analog
    * of [[graft.operators.Catalog.introspect]]).
    */
  def introspect(spark: SparkSession, d: Dialect, conn: Conn): DatabaseMeta = {
    def q(sql: String): DataFrame = spark.read.jdbc(conn.url, sql, conn.props)
    val fks = q(foreignKeysSql(d, conn.database)).collect().map(r =>
      (r.getString(0), ForeignKeyMeta(r.getString(1), r.getString(2), r.getString(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val cols = q(tableColumnsSql(d, conn.database)).collect()
      .map(r => r.getString(0) -> r.getString(1).split(", ").toSeq).toMap
    val referencedBy = fks.toSeq
      .flatMap { case (t, f) => f.map(fk => fk.referencedTable -> t) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
    val tables = cols.keys.toSeq.sorted.map { t =>
      val n = q(rowCountSql(t)).first().getLong(0)
      TableMeta(t, n, cols(t), primaryKeys = Seq.empty,
        foreignKeys = fks.getOrElse(t, Seq.empty),
        isReferenced = referencedBy.contains(t),
        referencingTables = referencedBy.getOrElse(t, Seq.empty))
    }
    DatabaseMeta(conn.database, tables)
  }
}
