package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins the reference SQL byte for byte: the SHA-256 of every
  * `SparkEntry.oracleSql` entry must equal its line in
  * `oracle_sql.sha256` (`<hex>  <query name>`, sorted by name). A
  * refactor of the oracle builders that changes one byte of one query's
  * DuckDB SQL fails here, naming the query. Builds no SparkSession and
  * runs no Spark job.
  */
class OracleSqlDigestSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private lazy val pinned: Map[String, String] = {
    val src = scala.io.Source.fromResource("oracle_sql.sha256")(scala.io.Codec.UTF8)
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(hex, name) = line.split("  ", 2)
      name -> hex
    }.toMap
    finally src.close()
  }

  test("the oracle query set is the pinned one") {
    val actual = SparkEntry.oracleSql.keySet
    assert(pinned.size === 174)
    assert((pinned.keySet -- actual).isEmpty, "pinned queries without oracle SQL")
    assert((actual -- pinned.keySet).isEmpty, "oracle SQL without a pinned digest")
  }

  test("every oracle SQL string hashes to its pinned digest") {
    val drift = SparkEntry.oracleSql.toSeq.sortBy(_._1).collect {
      case (name, sql) if pinned.get(name).exists(_ != sha256(sql)) => name
    }
    assert(drift.isEmpty, s"oracle SQL changed for: ${drift.mkString(", ")}")
  }
}
