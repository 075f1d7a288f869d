package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}

/** The document sink (SURVEY.md §2.1 S4). The reference writes one
  * `collection{i}.json` JSON-array file per non-empty root collection and
  * zips them (server/WriteToFile.js:5-62), with the whole dataset
  * stringified in driver memory. Here each collection writes as
  * distributed JSON-lines (`df.write.json`) — the scalable framing; null
  * fields are omitted by Spark's JSON writer (matching the reference's
  * key-omission for empty embeds), and empty collections are skipped
  * (server/WriteToFile.js:9-11).
  */
object JsonSink {

  /** Write every non-empty collection under `outDir/<name>/` and return
    * their names in input order. Each collection's plan runs exactly
    * once: the row count is observed on the write itself (an
    * [[org.apache.spark.sql.Observation]]), not probed up front — a
    * probe re-executes the whole nested fold, since nothing below a
    * `NestCollect` can be pruned away. A collection that wrote 0 rows
    * is not returned and leaves no `outDir/<name>`, also when that
    * directory is left over from an earlier run (the overwrite
    * replaces it, then the empty output is deleted).
    * `partitionBy` gives directory-partitioned output (e.g. by a region
    * or date column) — at cluster scale downstream consumers then prune
    * partitions instead of listing everything.
    */
  def write(
      collections: Seq[(String, DataFrame)],
      outDir: String,
      partitionBy: Seq[String] = Seq.empty): Seq[String] =
    collections.flatMap { case (name, df) =>
      val missing = partitionBy.filterNot(c =>
        df.columns.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"partitionBy columns not in $name: ${missing.mkString(", ")}")
      val rows = Observation()
      val w = df.observe(rows, count(lit(1)).as("rows")).write.mode("overwrite")
      val wp = if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)
      val path = new Path(s"$outDir/$name")
      wp.json(path.toString)
      if (rows.get("rows") != 0L) Some(name)
      else {
        path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).delete(path, true)
        None
      }
    }

  /** Byte-parity framing (S4): the reference emits one
    * `collection{i}.json` JSON-ARRAY file per non-empty collection and
    * zips them (server/WriteToFile.js:5-62). This export mode streams
    * each collection's JSON rows through the driver into the array
    * framing inside a zip — O(1) driver memory (iterator, not collect),
    * but single-writer by construction; it exists for output parity and
    * export, while [[write]] is the scale path.
    */
  def writeZippedArrays(
      collections: Seq[(String, DataFrame)], zipPath: String): Seq[String] = {
    val out = new java.util.zip.ZipOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(zipPath)))
    try {
      var idx = 0
      collections.flatMap { case (name, df) =>
        val it = df.toJSON.toLocalIterator()
        if (!it.hasNext) None
        else {
          idx += 1
          out.putNextEntry(new java.util.zip.ZipEntry(s"collection$idx.json"))
          out.write('[')
          var first = true
          while (it.hasNext) {
            if (!first) out.write(',')
            out.write(it.next().getBytes("UTF-8"))
            first = false
          }
          out.write(']')
          out.closeEntry()
          Some(name)
        }
      }
    } finally out.close()
  }

  /** L5 — date normalization parity (server/MySQLDBManager.js:268-276,
    * server/PostgresDBManager.js:284-293): the reference formats every
    * driver `Date` as a `"YYYY-MM-DD"` string in `Asia/Bangkok` time. The
    * reference *sniffs values* (so loosely that numeric-ish strings can be
    * misclassified — a recorded defect); we drive off the schema instead
    * and convert only true date/timestamp columns. Apply at scan time
    * (before nesting), as the reference does.
    */
  def normalizeDates(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case TimestampType =>
          d.withColumn(f.name,
            date_format(from_utc_timestamp(col(f.name), "Asia/Bangkok"), "yyyy-MM-dd"))
        case TimestampNTZType =>
          // NTZ wall-times are UTC by fixture convention; under a UTC
          // session the cast to instant is identity, then shift.
          d.withColumn(f.name,
            date_format(from_utc_timestamp(col(f.name).cast(TimestampType),
              "Asia/Bangkok"), "yyyy-MM-dd"))
        case DateType =>
          d.withColumn(f.name, date_format(col(f.name), "yyyy-MM-dd"))
        case _ => d
      }
    }

  /** A loader wrapper for parity mode: plug into
    * [[graft.map.DataMapper]] so every scanned table has its temporal
    * columns normalized before nesting.
    */
  def normalizingLoader(
      base: (SparkSession, String, String) => DataFrame): (SparkSession, String, String) => DataFrame =
    (spark, dir, table) => normalizeDates(base(spark, dir, table))
}
