package graft.sinks

import org.apache.spark.sql.DataFrame

/** The pluggable document-store sink seam (SURVEY.md §2.1 S4;
  * BASELINE.json frames the output side as "write to NoSQL connector").
  * The reference's only sink is zipped JSON-array files
  * (server/WriteToFile.js:5-62); this trait makes the output target a
  * dispatch point so the same mapped collections can go to JSON-lines
  * directories (the scale path), the reference's byte-parity zip, or a
  * document-store connector — without the migration pipeline knowing
  * which.
  *
  * Contract shared by all impls: empty collections are skipped
  * (server/WriteToFile.js:9-11) and the returned list names the
  * collections actually written, in input order. How empty is detected
  * is each impl's own business: [[JsonDirSink]] counts the rows its one
  * write observed (and deletes an empty collection's directory),
  * [[ZipArraySink]] sees no first row in the stream it copies, and
  * [[MongoShapedSink]] stages no batch (or delivers no document).
  */
trait DocumentSink {
  def write(collections: Seq[(String, DataFrame)]): Seq[String]
}

/** Distributed JSON-lines directories under `outDir/<collection>/` —
  * the 100 TB path (every executor writes its partition; optional
  * directory partitioning for downstream pruning). Delegates to
  * [[JsonSink.write]].
  */
final case class JsonDirSink(
    outDir: String,
    partitionBy: Seq[String] = Seq.empty) extends DocumentSink {
  override def write(collections: Seq[(String, DataFrame)]): Seq[String] =
    JsonSink.write(collections, outDir, partitionBy)
}

/** The reference's exact output framing: numbered JSON-array entries in
  * one zip (single-writer, export/parity use). Delegates to
  * [[JsonSink.writeZippedArrays]].
  */
final case class ZipArraySink(zipPath: String) extends DocumentSink {
  override def write(collections: Seq[(String, DataFrame)]): Seq[String] =
    JsonSink.writeZippedArrays(collections, zipPath)
}

/** MongoDB-shaped connector sink. Validates the connection URI, turns
  * each collection into the exact `insertMany`-shaped command batches a
  * connector would send — built DISTRIBUTED (`toJSON` + per-partition
  * batching; no driver-side collect) — and probes the server:
  *
  *   - server unreachable (this container): the payloads are still
  *     materialized and counted, so the full transform path is
  *     exercised and text-verifiable, and the sink reports the
  *     collections as staged rather than failing the pipeline;
  *   - server reachable: delivery needs the MongoDB wire driver on the
  *     classpath, which this build intentionally does not bundle (zero
  *     added dependencies) — it fails fast with a clear message rather
  *     than pretending to have written.
  *
  * The command text is the documented Mongo database-command shape
  * ({"insert": <collection>, "$db": <db>, "documents": [...]}), so a
  * production impl only swaps [[deliver]] for a driver call.
  */
final case class MongoShapedSink(
    uri: String,
    database: String,
    batchSize: Int = 1000) extends DocumentSink {
  require(batchSize > 0, s"batchSize must be positive, got $batchSize")

  private val HostPort = """mongodb://([^/:@\s]+)(?::(\d{1,5}))?/?""".r
  val (host: String, port: Int) = uri match {
    case HostPort(h, p) => (h, if (p == null) 27017 else p.toInt)
    case _ => throw new IllegalArgumentException(
      s"not a mongodb:// URI: $uri (expected mongodb://host[:port])")
  }
  require(database.nonEmpty && !database.contains('/'),
    s"invalid database name: '$database'")

  /** One `insertMany`-shaped command per ≤`batchSize` documents, built
    * per partition — batch construction scales with the data, only
    * command strings ever head toward the socket.
    */
  def commandBatches(name: String, df: DataFrame): org.apache.spark.sql.Dataset[String] = {
    val db = database; val bs = batchSize
    import df.sparkSession.implicits._
    df.toJSON.mapPartitions(_.grouped(bs).map(docs =>
      s"""{"insert":"$name","$$db":"$db","documents":[${docs.mkString(",")}]}"""))
  }

  /** True when a TCP connect to the configured endpoint succeeds. */
  def serverReachable(timeoutMs: Int = 500): Boolean = {
    val s = new java.net.Socket()
    try { s.connect(new java.net.InetSocketAddress(host, port), timeoutMs); true }
    catch { case _: java.io.IOException => false }
    finally s.close()
  }

  /** Send `batches` to the server; returns the number of documents
    * delivered, so a collection that delivered none counts as empty. */
  protected def deliver(name: String, batches: org.apache.spark.sql.Dataset[String]): Long =
    throw new UnsupportedOperationException(
      s"$host:$port is reachable, but wire delivery requires the MongoDB " +
        "Java driver on the classpath; this build stages and validates " +
        "insert batches only")

  /** One plan per collection: the batches are built and consumed once,
    * and the collection is empty exactly when they are. */
  override def write(collections: Seq[(String, DataFrame)]): Seq[String] = {
    val reachable = serverReachable()
    collections.flatMap { case (name, df) =>
      val batches = commandBatches(name, df)
      if (reachable) Option.when(deliver(name, batches) > 0)(name)
      else {
        // graceful skip: materialize the batches (the whole transform
        // runs and any malformed document would fail HERE), report,
        // and move on — a missing sink server must not lose the run.
        // An RDD count is one job; a Dataset count adds an exchange.
        val n = batches.rdd.count()
        if (n > 0) org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"[MongoShapedSink] $host:$port unreachable — staged $n " +
            s"insert batches for '$name' without delivery")
        Option.when(n > 0)(name)
      }
    }
  }
}
