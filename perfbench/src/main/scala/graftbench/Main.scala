package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One measured operation of a workload: wall and process CPU seconds.
  * `ok` is false when the call threw or one of its output checks failed. */
final case class Op(kind: String, seconds: Double, cpuSeconds: Double, ok: Boolean, detail: String = "")

/** What a workload hands back: its operations, per-layer extras and the
  * digest of its outputs. */
final case class Outcome(ops: Seq[Op], extras: Map[String, Double], digest: String,
    info: Map[String, Any])

/** JVM side of the benchmark. `perfbench/run.py` generates the inputs,
  * starts this main once per run and turns the record it writes into
  * metrics:
  *
  * {{{
  * graftbench.Main --workload W --manifest M.json --work DIR --out R.json
  *                 --seconds S --warm K --trace 0|1 --cores N [--deadline SEC]
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = System.nanoTime()
    val deadline = t0 + (a.getOrElse("deadline", "140").toDouble * 1e9).toLong
    val cores = a("cores").toInt
    val work = new File(a("work")).getAbsolutePath
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val warm = a("warm").toInt
    val workload = a("workload")
    val m = new ObjectMapper().readTree(new File(a("manifest")))
    val loadBefore = loadavg()

    // set-up: the session build with the graft extensions plus a warm-up
    // job, once in this fresh JVM, so class loading, static init and
    // extension registration are part of it
    val (s0, c0) = (System.nanoTime(), Files.cpuNanos())
    val spark = session(cores, work)
    warmUp(spark, m)
    val (setupS, setupCpuS) = ((System.nanoTime() - s0) / 1e9, (Files.cpuNanos() - c0) / 1e9)
    val listener = if (trace) Some(new SpanListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(spark.sparkContext, listener)
    val dir = s"$work/run"
    Files.reset(dir)
    // the inputs say which kind of workload this is
    val runner: Runner =
      if (m.has("tables_dir")) new Migrate(spark, tracer, m, dir)
      else if (m.has("stream")) new Ingest(spark, tracer, m, dir)
      else throw new IllegalArgumentException(s"no runner for the inputs of $workload")
    val outcome = runner.run(seconds, warm, deadline)
    tracer.flush()
    val runWallS = (System.nanoTime() - t0) / 1e9
    val layers = listener.map { l =>
      l.stats.map { case (span, st) => span -> Map(
        "calls" -> st.calls, "wall_s" -> st.wallMs / 1e3, "plan_s" -> st.planMs / 1e3,
        "commit_s" -> st.commitMs / 1e3, "jobs" -> st.jobs, "tasks" -> st.tasks,
        "exec_cpu_s" -> st.cpuNs / 1e9, "sched_delay_s" -> st.schedMs / 1e3,
        "shuffle_write_mb" -> st.shuffleWriteBytes / 1e6,
        "shuffle_read_mb" -> st.shuffleReadBytes / 1e6, "spill_mb" -> st.spillBytes / 1e6,
        "input_mb" -> st.inputBytes / 1e6, "output_mb" -> st.outputBytes / 1e6,
        "shuffle_stage_s" -> st.shuffleStageMs / 1e3, "result_stage_s" -> st.resultStageMs / 1e3,
        "task_skew" -> st.taskSkew)
      }.toMap
    }
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
    val record = Map(
      "setup_s" -> setupS, "setup_cpu_s" -> setupCpuS,
      "workload" -> workload,
      "ops" -> outcome.ops.map(op => Map("kind" -> op.kind, "s" -> op.seconds, "cpu_s" -> op.cpuSeconds,
        "ok" -> op.ok, "detail" -> op.detail)),
      "extras" -> outcome.extras, "digest" -> outcome.digest, "info" -> outcome.info,
      "layers" -> layers,
      "span_call_s" -> tracer.callSeconds,
      "unattributed_jobs" -> listener.map(_.unattributedJobs),
      "listener_s" -> listener.map(_.handlerNs / 1e9),
      "run_wall_s" -> runWallS,
      "driver" -> Map("gc_s" -> gcS, "heap_peak_mb" -> heapPeakMb,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6),
      "master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg())
    spark.stop()
    val out = new File(a("out"))
    java.nio.file.Files.write(out.toPath, Json.render(record).getBytes("UTF-8"))
  }

  /** The session the program's own bench entry builds, with every local
    * directory inside the work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def warmUp(spark: SparkSession, manifest: JsonNode): Unit = Tracer.internal(spark.sparkContext) {
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    spark.read.parquet(manifest.get("warmup_parquet").asText).limit(10).collect()
  }

  def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ").take(3).mkString(",")
      finally src.close()
    } catch { case _: Exception => "unavailable" }
}

/** A workload's measured part: a cold first operation, then at least
  * `warm` repeated operations, more while `seconds` have not passed, and
  * none started past `deadline` (nanoTime). */
trait Runner {
  def run(seconds: Double, warm: Int, deadline: Long): Outcome
}

/** Local-filesystem helpers for the work directory. */
object Files {
  def reset(dir: String): Unit = {
    delete(new File(dir))
    new File(dir).mkdirs()
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** Data files under `dir` (Spark output parts; no markers or checksums). */
  def dataFiles(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith("part-")) Seq(f) else Seq.empty
    walk(new File(dir))
  }

  def dataBytes(dir: String): Long = dataFiles(dir).map(_.length).sum

  /** CPU time of every thread of this JVM (driver, executors, GC, JIT). */
  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString.take(16)
}
