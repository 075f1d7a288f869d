package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of one span, summed over every call of it. */
final class SpanStats {
  var calls = 0L
  var wallMs = 0L
  var planMs = 0L
  var commitMs = 0L
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var schedMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleStageMs = 0L
  var resultStageMs = 0L
  /** Largest stage's task run times, for the skew ratio. */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max / mean task run time of the stage with the most tasks (1 = even). */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val ts = stageTaskMs.values.maxBy(_.size)
      val mean = ts.sum.toDouble / ts.size
      if (mean <= 0) 1.0 else ts.max / mean
    }
}

/** One `SparkListener` that sums job, stage and task metrics per span.
  *
  * The span is the job's `graftbench.span` local property. Spark copies
  * local properties into threads created while they are set, so jobs the
  * program submits from its own driver-side pools inherit the caller's
  * span; a job without the property counts as unattributed.
  */
final class SpanListener extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, (String, Long)]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val shuffleStages = mutable.Set.empty[Int]
  private val openJobs = mutable.Set.empty[Int]
  /** per call id: (first job start ms, last job end ms) */
  private val callJobs = mutable.Map.empty[Long, (Long, Long)]
  val stats = mutable.Map.empty[String, SpanStats]
  @volatile var unattributedJobs = 0L
  @volatile var lastEventMs = System.currentTimeMillis()
  @volatile var handlerNs = 0L

  def of(span: String): SpanStats = synchronized(stats.getOrElseUpdate(span, new SpanStats))

  private def timed(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    f
    lastEventMs = System.currentTimeMillis()
    handlerNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))) match {
      case Some(span) =>
        val call = props.flatMap(p => Option(p.getProperty(Tracer.CallKey))).map(_.toLong).getOrElse(-1L)
        jobSpan(e.jobId) = (span, call)
        openJobs += e.jobId
        e.stageIds.foreach(stageSpan(_) = span)
        of(span).jobs += 1
        val (first, last) = callJobs.getOrElse(call, (Long.MaxValue, 0L))
        callJobs(call) = (math.min(first, e.time), last)
      case None => unattributedJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    openJobs -= e.jobId
    jobSpan.get(e.jobId).foreach { case (_, call) =>
      val (first, last) = callJobs.getOrElse(call, (e.time, 0L))
      callJobs(call) = (first, math.max(last, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    stageSpan.get(info.stageId).foreach { span =>
      val ms = (for (s <- info.submissionTime; c <- info.completionTime) yield c - s).getOrElse(0L)
      val st = of(span)
      if (shuffleStages(info.stageId)) st.shuffleStageMs += ms else st.resultStageMs += ms
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    stageSpan.get(e.stageId).foreach { span =>
      val st = of(span)
      st.tasks += 1
      if (e.taskType == "ShuffleMapTask") shuffleStages += e.stageId
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        st.cpuNs += m.executorCpuTime
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.spillBytes += m.diskBytesSpilled
        st.inputBytes += m.inputMetrics.bytesRead
        st.outputBytes += m.outputMetrics.bytesWritten
        // Spark's scheduler delay: task time not spent deserializing,
        // running or shipping the result
        st.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        st.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
      }
    }
  }

  /** Fold one finished call: plan = call start → first job, commit = last
    * job end → return (the whole call when it ran no job). */
  def closeCall(span: String, call: Long, startMs: Long, endMs: Long): Unit = synchronized {
    val st = of(span)
    st.calls += 1
    st.wallMs += endMs - startMs
    callJobs.remove(call) match {
      case Some((first, last)) if first != Long.MaxValue =>
        st.planMs += math.max(0L, first - startMs)
        st.commitMs += math.max(0L, endMs - math.max(last, first))
      case _ => st.planMs += endMs - startMs
    }
  }

  /** Wait (bounded) until every started job has ended and no event has
    * arrived for `quietMs`: listener events are delivered asynchronously. */
  def drain(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def idle = synchronized(openJobs.isEmpty) && System.currentTimeMillis() - lastEventMs > quietMs
    while (!idle && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }
}

/** Wraps each call into a program layer. With tracing off it only times
  * the call; with tracing on it tags the call's jobs with the span name
  * and a call id, and folds the call into the listener once the listener
  * has seen the call's jobs. */
final class Tracer(sc: SparkContext, val listener: Option[SpanListener]) {
  private val pending = mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
  private val calls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var nextCall = 0L

  /** Wall seconds of every call, per span, in call order. */
  def callSeconds: Map[String, Seq[Double]] = calls.map { case (k, v) => k -> v.toSeq }.toMap

  def span[A](name: String)(f: => A): A = {
    val prevSpan = sc.getLocalProperty(Tracer.SpanKey)
    val prevCall = sc.getLocalProperty(Tracer.CallKey)
    val call = nextCall
    nextCall += 1
    if (listener.isDefined) {
      sc.setLocalProperty(Tracer.SpanKey, name)
      sc.setLocalProperty(Tracer.CallKey, call.toString)
    }
    val t0 = System.currentTimeMillis()
    try f
    finally {
      val t1 = System.currentTimeMillis()
      calls.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += (t1 - t0) / 1e3
      if (listener.isDefined) {
        pending += ((name, call, t0, t1))
        sc.setLocalProperty(Tracer.SpanKey, prevSpan)
        sc.setLocalProperty(Tracer.CallKey, prevCall)
      }
    }
  }

  /** Drain the listener and fold every finished call into its span. */
  def flush(): Unit = listener.foreach { l =>
    l.drain()
    pending.foreach { case (name, call, t0, t1) => l.closeCall(name, call, t0, t1) }
    pending.clear()
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val CallKey = "graftbench.call"
  /** Jobs the benchmark itself runs (set-up, checks); not reported. */
  val Bench = "bench.internal"

  /** Run the benchmark's own jobs under the [[Bench]] span. */
  def internal[A](sc: SparkContext)(f: => A): A = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, Bench)
    try f finally sc.setLocalProperty(SpanKey, prev)
  }
}
