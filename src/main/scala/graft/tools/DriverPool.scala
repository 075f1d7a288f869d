package graft.tools

/** Driver-side overlap of INDEPENDENT Spark actions (guide §2.6): the
  * scheduler happily runs several jobs at once inside one application —
  * actions are only sequential because driver code calls them
  * sequentially — so a verb that commits several independent tables
  * (the near-dup index's shingles/sizes/hashes, a compaction's
  * per-table rewrites) submits them from a small pool and the next
  * job's tasks back-fill the tail of the previous one. Tiny-data index
  * writes are dominated by per-job scheduling + commit latency, which
  * is exactly the part overlap hides.
  *
  * Failure discipline (the Events.compactClosedSessions lesson, round
  * 18 advisory): await EVERY task — bounded — before rethrowing the
  * first failure, so the method never exits while a sibling is still
  * mutating its directory. `shutdown()` does not cancel running tasks,
  * so each call tags its tasks' Spark jobs (`SparkContext.addJobTag`; a
  * tag adds to the caller's job group, it does not replace it) and a
  * timeout cancels them by that tag and waits for the pool's threads
  * before it rethrows.
  */
object DriverPool {

  /** Run `tasks` concurrently on a ≤4-thread pool; block until ALL
    * complete (or the per-task bound expires), then rethrow the first
    * failure. On a timeout, the tasks' Spark jobs are cancelled and the
    * pool's threads are awaited (bounded again) first. Single-task and
    * empty lists run inline — no pool.
    */
  def awaitAll(tasks: Seq[() => Unit],
      timeoutSec: Long = timeoutFromEnv()): Unit = {
    if (tasks.sizeIs <= 1) { tasks.foreach(_.apply()); return }
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).map(_.sparkContext)
    val tag = s"graft-driver-pool-${java.util.UUID.randomUUID}"
    val bound = scala.concurrent.duration.Duration(timeoutSec,
      java.util.concurrent.TimeUnit.SECONDS)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, tasks.size))
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      // the pool's threads inherit the caller's job group and span
      // properties; the tag is added on each pool thread only
      val fs = tasks.map(t => scala.concurrent.Future {
        sc.foreach(_.addJobTag(tag))
        t.apply()
      })
      var timedOut = false
      val results = fs.map { f =>
        val r = scala.util.Try(scala.concurrent.Await.result(f, bound))
        if (!timedOut && r.failed.toOption
            .exists(_.isInstanceOf[java.util.concurrent.TimeoutException])) {
          timedOut = true
          sc.foreach(_.cancelJobsWithTag(tag))
        }
        r
      }
      if (timedOut) {
        pool.shutdown()
        pool.awaitTermination(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      }
      results.collectFirst { case scala.util.Failure(e) => throw e }
    } finally pool.shutdown()
  }

  private val TimeoutVar = "SPARK_GRAFT_POOL_TIMEOUT_SEC"

  /** The per-task bound from `SPARK_GRAFT_POOL_TIMEOUT_SEC` (3600 s when
    * unset). A value that is not a positive whole number of seconds
    * fails here, naming the variable, instead of as a bare
    * NumberFormatException from inside whichever verb first opens a
    * pool.
    */
  private[graft] def timeoutFromEnv(env: Map[String, String] = sys.env): Long =
    env.get(TimeoutVar).fold(3600L) { v =>
      v.trim.toLongOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$TimeoutVar must be a positive whole number of seconds, got '$v'"))
    }
}
