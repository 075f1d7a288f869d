package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.{ListenerDrain, TaskContext}
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.tools.DriverPool

/** `SPARK_GRAFT_POOL_TIMEOUT_SEC` parsing: the default when unset, and a
  * named IllegalArgumentException (never a bare NumberFormatException
  * from inside an index verb) for a non-numeric or non-positive value.
  * And the timeout itself: it cancels the pool's jobs and waits for them.
  */
class DriverPoolSpec extends SparkSpec {

  test("pool timeout defaults to 3600 s when the variable is unset") {
    assert(DriverPool.timeoutFromEnv(Map.empty) === 3600L)
    assert(DriverPool.timeoutFromEnv(
      Map("SPARK_GRAFT_POOL_TIMEOUT_SEC" -> " 90 ")) === 90L)
  }

  test("a non-numeric pool timeout fails naming the variable") {
    val e = intercept[IllegalArgumentException](DriverPool.timeoutFromEnv(
      Map("SPARK_GRAFT_POOL_TIMEOUT_SEC" -> "ten")))
    assert(!e.isInstanceOf[NumberFormatException])
    assert(e.getMessage.contains("SPARK_GRAFT_POOL_TIMEOUT_SEC"))
    assert(e.getMessage.contains("ten"))
  }

  test("a non-positive pool timeout fails naming the variable") {
    Seq("0", "-5").foreach { v =>
      val e = intercept[IllegalArgumentException](DriverPool.timeoutFromEnv(
        Map("SPARK_GRAFT_POOL_TIMEOUT_SEC" -> v)))
      assert(e.getMessage.contains("SPARK_GRAFT_POOL_TIMEOUT_SEC"))
    }
  }

  test("a timeout cancels the pool's jobs, under the caller's job group, before it throws") {
    val sc = spark.sparkContext
    val ended = new AtomicBoolean(false)
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        results.add(e.jobResult == JobSucceeded)
    }
    ListenerDrain(sc)
    sc.addSparkListener(l)
    sc.setJobGroup("pool-caller", "the caller's group")
    val t0 = System.nanoTime()
    try {
      intercept[java.util.concurrent.TimeoutException](DriverPool.awaitAll(Seq(
        () => try spark.range(0, 1, 1, 1).foreach { _ =>
          val stop = System.nanoTime() + 60L * 1000000000L
          while (!TaskContext.get().isInterrupted() && System.nanoTime() < stop)
            Thread.sleep(20)
        } finally ended.set(true),
        () => ()), timeoutSec = 2))
      assert(ended.get, "the sleeping job ended before awaitAll threw")
      assert((System.nanoTime() - t0) / 1e9 < 30, "cancelled, not run to its end")
      ListenerDrain(sc)
      assert(groups.toArray.toSeq === Seq("pool-caller"), "the tag kept the caller's group")
      assert(results.toArray.toSeq === Seq(false), "the job ended cancelled")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
