package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.DriverPool

/** `SPARK_GRAFT_POOL_TIMEOUT_SEC` parsing: the default when unset, and a
  * named IllegalArgumentException (never a bare NumberFormatException
  * from inside an index verb) for a non-numeric or non-positive value.
  */
class DriverPoolSpec extends AnyFunSuite {

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
}
