package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The env-var integer parse behind `Sessions.fromEnv` (`SPARK_GRAFT_CPUS`)
  * and the shuffle-partition override: a malformed or non-positive value
  * fails fast with an error naming the variable, instead of a bare
  * `NumberFormatException` or a Spark error at the first shuffle. Driven
  * through the raw-string parse, so no process environment is touched. */
class SessionsSpec extends AnyFunSuite {

  test("a positive integer parses") {
    assert(Sessions.positiveInt("SPARK_GRAFT_CPUS", "4") == 4)
  }

  test("malformed or non-positive values name the variable") {
    for (raw <- Seq("abc", "", "4.5", " 4", "0", "-2", "99999999999")) {
      val e = intercept[IllegalArgumentException](
        Sessions.positiveInt("SPARK_GRAFT_CPUS", raw))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$raw'"), e.getMessage)
    }
  }
}
