package graft

import org.scalatest.funsuite.AnyFunSuite

/** Env parsing at session build: a bad value fails naming its variable
  * instead of reaching a static Spark conf untouched.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CODEGEN_CACHE: unset default, valid override, bad value") {
    assert(GraftSession.codegenCacheEntries(None) == 8000)
    assert(GraftSession.codegenCacheEntries(Some("12000")) == 12000)
    val e = intercept[IllegalArgumentException](
      GraftSession.codegenCacheEntries(Some("8k")))
    assert(e.getMessage.contains("SPARK_GRAFT_CODEGEN_CACHE"))
  }
}
