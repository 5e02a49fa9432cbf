package graft

import org.scalatest.funsuite.AnyFunSuite

class TestDepthSpec extends AnyFunSuite {
  test("SPARK_GRAFT_FULL_TESTS: unset, empty, 0 and false (any case) mean off") {
    for (v <- Seq(None, Some(""), Some("0"), Some("false"), Some("FALSE"), Some(" False ")))
      assert(!TestDepth.enabled(v), v)
    for (v <- Seq(Some("1"), Some("true"), Some("yes")))
      assert(TestDepth.enabled(v), v)
  }
}
