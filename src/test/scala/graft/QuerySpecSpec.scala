package graft

import graft.queries.QuerySpec
import org.scalatest.funsuite.AnyFunSuite

class QuerySpecSpec extends AnyFunSuite {

  test("a shares entry outside the warmup stages fails when the spec is built") {
    val e = intercept[IllegalArgumentException](
      QuerySpec("q_typo", (s, _) => s.emptyDataFrame, "SELECT 1", shares = Set("nearup")))
    assert(e.getMessage.contains("nearup"))
    intercept[IllegalArgumentException](SparkEntry.consumersOf("nearup"))
  }
}
