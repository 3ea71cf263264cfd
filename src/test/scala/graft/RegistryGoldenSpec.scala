package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry must match the golden snapshot in
  * `registry-golden.tsv`, taken before the queries moved into
  * per-family QuerySpec files: the same names, byte-identical oracle
  * and invariant SQL (by SHA-256), and the same Bench regime tags,
  * receipt set and shared-warmup consumer sets. */
class RegistryGoldenSpec extends AnyFunSuite {

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private val golden: Map[String, Seq[Seq[String]]] = {
    val src = scala.io.Source.fromResource("registry-golden.tsv")
    try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t").toSeq).toSeq.groupBy(_.head)
      .map { case (k, rows) => k -> rows.map(_.tail).sortBy(_.mkString("\t")) }
    finally src.close()
  }

  private def rows(kind: String): Seq[Seq[String]] = golden.getOrElse(kind, Nil)

  test("the same query names") {
    assert(SparkEntry.queries.keys.toSeq.sorted == rows("query").map(_.head))
  }

  test("every oracle is byte-identical") {
    val now = SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => Seq(k, sha(v)) }
    assert(now == rows("oracle"))
  }

  test("every invariant is byte-identical") {
    val now = SparkEntry.invariantSql.toSeq.sortBy(_._1)
      .map { case (k, v) => Seq(k, sha(v.mkString("\u0000"))) }
    assert(now == rows("invariant"))
  }

  test("bench regime tags and receipt set are unchanged") {
    val regimes = SparkEntry.specs.collect { case q if q.regime.nonEmpty => Seq(q.name, q.regime.get) }
    assert(regimes.sortBy(_.head) == rows("regime"))
    assert(SparkEntry.specs.filter(_.isReceipt).map(q => Seq(q.name)).sortBy(_.head) == rows("receipt"))
  }

  test("bench warmup consumer sets are unchanged") {
    val expected = rows("warmup")
    val now = expected.map(_.head)
      .map(stage => Seq(stage, SparkEntry.consumersOf(stage).toSeq.sorted.mkString(",")))
    assert(now == expected)
    assert(SparkEntry.specs.flatMap(_.shares).toSet == now.map(_.head).toSet)
  }

  test("a query filter with an unknown name throws") {
    assert(SparkEntry.queryFilter(" q_ab_test, q_anti_join ,", "filter") ==
      Set("q_ab_test", "q_anti_join"))
    val e = intercept[IllegalArgumentException](SparkEntry.queryFilter("q_ab_test,q_ab_tset", "filter"))
    assert(e.getMessage.contains("q_ab_tset"))
  }
}
