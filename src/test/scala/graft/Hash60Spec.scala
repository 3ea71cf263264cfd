package graft

import graft.plans.Hash60
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class Hash60Spec extends SparkSpec {
  import spark.implicits._

  /** Composed built-in form of hash60: the reference semantics the
    * native expression must reproduce. */
  private def hash60Composed(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private lazy val strs =
    (Seq("", "a", "abc", "the_quick_brown", "€ünïcødé", "x" * 500) ++
      (0 until 200).map(i => s"token_$i")).toDF("s")

  test("native Hash60 ≡ composed conv(substring(md5)) form, incl. unicode and empty") {
    val rows = strs.select(
      Hash60.hash60($"s").as("native"),
      hash60Composed($"s").as("composed")
    ).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("native expression stays inside whole-stage codegen") {
    // needs a real scan (a LocalTableScan projection has no codegen stage)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = docs.select(Hash60.hash60($"text")).queryExecution.executedPlan.toString
    // whole-stage codegen renders as a "*(n)" stage prefix
    assert(plan.contains("*(1) Project"), plan)
    assert(plan.contains("graft_hash60"), plan)
  }

  test("values are non-negative 60-bit") {
    val vals = strs.select(Hash60.hash60($"s")).as[Long].collect()
    assert(vals.forall(v => v >= 0 && v < (1L << 60)))
  }
}
