package graft

import graft.plans.DeflateSize
import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.functions._

class DeflateSpec extends SparkSpec {
  import spark.implicits._

  private def deflateSize(c: Column): Column =
    GraftSqlShim.column(DeflateSize(GraftSqlShim.expression(c)))

  /** deflate bytes / raw UTF-8 bytes, NULL for the empty string. */
  private def deflateRatio(c: Column): Column = {
    val raw = octet_length(c)
    when(raw === 0, lit(null).cast("double"))
      .otherwise(deflateSize(c).cast("double") / raw.cast("double"))
  }

  private def ratios(ss: String*): Seq[Option[Double]] =
    ss.toDF("s").select(deflateRatio(col("s")))
      .as[Option[Double]].collect().toSeq

  test("structure compresses: padding < repeated phrase < prose < hex noise") {
    val Seq(pad, phrase, prose, noise) = ratios(
      "a" * 400,
      "the quick brown fox " * 20,
      "Weather observation quality depends on sensor calibration, " +
        "station siting, reporting cadence, and the maintenance history " +
        "of each instrument deployed in the field network.",
      (1 to 50).map(i => graft.plans.Hash60Impl.hash(s"n$i".getBytes).toHexString).mkString)
    assert(pad.get < phrase.get)
    assert(phrase.get < prose.get)
    // short prose pays deflate's fixed overhead, so compare noise
    // against the structured strings, not against prose
    assert(noise.get > phrase.get)
    assert(pad.get < 0.1)
    assert(noise.get > 0.5)
  }

  test("deterministic within a JVM and null/empty safe") {
    val a = ratios("some stable text", "some stable text")
    assert(a(0) == a(1))
    val e = Seq[Option[String]](None, Some("")).toDF("s")
      .select(deflateRatio(col("s"))).as[Option[Double]].collect().toSeq
    assert(e == Seq(None, None))
  }

  test("deflateSize stays inside whole-stage codegen") {
    val q = Seq("abc").toDF("s").repartition(2)
      .select(deflateSize(col("s")))
    q.collect()
    assert(q.queryExecution.executedPlan.toString.contains("*(1) Project"))
  }
}
