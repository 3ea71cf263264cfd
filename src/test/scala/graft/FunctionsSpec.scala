package graft

import graft.functions.{WeatherFunctions => WF}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  /** A6 deterministic mode as Recap.hourly and q_mode_det compute it:
    * the oracle's `ORDER BY n DESC, value ASC`. */
  private def modeDet(c: Column): Column = mode(c, deterministic = true)

  test("deterministic mode: majority wins") {
    val df = Seq(("a", "rain"), ("a", "rain"), ("a", "sun")).toDF("k", "v")
    val r = df.groupBy($"k").agg(modeDet($"v").as("m")).head()
    assert(r.getAs[String]("m") == "rain")
  }

  test("deterministic mode: tie broken by lexicographically smallest") {
    // group b ties U+FFFD with U+1F600: in UTF-8 byte order (DuckDB's
    // ORDER BY) U+FFFD is smaller, while UTF-16 order (Scala String
    // comparison) would pick U+1F600's surrogate pair
    val (fffd, grin) = ("\uFFFD", "\uD83D\uDE00")
    val df = Seq(("a", "sun"), ("a", "rain"), ("a", "rain"), ("a", "sun"),
      ("b", grin), ("b", fffd), ("b", grin), ("b", fffd)).toDF("k", "v")
    val m = df.groupBy($"k").agg(modeDet($"v").as("m")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("a" -> "rain", "b" -> fffd))
  }

  test("deterministic mode: nulls ignored; all-null group yields null") {
    val df = Seq(("a", Option("x")), ("a", None), ("b", None)).toDF("k", "v")
    val m = df.groupBy($"k").agg(modeDet($"v").as("m")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("a") == "x" && m("b") == null)
  }

  test("heat index matches a known NWS table point (±1.5°F tolerance)") {
    // NWS heat index chart: T=90°F, RH=70% → HI ≈ 105°F
    val df = Seq((WF.fToC(lit(90.0)), 70.0)).map(_ => (32.222222, 70.0)).toDF("t_c", "rh")
    val hiF = df.select(WF.cToF(WF.heatIndexC($"t_c", $"rh")).as("hi")).head().getAs[Double]("hi")
    assert(math.abs(hiF - 105.0) < 1.5, s"heat index was $hiF")
  }

  test("c/f conversion round-trips") {
    val df = Seq(25.0, -10.0, 0.0).toDF("c")
    val rows = df.select(WF.fToC(WF.cToF($"c")).as("rt"), $"c").collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
  }

  test("zeroPad2 pads to two digits") {
    val r = Seq(0, 5, 50).toDF("n").select(WF.zeroPad2($"n").as("p")).as[String].collect()
    assert(r.toSeq == Seq("00", "05", "50"))
  }

  test("timestamp parse/format round-trips the reference format") {
    val df = Seq("2024-01-02 03:04:05").toDF("s")
    val r = df.select(WF.formatTs(to_timestamp($"s", "yyyy-MM-dd HH:mm:ss")).as("rt"))
      .head().getString(0)
    assert(r == "2024-01-02 03:04:05")
  }
}
