package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Digest normalisation: row order and column order do not matter,
  * nulls compare equal, and any changed cell changes the digest. */
class DigestSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()

  private def frame(rows: Seq[(Option[Long], Option[String], Option[Double])]) = {
    import spark.implicits._
    rows.toDF("id", "name", "v")
  }

  private val rows = Seq((Some(1L), Some("a"), Some(1.5)), (Some(2L), None, Some(-0.0)),
    (None, Some("c"), None))

  test("row order does not matter") {
    assert(Digest.of(frame(rows)) == Digest.of(frame(rows.reverse)))
    assert(Digest.of(frame(rows).repartition(3)) == Digest.of(frame(rows).coalesce(1)))
  }

  test("column order does not matter") {
    val df = frame(rows)
    assert(Digest.of(df) == Digest.of(df.select("v", "id", "name")))
  }

  test("nulls compare equal, and a null differs from any value") {
    assert(Digest.of(frame(rows)) == Digest.of(frame(rows.map(identity))))
    val nullName = Seq((Some(1L), None, Some(1.0)))
    assert(Digest.of(frame(nullName)) == Digest.of(frame(nullName)))
    assert(Digest.of(frame(nullName)) != Digest.of(frame(Seq((Some(1L), Some("null"), Some(1.0))))))
    assert(Digest.of(frame(nullName)) != Digest.of(frame(Seq((Some(1L), Some(""), Some(1.0))))))
  }

  test("a null moved to another column changes the digest") {
    val a = frame(Seq((None, Some("1"), Some(1.0))))
    val b = frame(Seq((Some(1L), None, Some(1.0))))
    assert(Digest.of(a) != Digest.of(b))
  }

  test("-0.0 and 0.0 are the same value; a changed cell or a duplicated row is not") {
    assert(Digest.of(frame(Seq((Some(2L), None, Some(-0.0))))) == Digest.of(frame(Seq((Some(2L), None, Some(0.0))))))
    assert(Digest.of(frame(rows)) != Digest.of(frame(rows.updated(0, (Some(1L), Some("a"), Some(1.25))))))
    assert(Digest.of(frame(rows)) != Digest.of(frame(rows :+ rows.head)))
    assert(Digest.rows(Digest.of(frame(rows))) == 3)
  }

  test("column names are part of the digest") {
    val df = frame(rows)
    assert(Digest.of(df) != Digest.of(df.withColumnRenamed("v", "w")))
  }
}
