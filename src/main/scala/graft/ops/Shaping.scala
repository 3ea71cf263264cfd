package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Row-shaping operators: discriminated union (SURVEY §2.7). */
object Shaping {

  /** §2.7 — discriminated union of two source frames (reference:
    * current + history paths both append to raw_weather with a
    * fetch_method discriminator, dags/fetch_weather.py:81,126).
    * unionByName tolerates column order differences; allowMissing
    * stays false — schema drift should fail loudly. */
  def discriminatedUnion(a: DataFrame, aTag: String, b: DataFrame, bTag: String): DataFrame =
    a.withColumn("fetch_method", lit(aTag))
      .unionByName(b.withColumn("fetch_method", lit(bTag)))
}
