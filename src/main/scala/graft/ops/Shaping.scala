package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-shaping operators: envelope assembly, discriminated union
  * (SURVEY §2.2 O10, §2.7).
  */
object Shaping {

  /** O10 — envelope projection: wrap payload columns into a nested
    * struct and stamp batch metadata (reference builds
    * {created_at, dag_times, fetch_method, location, current} at
    * dags/fetch_weather.py:78-85). Pure narrow projection. */
  def envelope(df: DataFrame, payloadCols: Seq[String], batchStart: Column, batchEnd: Column, method: String): DataFrame =
    df.select(
      struct(payloadCols.map(col): _*).as("payload"),
      struct(batchStart.as("start"), batchEnd.as("end")).as("batch_window"),
      lit(method).as("fetch_method")
    )

  /** §2.7 — discriminated union of two source frames (reference:
    * current + history paths both append to raw_weather with a
    * fetch_method discriminator, dags/fetch_weather.py:81,126).
    * unionByName tolerates column order differences; allowMissing
    * stays false — schema drift should fail loudly. */
  def discriminatedUnion(a: DataFrame, aTag: String, b: DataFrame, bTag: String): DataFrame =
    a.withColumn("fetch_method", lit(aTag))
      .unionByName(b.withColumn("fetch_method", lit(bTag)))
}
