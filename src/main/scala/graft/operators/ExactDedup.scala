package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact content deduplication by hash — the first stage of any
  * large-scale training-data pipeline (and the distributed form of the
  * reference's at-least-once dedup, ST7/A1/A2:
  * dags/transform_raw_weather.py:78-101).
  *
  * Scale shape: one shuffle on the 128-bit content hash. Hashing
  * happens map-side on the raw bytes; only (hash, id) pairs shuffle if
  * the caller projects first — `keepCanonical` keeps the full row via
  * min_by, which ships rows once (no second join back).
  */
object ExactDedup {

  /** Stable content key: md5 of the content column. */
  def withContentHash(df: DataFrame, contentCol: String, hashCol: String = "content_hash"): DataFrame =
    df.withColumn(hashCol, md5(col(contentCol)))

  /** One canonical row per distinct content: the row with the smallest
    * `idCol`. Map-side partial aggregation via min_by — a single
    * shuffle, no window, no join-back.
    *
    * Null-content rows are NOT comparable to each other (md5(null) is
    * null, and grouping them would silently collapse N unrelated
    * contentless rows into one, plus create a giant skew group at
    * corpus scale) — they pass through unchanged with dup_count=1. */
  def keepCanonical(df: DataFrame, contentCol: String, idCol: String): DataFrame = {
    val hashed = withContentHash(df, contentCol)
    val valueCols = hashed.columns.filterNot(_ == "content_hash")
    val deduped = hashed
      .where(col(contentCol).isNotNull)
      .groupBy(col("content_hash"))
      .agg(
        min_by(struct(valueCols.map(col): _*), col(idCol)).as("row"),
        count(lit(1)).as("dup_count")
      )
      .select((Seq(col("content_hash"), col("dup_count")) ++
        valueCols.map(c => col(s"row.$c").as(c))): _*)
    val nullContent = hashed.where(col(contentCol).isNull)
      .select((Seq(col("content_hash"), lit(1L).as("dup_count")) ++ valueCols.map(col)): _*)
    deduped.unionByName(nullContent)
  }
}
