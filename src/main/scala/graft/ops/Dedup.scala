package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate detection / removal and incremental-processing kit
  * (reference A1/A2/J3/J4, SURVEY §2.3-2.4).
  *
  * The reference keeps the *first* row per duplicate group in MongoDB
  * insertion order (dags/transform_raw_weather.py:91-101). Insertion
  * order is not a distributed concept, so every keep-first here takes
  * an explicit ordering column — deterministic at any parallelism.
  */
object Dedup {

  /** A1: duplicate-group detection — groups with >1 row, their size and
    * member ids (reference Mongo $group/$push/$match pipeline,
    * dags/transform_raw_weather.py:78-87). One shuffle on the key. */
  def duplicateGroups(df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("dup_count"),
        sort_array(collect_list(col(idCol))).as("ids")
      )
      .where(col("dup_count") > 1)

  /** A2/W1: keep exactly the first row per key, ordered by `orderCol`
    * (replaces the reference's insertion-order "first",
    * dags/transform_raw_weather.py:95). A hash aggregate (min_by over
    * the full row), so it gets map-side partial aggregation. Column
    * order is preserved. */
  def keepFirstAgg(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val valueCols = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(col): _*)
      .agg(min_by(struct(valueCols.map(col): _*), col(orderCol)).as("__row"))
      .select(df.columns.map(c => if (keys.contains(c)) col(c) else col(s"__row.$c").as(c)): _*)
  }

  /** J3: incremental anti join — rows of `incoming` whose key is not
    * yet in `existing` ("unprocessed", dags/spark/transform_raw_weather.py:90-91).
    * Shuffles both sides on the key unless `existing` is broadcast-small
    * (AQE decides; at 100 TB the incoming delta is usually the small
    * side — callers can pre-aggregate `existing` to distinct keys). */
  def notYetProcessed(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti")
}
