package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Parquet sinks with the reference's write semantics (SURVEY §2.1).
  *
  * The reference's sinks are MongoDB insert/upsert with unique-index
  * dup guards; the Spark-native equivalents:
  *  - S6 append           → `append`
  *  - S7 keyed upsert     → dynamic partition overwrite on the key's
  *    partition columns (idempotent re-runs of a day/location recap
  *    replace exactly that partition — reference
  *    dags/daily_compile_weather.py:136-142)
  *  - S8 unique-key guard → dropDuplicates before write (reference
  *    unique index + dup-key tolerance,
  *    dags/transform_raw_weather.py:66-76,107-111)
  *
  * At 100 TB, partition columns are the pruning keys (date first,
  * then coarse location bucket); dynamic overwrite touches only the
  * partitions present in the incoming batch.
  */
object Sinks {

  /** S6 — append to a date-partitioned table. */
  def append(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("append").partitionBy(partitionCols: _*).parquet(path)

  /** S7 — keyed upsert via dynamic partition overwrite: replaces only
    * the partitions present in `df`, leaving the rest of the table
    * untouched. Combined with S8 dedup this gives idempotent,
    * exactly-once-per-key output for re-runs. The mode is an option
    * of this write, so the session conf is never changed: streams
    * sharing a session can upsert from `foreachBatch` concurrently. */
  def upsertPartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path)

  /** S8 — unique-key enforcement before write: keep the first row per
    * key by explicit order (never "arrival order", which has no
    * distributed meaning). */
  def enforceUnique(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    graft.ops.Dedup.keepFirstAgg(df, keys, orderCol)
}
