package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-key merging of overlapping intervals ("islands"): redaction
  * spans to apply in one pass, media segments to keep, maintenance
  * windows to coalesce. Distinct from `Recap`'s gap-based
  * sessionization: here intervals carry their own extent, and two
  * intervals merge iff they overlap or touch (next.start ≤ running
  * max end so far).
  *
  * Plan: one window PARTITIONED BY key ordered by (start, end) —
  * the island-detection idiom: a row opens a new island iff its
  * start exceeds the running max end of all previous rows; the
  * running count of openers is the island id; a hash aggregate per
  * (key, island) emits the merged extent. One shuffle by key, each
  * key's sort independent — the same contract as every other
  * windowed operator here. Intervals must be well-formed
  * (start ≤ end); the operator fails the malformed row loudly via
  * an assertion column rather than silently merging garbage.
  */
object Intervals {

  /** Merge overlapping/touching [startCol, endCol] intervals per
    * `key`. Bounds must be of one orderable numeric/timestamp type.
    * Output: key, start, end (merged extent), n_merged (BIGINT). */
  def mergeOverlapping(df: DataFrame, key: String,
                       startCol: String, endCol: String): DataFrame = {
    val ordered = Window.partitionBy(col(key))
      .orderBy(col(startCol), col(endCol))
    val prevMax = max(col(endCol)).over(
      ordered.rowsBetween(Window.unboundedPreceding, -1))
    val opens = when(prevMax.isNull || col(startCol) > prevMax, 1).otherwise(0)
    val islandId = sum(opens).over(
      ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow))

    df.select(col(key), col(startCol), col(endCol))
      // a WHERE can't be pruned away; malformed rows raise, not merge
      .where(when(col(startCol) <= col(endCol), lit(true))
        .otherwise(raise_error(
          concat(lit(s"malformed interval: $startCol > $endCol at "),
            col(startCol).cast("string")))))
      .withColumn("__island", islandId)
      .groupBy(col(key), col("__island"))
      .agg(
        min(col(startCol)).as("start"),
        max(col(endCol)).as("end"),
        count(lit(1)).as("n_merged"))
      .drop("__island")
  }
}
