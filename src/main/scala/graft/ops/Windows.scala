package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function operators (SURVEY §2.5 W1-W3 + the ranking/lag
  * surface the engine exposes beyond the reference).
  *
  * All windows partition on explicit keys — at scale, one shuffle per
  * distinct partitioning; chained windows over the same keys reuse the
  * exchange.
  */
object Windows {

  /** W1 — rank rows within a partition by an explicit total order. */
  def ranked(df: DataFrame, partCols: Seq[String], orderBy: Seq[Column], rankCol: String = "rnk"): DataFrame =
    df.withColumn(rankCol, row_number().over(
      Window.partitionBy(partCols.map(col): _*).orderBy(orderBy: _*)))

  /** Top-k rows per partition (deterministic given a total order). */
  def topKPerKey(df: DataFrame, partCols: Seq[String], orderBy: Seq[Column], k: Int): DataFrame =
    ranked(df, partCols, orderBy).where(col("rnk") <= k)

  /** Lag delta — change vs previous row per key in event-time order
    * (the reference's implied "reading vs previous cycle" semantics). */
  def lagDelta(df: DataFrame, partCols: Seq[String], orderBy: Seq[Column], valueCol: String): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("prev_value", lag(col(valueCol), 1).over(w))
      .withColumn("delta", col(valueCol) - col("prev_value"))
  }

  /** W3 — tumbling event-time window aggregation (reference's
    * 10-min/1-hour/1-day buckets, dags/daily_compile_weather.py:36,109,148).
    * Uses the streaming-compatible `window()` so the same shape runs
    * under Structured Streaming with a watermark. */
  def tumbling(df: DataFrame, tsCol: String, duration: String, keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy((window(col(tsCol), duration) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Hopping (sliding) event-time windows: length `duration`, a new
    * window every `slide` — each event contributes to
    * duration/slide overlapping windows (the smoothing the tumbling
    * bucket's hard edges can't give: a spike at a bucket boundary
    * splits across two tumbling buckets but is whole in some hop).
    * Same streaming-compatible `window()` as [[tumbling]], so the
    * shape runs under Structured Streaming with a watermark; the
    * duration/slide fan-out happens in the generated expand, before
    * the ONE aggregation shuffle — no self-union of shifted copies. */
  def hopping(df: DataFrame, tsCol: String, duration: String, slide: String,
              keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy((window(col(tsCol), duration, slide) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
}
