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

  /** Range-clustered layout — the 100 TB data-SKIPPING strategy for
    * range predicates (time travel, date slices, id ranges):
    * `repartitionByRange` + an in-partition sort give each output
    * file a narrow, near-disjoint min/max envelope on `col`, so
    * parquet row-group statistics let a range filter skip whole
    * files instead of scanning and discarding. Complements bucketing
    * (equi-join co-location) the way a sort index complements a hash
    * index. `nFiles` sizes the layout: at cluster scale pick
    * data_volume / target_file_size (e.g. 1 GiB files). */
  def writeRangeClustered(df: DataFrame, path: String, col: String, nFiles: Int): Unit =
    df.repartitionByRange(nFiles, org.apache.spark.sql.functions.col(col))
      .sortWithinPartitions(col)
      .write.mode("overwrite").parquet(path)

  /** Z-order (Morton-curve) layout — MULTI-column data skipping.
    * `writeRangeClustered` makes file envelopes tight on ONE column;
    * a range filter on any other column still reads every file. Z-
    * ordering interleaves the bits of per-column quantile-bucket
    * ranks, so clustering on the curve gives every file a bounded
    * box in ALL z-columns at once: a selective filter on EITHER
    * column skips most files (the classic lakehouse OPTIMIZE ZORDER
    * layout, ~√-law skipping per dimension in 2-D instead of all-
    * or-nothing).
    *
    * Mechanics (one extra pass + the same range-partitioned write):
    *  1. per column, 2^bits−1 quantile cut points via a distributed
    *     GK sketch (`approxQuantile` — one pass, driver holds only
    *     model-parameter-sized cut arrays). Quantile ranks, not
    *     min/max scaling: a skewed column still fills its bucket
    *     range evenly, which is what keeps the boxes balanced;
    *  2. bucket rank = #cuts ≤ value (codegen'd literal-array
    *     `filter`+`size`; NULLs rank 0, i.e. sort first);
    *  3. z = bit-interleave of the ranks (pure column arithmetic,
    *     unrolled shifts — no UDF);
    *  4. `repartitionByRange(z)` + in-partition sort by z.
    *
    * The z column is layout metadata only — it is dropped from the
    * written files; readers filter on the original columns and the
    * parquet min/max stats do the skipping. At 100 TB: nFiles =
    * volume / target file size; the quantile pass amortizes over
    * every later pruned read.
    *
    * Keys already in a small integer range (ids, enum codes, day
    * numbers) don't need the quantile pass — use `ops.Layout`'s
    * exact-key twin (`zKey2`/`writeZOrdered`), whose magic-bits
    * interleave also carries the exact cross-engine oracle
    * (q_zorder) this rank-bucketed form cannot. */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
                    nFiles: Int, bits: Int = 8): Unit = {
    require(zCols.size >= 2, "z-ordering needs at least 2 columns (use writeRangeClustered for 1)")
    require(bits >= 1 && zCols.size * bits <= 63,
      s"${zCols.size} cols × $bits bits must fit a long")
    val nDims = zCols.size
    val nBuckets = 1 << bits
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val zv = zCols.zipWithIndex.map { case (c, dim) =>
      // cut points are computed on the double image of the column —
      // rank order is preserved for any numeric/date input
      val cuts = df.select(col(c).cast("double").as("x"))
        .stat.approxQuantile("x", probs, 1e-3).toSeq
      val rank = size(filter(typedLit(cuts), cut => cut <= col(c).cast("double")))
        .cast("long")
      (0 until bits).map { j =>
        shiftleft(shiftright(rank, j).bitwiseAND(lit(1L)), j * nDims + dim)
      }.reduce((a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) => a.bitwiseOR(b))
    }.reduce(_.bitwiseOR(_))
    df.withColumn("__z", zv)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
