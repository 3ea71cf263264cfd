package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Small-file compaction planning — the metadata half of lakehouse
  * `OPTIMIZE` (Delta/Iceberg bin-packing), as a deterministic
  * DataFrame op. Complements `Layout` (which decides the ORDER
  * inside rewritten files); this decides WHICH files merge into
  * which rewrite group.
  *
  * Why it matters at 100 TB: streaming ingests and partitioned
  * upserts leave millions of KB-scale files; every query then pays
  * per-file open/footer costs that dwarf the scan itself. The
  * planner runs over the FILE LISTING — metadata, ~1 row per file
  * (100 TB at 256 MB/file is ~400k rows) — so planning cost is
  * negligible next to the rewrite it schedules, and the window is
  * partitioned by the table partition, so planning parallelizes and
  * a rewrite never mixes rows across partition boundaries (which
  * would break partition pruning).
  *
  * Policy (the standard one): files already at or above
  * `targetBytes` are left in place (`action = keep`); smaller files
  * are packed, in a deterministic `orderCol` walk, into the
  * target-aligned cumulative-size interval they start in —
  * `bin = floor(preceding-cumsum / target)`, pure window arithmetic,
  * no driver loop, no UDF. Each group's total stays within one max
  * small-file size of the target on either side (a group spans one
  * [b·T, (b+1)·T) cumsum interval whose boundaries neighboring files
  * overshoot by at most one file) — the aligned variant of next-fit,
  * chosen because exact next-fit is a sequential recurrence while
  * this is one window expression. Everything is
  * exact integer arithmetic over a unique
  * order key, so the plan is bit-stable across partitionings and
  * engines (q_compaction_plan hash-matches a DuckDB window replica).
  */
object Compaction {

  /** Plan compaction over a file listing. Input columns:
    * `partCols` (table partition), `fileCol` (unique file id — the
    * deterministic walk order), `sizeCol` (bytes). Output: input
    * columns + `action` ('keep' | 'compact') + `bin_id` (NULL for
    * kept files). NULL or negative sizes are a listing corruption,
    * surfaced loudly. */
  def plan(files: DataFrame, partCols: Seq[String], fileCol: String,
           sizeCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val sz = when(col(sizeCol).isNull || col(sizeCol) < 0,
      raise_error(concat(lit(s"Compaction.plan: bad $sizeCol for file "),
        col(fileCol).cast("string"), lit(": "),
        coalesce(col(sizeCol).cast("string"), lit("NULL")))))
      .otherwise(col(sizeCol).cast("long"))
    val small = sz < targetBytes
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col(fileCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // preceding-cumsum over SMALL files only: kept files don't count
    // toward any bin's fill
    val prior = coalesce(sum(when(small, sz).otherwise(lit(0L))).over(w), lit(0L))
    files.select(
      partCols.map(col) ++ Seq(
        col(fileCol), sz.as(sizeCol),
        when(small, lit("compact")).otherwise(lit("keep")).as("action"),
        when(small, floor(prior / targetBytes).cast("long")).as("bin_id")): _*)
  }
}
