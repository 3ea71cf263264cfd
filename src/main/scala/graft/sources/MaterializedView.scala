package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance over snapshot tables:
  * keep a keyed aggregate view (row count + exact-long sums per key)
  * current by folding in ONLY the rows appended to the base since
  * the last refresh — aggregate-delta maintenance for the
  * self-maintainable aggregates (COUNT and SUM are closed under
  * addition; MIN/MAX/AVG-of-sums derive from them; holistic
  * aggregates like MEDIAN need a full recompute and are out of
  * scope, stated plainly).
  *
  * Refresh = one [[Snapshots.changesSince]] read (new files only) →
  * one aggregate over the DELTA → a left join picking up the current
  * view rows of the TOUCHED keys only → one [[Snapshots.mergeInto]]
  * commit (copy-on-write: only view files containing touched keys
  * rewrite). Cost per refresh ∝ |appended rows| + |touched view
  * files| — independent of base-table size and history, the whole
  * point vs recompute-on-read.
  *
  * Consistency ledger: every view commit carries the base version it
  * reflects as its manifest tag (`mv.base=<v>`), the same
  * table-side-idempotence idea as the streaming sink's batch tags —
  * a refresh that crashed after its view commit re-runs as a no-op
  * (reflected == HEAD), never a double-fold. Non-append base changes
  * (overwrite / delete / merge / optimize) make file-level deltas
  * undefined — `changesSince` fails loud there and [[refresh]]
  * surfaces it: rebuild via [[fullRefresh]] after rewrites.
  */
object MaterializedView {

  private val BaseTag = "mv.base="
  private val CountCol = "n_rows"
  private def sumName(c: String) = s"sum_$c"

  /** The base-table version the view currently reflects (0 = never
    * built): the newest `mv.base=` tag — every view commit carries
    * one, so this reads the view's HEAD manifest only. */
  def reflectedVersion(viewDir: String): Int =
    Snapshots.tagsNewestFirst(viewDir).collectFirst {
      case t if t.startsWith(BaseTag) => t.substring(BaseTag.length).toInt
    }.getOrElse(0)

  /** Full rebuild: aggregate the whole base HEAD into a fresh view
    * version (overwrite). The bootstrap, and the escape hatch after
    * a non-append base rewrite. Returns the base version reflected. */
  def fullRefresh(spark: SparkSession, baseDir: String, viewDir: String,
                  key: String, sumCols: Seq[String]): Int = {
    val baseV = Snapshots.currentVersion(baseDir)
    require(baseV > 0, s"MaterializedView: $baseDir has no committed versions")
    val agg = aggregate(Snapshots.read(spark, baseDir, baseV), key, sumCols)
    Snapshots.commit(agg, viewDir, "overwrite", tag = Some(s"$BaseTag$baseV"))
    baseV
  }

  /** Incremental refresh: fold the rows appended to the base since
    * the last refresh into the view. Returns the base version now
    * reflected; a no-op when already current. */
  def refresh(spark: SparkSession, baseDir: String, viewDir: String,
              key: String, sumCols: Seq[String]): Int = {
    val reflected = reflectedVersion(viewDir)
    require(reflected > 0,
      s"MaterializedView: $viewDir was never built — call fullRefresh first")
    val (delta, baseV) = Snapshots.changesSince(spark, baseDir, reflected)
    if (baseV == reflected) return reflected
    val deltaAgg = aggregate(delta, key, sumCols)
    // combine with the current view rows of the SAME keys: touched
    // keys add old+new, brand-new keys pass the delta through (the
    // left join keeps the combine |delta-keys|-sized — the view's
    // untouched keys are never read as rows, only carried as files)
    val cur = Snapshots.read(spark, viewDir)
    val sums = (CountCol +: sumCols.map(sumName)).map { c =>
      (coalesce(cur(c), lit(0L)) + deltaAgg(c)).as(c)
    }
    val combined = deltaAgg.join(cur, Seq(key), "left_outer")
      .select(deltaAgg(key) +: sums: _*)
    Snapshots.mergeInto(spark, viewDir, combined, Seq(key), tag = Some(s"$BaseTag$baseV"))
    baseV
  }

  /** The view shape: key, n_rows, sum_<c>… — all exact longs
    * (integer-cents policy: pre-scale doubles in the base schema). */
  private def aggregate(df: DataFrame, key: String, sumCols: Seq[String]): DataFrame =
    df.groupBy(col(key))
      .agg(count(lit(1)).as(CountCol),
        sumCols.map(c => coalesce(sum(col(c)), lit(0L)).cast("long").as(sumName(c))): _*)
}
