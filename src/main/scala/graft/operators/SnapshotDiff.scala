package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyed diff of two table snapshots — the change-data-capture step
  * a batch pipeline runs when the upstream can only hand over full
  * dumps (the reference's daily full-collection Mongo reload,
  * `dags/spark/load_to_mongo.py`: it truncates and rewrites because
  * it cannot tell what changed; this operator computes exactly that
  * delta so a sink can apply an upsert instead).
  *
  * Semantics per key:
  *  - in new only               -> 'added'
  *  - in old only               -> 'removed'
  *  - in both, any compared
  *    column differs (null-safe) -> 'changed'
  *  - in both, all equal        -> 'unchanged' (dropped unless
  *                                 `keepUnchanged`)
  *
  * Plan shape: ONE full outer sort-merge join on the key — both
  * sides shuffle once by key, comparisons are null-safe `<=>` on the
  * joined row, and the common case (big snapshots, small delta)
  * emits only the delta downstream. At 100 TB the upgrade path is
  * writing both snapshots bucketed by the key, which makes this diff
  * exchange-free.
  *
  * Keys must be unique per snapshot (it is a snapshot, not a log);
  * duplicate keys silently multiply rows through the full-outer
  * join. `diff` itself stays lazy and does NOT validate — check key
  * uniqueness at ingest when the upstream is untrusted. A null-keyed
  * row never joins: it surfaces as its own 'removed' (old side) or
  * 'added' (new side) row — a null key has no cross-snapshot
  * identity to compare under.
  */
object SnapshotDiff {

  /** Diff `oldSnap` -> `newSnap` on `key`, comparing `compareCols`.
    * Output: key, status, plus `<col>_old` / `<col>_new` for each
    * compared column. */
  def diff(oldSnap: DataFrame, newSnap: DataFrame, key: String,
           compareCols: Seq[String], keepUnchanged: Boolean = false): DataFrame = {
    require(compareCols.nonEmpty, "compareCols must name at least one column")

    // existence is a per-side literal flag, NOT key-null-ness: a
    // null-keyed row never joins, and testing the key after the
    // outer join would misreport its own side as absent (an old
    // null-key row must read 'removed', not 'added')
    val o = oldSnap.select((key +: compareCols).map(col): _*)
      .withColumn("__o_exists", lit(true)).alias("o")
    val n = newSnap.select((key +: compareCols).map(col): _*)
      .withColumn("__n_exists", lit(true)).alias("n")

    val joined = o.join(n, col(s"o.$key") === col(s"n.$key"), "full_outer")
    val inOld = col("__o_exists").isNotNull
    val inNew = col("__n_exists").isNotNull
    val anyDiff = compareCols
      .map(c => !(col(s"o.$c") <=> col(s"n.$c")))
      .reduce(_ || _)

    val status = when(!inOld, lit("added"))
      .when(!inNew, lit("removed"))
      .when(anyDiff, lit("changed"))
      .otherwise(lit("unchanged"))

    val out = joined.select(
      coalesce(col(s"o.$key"), col(s"n.$key")).as(key) +:
        status.as("status") +:
        compareCols.flatMap(c =>
          Seq(col(s"o.$c").as(s"${c}_old"), col(s"n.$c").as(s"${c}_new"))): _*)
    if (keepUnchanged) out else out.where(col("status") =!= "unchanged")
  }
}
