package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-data-capture APPLY — the MERGE-from-changelog operation
  * that turns (op, seq, key, payload) event logs into the next
  * snapshot: the missing third of the CDC triangle next to
  * `operators.SnapshotDiff` (snapshot → log) and `ops.Scd2`
  * (log → history). A Debezium/binlog-style feed replays onto a
  * keyed snapshot: per key the LATEST log entry wins; an upsert
  * ('I'/'U' — intentionally synonymous, as in every lakehouse MERGE)
  * replaces or inserts the payload, a delete ('D') removes the key.
  *
  * Determinism: "latest" is max (seqCol, then opCol descending
  * tie-break is NOT silently applied — equal sequence numbers for
  * one key are ambiguous upstream data and raise via the loud
  * `max_by` contract below). The winner per key is selected with
  * `max_by(struct(payload...), seq)` over a count check.
  *
  * Plan shape: ONE aggregate over the log (keyed by the CDC key,
  * map-side partials) + ONE full-outer equi-join against the
  * snapshot — both shuffle-partitioned by the same key, so AQE can
  * co-plan them; at 100 TB the snapshot side bucketed by key makes
  * the join exchange-free on that side (the SnapshotDiff upgrade
  * path). Cost is |log| + |snapshot|, independent of history length.
  */
object Cdc {

  /** The per-key winning log entry: (key, __w = struct(__op, __p),
    * __seq) with the op/NULL-seq/ambiguity guards of `applyLog`. */
  private def winners(log: DataFrame, key: String, payloadCols: Seq[String],
                      opCol: String, seqCol: String): DataFrame = {
    require(payloadCols.nonEmpty, "payloadCols must name at least one column")
    val payload = struct(payloadCols.map(col): _*)
    val opOk = col(opCol).isin("I", "U", "D")
    val guarded = log
      .withColumn(opCol,
        when(opOk, col(opCol)).otherwise(raise_error(
          concat(lit(s"Cdc.applyLog: unknown op in '$opCol': "), col(opCol)))))
      // a NULL sequence would be SKIPPED by max_by and by the
      // ambiguity count (NULL comparisons are null), silently
      // dropping the entry — surface the malformed feed instead
      .withColumn(seqCol,
        when(col(seqCol).isNotNull, col(seqCol)).otherwise(raise_error(
          concat(lit(s"Cdc.applyLog: NULL $seqCol for key "), col(key).cast("string")))))
    // per-key max sequence via a window on the SAME key the
    // aggregate below groups by — one exchange, reused
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    val withMax = guarded.withColumn("__maxseq", max(col(seqCol)).over(w))
    val agged = withMax
      .groupBy(col(key))
      .agg(
        max_by(struct(col(opCol).as("__op"), payload.as("__p")), col(seqCol)).as("__w0"),
        max(col(seqCol)).as("__seq"),
        // ambiguity guard: two entries at the max sequence for one
        // key have no defined winner — fail loud, don't pick one
        sum(when(col(seqCol) === col("__maxseq"), 1).otherwise(0)).as("__at_max"))
    agged.withColumn("__w",
      when(col("__at_max") > 1, raise_error(concat(
        lit(s"Cdc.applyLog: ambiguous feed - multiple entries at max $seqCol for key "),
        col(key).cast("string"))))
        .otherwise(col("__w0")))
      .select(col(key), col("__w"), col("__seq"))
  }

  /** Apply `log` (opCol ∈ {I,U,D}, ordered per key by `seqCol`) to
    * `snapshot`; both carry `key` + `payloadCols`. Returns the next
    * snapshot (key + payloadCols). Unknown ops raise; equal max
    * sequence numbers for one key raise (ambiguous feed). */
  def applyLog(snapshot: DataFrame, log: DataFrame, key: String,
               payloadCols: Seq[String], opCol: String = "op",
               seqCol: String = "seq"): DataFrame = {
    val checked = winners(log, key, payloadCols, opCol, seqCol)
    val snap = snapshot.select((col(key) +: payloadCols.map(col)): _*)
    snap.as("s").join(checked.as("c"), Seq(key), "full_outer")
      .where(
        // delete wins: drop the key; absent log entry: keep snapshot
        col("c.__w").isNull || col("c.__w.__op") =!= "D")
      .select(
        col(key) +:
          payloadCols.map(p =>
            when(col("c.__w").isNotNull, col(s"c.__w.__p.$p"))
              .otherwise(col(s"s.$p")).as(p)): _*)
  }
}
