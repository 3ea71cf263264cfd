package graft.streaming

import graft.sources.Snapshots
import org.apache.spark.sql.DataFrame

/** Exactly-once streaming commits into a [[graft.sources.Snapshots]]
  * table — the `foreachBatch` sink that turns Structured Streaming's
  * at-least-once micro-batch replay into exactly-once table versions.
  *
  * Mechanism: each micro-batch commits as ONE snapshot version whose
  * manifest carries the tag `batch=<batchId>`. Before committing,
  * the sink walks the tags newest-first (`tagsNewestFirst`) to the
  * first batch tag at or below its own id — ids rise with versions,
  * so that tag alone says whether this batch committed, and the
  * steady state reads HEAD's manifest only. A replayed batch finds
  * its own tag and SKIPS, so a crash between
  * "manifest published" and "checkpoint advanced" — the classic
  * double-write window every foreachBatch sink has — re-runs the
  * batch as a no-op instead of double-appending. The commit itself
  * is the atomic hard-link publish, so a crash BEFORE the manifest
  * lands leaves only invisible un-manifested data files, never a
  * torn version.
  *
  * Downstream readers time-travel micro-batch history for free
  * (version N = the table after batch N). Every version stays on
  * disk: the library has no retention or compaction verb.
  *
  * Scale: one manifest per micro-batch is the real-world Delta/
  * Iceberg streaming-sink shape; the ledger check reads one manifest.
  */
object StreamSnapshot {

  /** The foreachBatch function: append (or overwrite with) each
    * micro-batch as a tagged snapshot version, exactly once per
    * batchId. Usage:
    * {{{
    *   stream.writeStream
    *     .foreachBatch(StreamSnapshot.sink(tableDir))
    *     .option("checkpointLocation", ckpt).start()
    * }}} */
  def sink(tableDir: String, mode: String = "append"): (DataFrame, Long) => Unit = {
    require(mode == "append" || mode == "overwrite",
      s"mode must be append|overwrite, got '$mode'")
    (batch: DataFrame, batchId: Long) => {
      val last = Snapshots.tagsNewestFirst(tableDir).collectFirst {
        case BatchTag(id) if id.toLong <= batchId => id.toLong
      }
      if (!last.contains(batchId))
        Snapshots.commit(batch, tableDir, mode, Some(s"batch=$batchId"))
    }
  }

  private val BatchTag = "batch=(\\d+)".r
}
