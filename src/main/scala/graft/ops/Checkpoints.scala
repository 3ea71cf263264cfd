package graft.ops

import org.apache.spark.sql.DataFrame

/** Lineage truncation for iterative loops — the shared contract for
  * `Components`, `PageRank`, `KMeans`, and the PQ training loop.
  *
  * Every synchronous iteration must cut the logical plan back to
  * constant size or `iters` rounds build an exponentially deep
  * lineage (the `Components` lesson). HOW the cut persists is a
  * durability choice:
  *
  *  - **Executor-local** (`localCheckpoint`, the default): blocks
  *    live only in executor storage. Fast — no filesystem round-trip
  *    — but there is NO recompute path: at cluster scale, losing one
  *    executor mid-20-iteration run kills the job. The right trade
  *    in local mode and for short loops on stable clusters.
  *  - **Reliable** (`checkpoint`): blocks persist to the
  *    checkpoint filesystem (HDFS/object store) and survive executor
  *    loss — the job resumes from the last completed iteration's
  *    files. Costs one distributed write per iteration; at 100 TB
  *    that is the standard insurance for any loop whose expected
  *    runtime approaches the cluster's executor-failure horizon.
  *
  * The switch is the session's standard Spark setting, not an API
  * fork: call `spark.sparkContext.setCheckpointDir(dir)` before the
  * loop and every graft iterative operator checkpoints reliably;
  * leave it unset and they use executor-local truncation. One knob,
  * every loop, no signature churn.
  */
object Checkpoints {

  /** Eagerly materialize `df` and truncate its lineage — reliably if
    * the session has a checkpoint dir configured, executor-local
    * otherwise. */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** LAZY executor-local cut for fused fixed-round loops (r15): the
    * returned frame scans a checkpoint-marked RDD — the logical plan
    * is bounded to constant size per round exactly as with
    * [[truncate]] — but materialization defers to the next action, so
    * the whole loop executes as ONE Spark job instead of one eager
    * checkpoint job (plus its per-round Catalyst/AQE replan and
    * block-store round-trip) per round. Every round's blocks still
    * persist as they are first computed (localCheckpoint storage), so
    * a frame consumed twice downstream is computed once and plan
    * depth per round stays constant. Under a configured checkpoint
    * dir the cut stays the EAGER reliable checkpoint — the
    * executor-loss recovery point is per round, the durability
    * contract of the object doc. */
  def truncateFused(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(false)

  /** Pin a loop frame's layout for [[fusedLoop]]: explicit hash
    * partitioning on `keys` at the session's shuffle parallelism,
    * eagerly truncated. The checkpoint scan PRESERVES the output
    * partitioning (Dataset.checkpoint passes the physical plan's
    * partitioning into the LogicalRDD), so the static planner inside
    * the AQE-off loop joins against it exchange-free every round —
    * the bucketed-table move (§2.4) without a catalog. Without the
    * pin, the frame's checkpoint inherits whatever AQE-coalesced
    * layout its build ended on, the loop join can't prove
    * co-partitioning, and the BIG side re-exchanges every round
    * (measured: PageRank/TrustRank/HITS regressed 1.2-1.4× under the
    * fused loop until their edge/node frames were pinned).
    * Scale-adaptive: keyed on `spark.sql.shuffle.partitions`, never a
    * core count. */
  def pinPartitioned(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    truncate(df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, keys: _*))

  /** Run a fixed-shape loop body with adaptive execution OFF, in
    * executor-local mode only (restored after; reliable mode runs the
    * body untouched — there each round is its own recovery-point job
    * and AQE's runtime sizing keeps its value). Two reasons, both
    * measured at sf0.1 (r15): (1) AQE re-plans the IDENTICAL loop
    * plan every round — pure driver latency for a shape that never
    * changes; (2) an AQE root materializes its exchange stages
    * EAGERLY when the plan is turned into an RDD, which would defeat
    * [[truncateFused]]'s single-job fusion. Loop bodies pre-size
    * their exchanges explicitly (the operators repartition on the
    * session's shuffle parallelism), so the static planner's shape is
    * already the right one at any scale. */
  def fusedLoop[T](df: DataFrame)(body: => T): T = {
    val spark = df.sparkSession
    if (spark.sparkContext.getCheckpointDir.isDefined) body
    else {
      val key = "spark.sql.adaptive.enabled"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "false")
      try body finally spark.conf.set(key, prev)
    }
  }
}
