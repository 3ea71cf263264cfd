package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (Raghavan,
  * Albert & Kumara 2007, made deterministic): every node starts
  * labeled with its own id; each round, every node simultaneously
  * adopts the most frequent label among ITSELF and its in-neighbors,
  * ties broken by the SMALLEST label. Communities emerge as label
  * plateaus after a few rounds.
  *
  * Determinism contract: the original LPA breaks ties randomly and
  * updates asynchronously in a random node order — neither replays
  * across engines or partitionings. This variant is synchronous
  * (all nodes update from the round-t labels) with a total
  * (count DESC, label ASC) vote order, so round t+1 is a pure
  * function of round t and the whole run replays verbatim as an
  * unrolled SQL replica. The SELF-vote is the standard damping for
  * synchrony's textbook failure mode: neighbor-only synchronous
  * votes flip a connected pair's labels forever (period-2
  * oscillation on bipartite regions); counting the node's own
  * current label anchors plateaus once formed. Oscillation is
  * damped, not impossible, so the operator still runs a FIXED
  * iteration count (the caller picks the analysis horizon) instead
  * of pretending a fixpoint test terminates.
  *
  * Scale shape per round (r12 verdict item #1 — the old form was
  * measured at exponent 1.47 across the sf1→sf10 decade, two fixes):
  *
  *   - ONE vote shuffle per round, sized to the edge count. The vote
  *     stream (edge join output ∪ self-votes) repartitions by `id`
  *     once; both aggregates then run exchange-free on top of it
  *     (HashPartitioning(id) satisfies the (id, lab) clustering of
  *     the count and the (id) clustering of the arg-min). Partition
  *     count scales with |E| (~1.5M vote rows per task) instead of
  *     the old pinned 32, so a 10× graph gets 10× the tasks, not 10×
  *     the rows per task.
  *   - The arg-min pick is [[graft.plans.ArgMinLong]] — a primitive-
  *     buffer DeclarativeAggregate inside whole-stage codegen. The
  *     old `min(struct(-c, lab))` planned ObjectHashAggregateExec,
  *     whose sort-based fallback (128-key threshold) turned every
  *     high-cardinality round (round 1's (id, label) group count ≈
  *     |E|) into a full spilled sort of the vote stream — THE
  *     super-linear term the sf10 probe isolated.
  *
  * Eager checkpoint per round keeps the plan constant-size
  * (`Checkpoints.truncate`; pass a reliable checkpoint dir on real
  * clusters, same contract as `PageRank.ranks`).
  */
object LabelProp {

  /** (id, lab) after `iters` synchronous rounds over the directed
    * edge list (src votes into dst; every node also votes for
    * itself). Feed a symmetrized edge list for undirected semantics.
    * A node with no in-edges keeps its current label (its self-vote
    * is unopposed).
    *
    * `partitions <= 0` (the default) sizes the per-round vote
    * shuffle from one edge count: max(session shuffle partitions,
    * |E| / 1.5M), capped at 20k tasks. Pass an explicit positive
    * count to skip the sizing pass. Results are bit-identical under
    * any partitioning (every aggregate is order-independent). */
  def labels(edges: DataFrame, iters: Int, partitions: Int = 0): DataFrame = {
    require(iters >= 1, s"labels: iters must be >= 1, got $iters")
    val e0 = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val nP =
      if (partitions > 0) partitions
      else {
        val spark = edges.sparkSession
        val session = spark.sessionState.conf.numShufflePartitions
        val nEdges = e0.count()
        math.max(session, math.min(20000L, nEdges / 1500000L + 1L).toInt)
      }
    val e = e0.repartition(nP, col("src")).persist()
    var lab = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct()
      .select(col("id"), col("id").as("lab"))
      .transform(graft.ops.Checkpoints.truncate)
    for (_ <- 1 to iters) {
      // one explicit id-shuffle of the vote stream; the (id, lab)
      // count AND the per-id arg-min both reuse its partitioning
      // (zero further exchanges — see the Scaladoc scale shape)
      val votes = e
        .join(lab.select(col("id").as("src"), col("lab")), Seq("src"))
        .select(col("dst").as("id"), col("lab"))
        .unionByName(lab) // the self-vote
        .repartition(nP, col("id"))
      // arg-min over (-count, label): most votes, then smallest label
      lab = votes
        .groupBy(col("id"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("id"))
        .agg(graft.plans.ArgMinLong.argMinLong(-col("c"), col("lab")).as("lab"))
        .transform(graft.ops.Checkpoints.truncate)
    }
    e.unpersist(blocking = false)
    lab
  }
}
