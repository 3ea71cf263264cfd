package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source WEIGHTED shortest paths — synchronous Bellman-Ford
  * relaxation rounds over a directed edge list with non-negative
  * integer weights; the weighted companion to [[Bfs]] (hop counts)
  * the way [[PageRank]] companions [[Components]]: road/latency
  * distance from seed hubs, weighted citation depth, cost-to-reach
  * from a trusted core.
  *
  * One round relaxes every edge once:
  *
  *   d_{t+1}(v) = min(d_t(v), min over edges (u,v,w) of d_t(u) + w)
  *
  * computed as ONE shape: candidates (edges ⋈ dist on src, projected
  * to dst with d+w) UNION ALL the current dist frame, then a min()
  * hash aggregate by node — no outer join, no null-juggling; the
  * union-min IS the relaxation. After k rounds dist(v) is exactly
  * the shortest path using ≤ k edges — a FIXED round count is a
  * well-defined semantic (not an approximation), replays verbatim as
  * k unrolled SQL levels (q_sssp).
  *
  * Exactness: distances are integer sums of integer weights — min is
  * order-free, so any partitioning and any engine agree bit-for-bit.
  * Negative weights are rejected loudly: under truncation-at-k they
  * would silently report non-minimal paths (and with negative cycles
  * no fixpoint exists).
  *
  * Scale shape per round: one equi-join of the cached src-partitioned
  * edge list against the O(reached) dist frame + one hash aggregate
  * keyed by node (partial min map-side). Work is Θ(edges out of
  * reached nodes). Eager checkpoint per round (shared
  * [[graft.ops.Checkpoints]] contract) keeps plans constant-size.
  */
object Sssp {

  /** (id, dist) for every node reachable within `rounds` edges of
    * the source set. Edge frame columns: src, dst, w. */
  def distances(edges: DataFrame, sources: DataFrame, rounds: Int,
                partitions: Int = -1): DataFrame = {
    require(rounds >= 1, s"Sssp: rounds must be >= 1, got $rounds")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
    val bad = e.where(col("src").isNull || col("dst").isNull ||
      col("w").isNull || col("w") < 0).limit(1).collect()
    require(bad.isEmpty,
      "Sssp: NULL endpoint/weight or negative weight — truncated " +
        "Bellman-Ford would silently report non-minimal paths; clean the edges")
    // default partition count = the session's shuffle parallelism
    // (r15): the per-round dist checkpoints land on
    // numShufflePartitions, so any other edge-cache count breaks the
    // co-partitioning proof and the join re-exchanges the edges
    val p = if (partitions > 0) partitions
      else edges.sparkSession.sessionState.conf.numShufflePartitions
    val ec = e.repartition(p, col("src")).persist()
    var dist = sources.select(col("id").cast("long").as("id")).distinct()
      .withColumn("dist", lit(0L))
      .transform(graft.ops.Checkpoints.truncate)
    require(dist.limit(1).collect().nonEmpty,
      "Sssp: empty source set — pass at least one seed id")
    // fused loop (r15): every round still cuts (constant-size plans —
    // and unlike the rejected r14 half-cadence variant the cut frame's
    // blocks persist on first compute, so the min-aggregate never
    // re-executes in the next round's two consumer stages), but the
    // cut is LAZY: the rounds execute as one job at the consumer's
    // action. Reliable mode (checkpoint dir) is untouched.
    graft.ops.Checkpoints.fusedLoop(ec) {
      for (_ <- 1 to rounds) {
        val cand = ec
          .join(dist.select(col("id").as("src"), col("dist")), Seq("src"))
          .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
        dist = cand.unionByName(dist)
          .groupBy(col("id")).agg(min(col("dist")).as("dist"))
          .transform(graft.ops.Checkpoints.truncateFused)
      }
    }
    ec.unpersist(blocking = false)
    dist
  }
}
