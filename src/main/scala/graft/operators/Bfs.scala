package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search — shortest HOP distances from a
  * source set over a directed edge list. The reachability/radius
  * complement to the iterative family ([[PageRank]] ranks, [[KCore]]
  * filters, [[Components]] partitions; this MEASURES — crawl depth
  * from seed domains, citation distance from a trusted core,
  * link-spam proximity).
  *
  * Distances are exact small integers, so unlike float graph
  * algorithms there is nothing to stabilize: any execution order
  * yields the same frontier sets, and a FIXED round count ([[hops]])
  * replays verbatim as a bounded recursive CTE — the cross-engine
  * oracle window (q_bfs_hops).
  *
  * Frontier algorithm, one round = dist r → r+1:
  *   next = (edges ⋈ frontier on src) . dst . distinct  ANTI  seen
  * Plan shape per round: one equi-join on src, one distinct and one
  * anti-join both keyed on id (partitioning reused between them).
  * Work is Θ(edges out of the frontier), not Θ(|E|) — rounds touch
  * only the expanding wave.
  *
  * Every round truncates lineage via [[graft.ops.Checkpoints]]
  * (executor-local by default, reliable under a session checkpoint
  * dir — the shared iterative-loop durability contract).
  *
  * Contract: `edges(src, dst)` directed (symmetrize for undirected
  * reach); NULL endpoints are rejected loudly — a dropped NULL edge
  * silently shortens distances downstream. `sources` must be
  * non-empty (an empty seed set returning an empty frame reads as
  * "nothing reachable", so it raises instead). Sources not present
  * in the graph still appear at dist 0 — BFS from an isolated seed
  * is well-defined.
  */
object Bfs {

  private def normalize(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val bad = e.where(col("src").isNull || col("dst").isNull).limit(1).collect()
    require(bad.isEmpty,
      "Bfs: NULL edge endpoint — a silently dropped edge would lengthen " +
        "or disconnect true shortest paths; clean the edge list explicitly")
    e
  }

  private def seed(sources: DataFrame): DataFrame = {
    val s = sources.select(col("id").cast("long").as("id")).distinct()
    require(s.limit(1).collect().nonEmpty,
      "Bfs: empty source set — an all-empty result would read as " +
        "'nothing reachable'; pass at least one seed id")
    s.withColumn("dist", lit(0L))
  }

  /** One expansion: nodes first reached at distance `r`, given the
    * already-seen frame. */
  private def expand(edges: DataFrame, frontier: DataFrame,
                     seen: DataFrame, r: Int): DataFrame =
    edges.join(frontier, edges("src") === frontier("id"))
      .select(edges("dst").as("id")).distinct()
      .join(seen, Seq("id"), "left_anti")
      .withColumn("dist", lit(r.toLong))

  /** Exactly `rounds` expansions, converged or not: every node within
    * `rounds` hops of a seed, at its exact shortest hop count. The
    * fixed-round form a bounded recursive CTE replicates verbatim.
    * Output: (id, dist), dist 0 = seed. */
  def hops(edges: DataFrame, sources: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // edges deliberately NOT pinned (r15, measured): the frontier is
    // tiny relative to |E| at every round, so broadcasting it into
    // the edge scan beats co-partitioned layouts — an up-front edge
    // repartition cost 1.26× here where the same pin won 0.66-0.89×
    // on the register/rank loops whose state is O(|V|)
    val e = normalize(edges).transform(graft.ops.Checkpoints.truncate)
    var dist = seed(sources).transform(graft.ops.Checkpoints.truncate)
    var frontier = dist
    // fused loop (r15): every round still cuts (the r14 half-cadence
    // rejection was about UNCUT rounds re-executing the distinct in
    // dist's three consumers — a lazy cut persists its blocks on
    // first compute, so each consumer reads blocks), but lazily: the
    // rounds execute as one job at the consumer's action. Reliable
    // mode untouched.
    graft.ops.Checkpoints.fusedLoop(dist) {
      for (r <- 1 to rounds) {
        dist = dist.unionByName(expand(e, frontier, dist, r))
          .transform(graft.ops.Checkpoints.truncateFused)
        // re-slicing the new wave out of the cut frame is a scan of
        // its (first-compute-persisted) blocks, not a recompute
        frontier = dist.where(col("dist") === r)
      }
    }
    dist
  }
}
