package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling (Seidman, "Network
  * structure and minimum degree", Social Networks 1983; the
  * distributed formulation follows Montresor, De Pellegrini & Miorandi,
  * "Distributed k-core decomposition", IEEE TPDS 2013): repeatedly
  * delete every vertex whose current degree is below k — what
  * remains is the k-core, the standard density filter for web/crawl
  * graphs (spam farms and boilerplate link blocks live in shallow
  * cores; topical hubs in deep ones).
  *
  * Graph contract: `edges(src, dst)` is an UNDIRECTED simple graph —
  * each edge stored once in either direction, no self-loops, no
  * duplicates. Violations corrupt degrees silently, so they fail
  * loud in one validation pass (the asOfJoin duplicate-guard
  * policy).
  *
  * Plan shape per round: one degree aggregate (explode both
  * endpoints, groupBy id — ONE shuffle) + two semi-joins restricting
  * the edge set to surviving endpoints (shuffles on src / dst). The
  * edge set only shrinks, so rounds get cheaper monotonically; the
  * loop truncates lineage each round via [[graft.ops.Checkpoints]]
  * (reliable when the session has a checkpoint dir — the shared
  * iterative-loop durability contract). Convergence needs at most
  * "degeneracy-ordering depth" rounds — small for real web graphs
  * (they are low-degeneracy).
  *
  * [[peelRounds]] (exactly R peels, converged or not) is the
  * cross-engine window: a FIXED round count unrolls into plain SQL,
  * so the oracle replicates the exact intermediate state — the
  * PageRank precedent for iterative operators.
  */
object KCore {

  /** One peel: drop vertices with degree < k from the edge set. */
  private def peelOnce(e: DataFrame, k: Int): DataFrame = {
    val deg = e.select(explode(array(col("src"), col("dst"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val survivors = deg.where(col("deg") >= k).select(col("id"))
    e.join(survivors.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(survivors.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
  }

  /** Exactly `rounds` peels, converged or not; returns the remaining
    * vertices with their degree in the remaining edge set. The
    * fixed-round form the SQL oracle unrolls verbatim. */
  def peelRounds(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k>=1, rounds>=1; got k=$k rounds=$rounds")
    // truncate the INPUT too: validate() already ran one job over the
    // (possibly expensive) edge derivation — without this, round 1
    // recomputes it from scratch
    var e = graft.ops.Checkpoints.truncate(validate(edges))
    // fused loop (r15): every round still cuts (the r14 half-cadence
    // rejection was about UNCUT rounds re-executing the peel in e's
    // three consumers — a lazy cut persists blocks on first compute),
    // but lazily, so the fixed peel rounds execute as one job at the
    // consumer's action. Reliable mode untouched.
    graft.ops.Checkpoints.fusedLoop(e) {
      for (_ <- 0 until rounds)
        e = graft.ops.Checkpoints.truncateFused(peelOnce(e, k))
    }
    e.select(explode(array(col("src"), col("dst"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).cast("long").as("deg"))
  }

  /** Simple-graph validation: no self-loops, no duplicate edges in
    * either orientation. One canonicalized aggregate; offenders
    * raise with the offending pair named. */
  private def validate(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val bad = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
      .where(col("n") > 1 || col("a") <=> col("b"))
      .limit(1).collect()
    require(bad.isEmpty, {
      val r = bad.head
      s"KCore: not a simple undirected graph — edge (${r.get(0)}, ${r.get(1)}) " +
        (if (r.getLong(2) > 1) s"appears ${r.getLong(2)} times (dedup / canonicalize first)"
         else "is a self-loop")
    })
    e
  }
}
