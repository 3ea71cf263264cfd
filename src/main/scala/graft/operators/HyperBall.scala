package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HyperBall (Boldi & Vigna, "In-core computation of geometric
  * centralities with HyperBall", 2013; HyperANF, WWW 2011) — the
  * neighborhood function at graph scale: for every node, an
  * HLL-sketched estimate of |ball(v, r)|, the number of nodes within
  * r hops. The algorithm behind "four degrees of separation":
  * exact per-node balls need O(|V|²) state, but an HLL counter per
  * node makes the whole computation r rounds of associative
  * register max-merges — pure joins and aggregates, no per-node
  * traversal.
  *
  * Built on [[PortableHll]]'s register rows (id, reg, r): round 0
  * seeds each node's counter with itself; each round, v's counter
  * max-merges the counters of its out-neighbors (ball_r(v) =
  * {v} ∪ ⋃_{v→u} ball_{r−1}(u)). Max-merge is associative,
  * commutative, idempotent — so the rounds are partitioning-
  * independent AND replayable in any engine: q_hyperball unrolls
  * two rounds in DuckDB and hash-matches the ESTIMATES, the same
  * cross-engine contract as q_hll_portable (no other distributed
  * HyperBall has an exact oracle; this one does because the
  * registers are deterministic integers).
  *
  * Complement to [[Bfs]]: BFS gives exact distances from ONE seed
  * set in O(reached) work; HyperBall gives approximate ball SIZES
  * for EVERY node simultaneously — the only feasible shape for
  * all-pairs reachability statistics at 100 TB. The loop runs on
  * DENSE per-node register arrays (the layout the HyperBall paper
  * uses): one m-int array per node, merged element-wise by the
  * [[graft.plans.RegMaxArr]] aggregate, whose map-side partials
  * compress each round's shuffle to O(|V| · m) — the row-at-a-time
  * form would move O(|E| · m̄) (join fan-out) register rows instead,
  * measured 4× slower on the bench graph. Per round: one equi-join
  * on dst + one per-id array-max aggregate; lineage truncated per
  * round ([[graft.ops.Checkpoints]] durability contract).
  *
  * NULL edge endpoints fail loud (the Bfs policy — a dropped edge
  * silently shrinks downstream balls).
  */
object HyperBall {

  private def validated(edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val bad = e0.where(col("src").isNull || col("dst").isNull).limit(1).collect()
    require(bad.isEmpty,
      "HyperBall: NULL edge endpoint - a silently dropped edge would " +
        "shrink every downstream ball; clean the edge list explicitly")
    e0
  }

  /** Dense seed: one m-int register array per node, holding only the
    * node's own hash observation. */
  private def denseSeed(nodes: DataFrame, lgK: Int): DataFrame = {
    val m = 1 << lgK
    nodes.select(col("id"),
      PortableHll.regCol(col("id"), lgK).as("__reg"),
      PortableHll.rhoCol(col("id"), lgK).as("__rho"))
      .select(col("id"),
        transform(sequence(lit(0), lit(m - 1)),
          i => when(i === col("__reg"), col("__rho")).otherwise(lit(0))).as("regs"))
  }

  /** One absorb round over DENSE arrays: v's array element-wise-max-
    * merges its successors'. The aggregate is [[graft.plans
    * .RegMaxArr]], whose map-side partials compress the shuffle to one
    * m-int array per (node, partition) — O(|V|·m) traffic per round
    * instead of O(|E|·m̄) register rows. */
  private def denseRound(c: DataFrame, e: DataFrame): DataFrame = {
    // fresh-aliased edge columns: with the half-cadence loop cut, an
    // uncut c still CONTAINS e's subtree, so direct e("dst")/e("src")
    // references would be ambiguous self-join columns
    val ee = e.select(col("dst").as("__hb_dst"), col("src").as("__hb_src"))
    c.unionByName(
        c.join(ee, c("id") === col("__hb_dst"))
          .select(col("__hb_src").as("id"), col("regs")))
      .groupBy(col("id"))
      .agg(graft.plans.RegMaxArr.regMax(col("regs")).as("regs"))
  }

  /** Dense arrays → the portable (id, reg, r) row form (rho ≥ 1, so
    * zero elements are exactly the absent registers). */
  private def toRows(c: DataFrame): DataFrame =
    c.select(col("id"), posexplode(col("regs")).as(Seq("reg", "r")))
      .where(col("r") > 0)

  /** ROW-LOCAL estimate straight from the dense array: the two
    * sufficient statistics (live count, exact decimal Σ 2^(60−r))
    * fold over the array in one narrow projection — no explode, no
    * shuffle — then feed the SAME estimator expression as the row
    * path ([[PortableHll.estimateFromParts]]): identical results,
    * zero aggregation cost. */
  private def denseEstimate(c: DataFrame, lgK: Int, out: String): DataFrame =
    c.select(col("id"),
      PortableHll.estimateFromParts(
        expr("aggregate(filter(regs, x -> x > 0), cast(0 as decimal(38,0)), " +
          "(acc, x) -> acc + cast(shiftleft(cast(1 as bigint), 60 - x) as decimal(38,0)))"),
        expr("cast(size(filter(regs, x -> x > 0)) as bigint)"),
        lgK, out))

  /** The shared dense loop: seed, then `rounds` absorb rounds. */
  private def denseLoop(edges: DataFrame, rounds: Int, lgK: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 30, s"rounds in [1,30], got $rounds")
    // edge frame pinned on the absorb join's key (r15, §2.4): the
    // static planner inside the fused loop then proves
    // co-partitioning against each round's register checkpoint and
    // the edge side never re-exchanges
    val e = graft.ops.Checkpoints.pinPartitioned(validated(edges), col("dst"))
    val nodes = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .distinct()
    var c = graft.ops.Checkpoints.pinPartitioned(denseSeed(nodes, lgK), col("id"))
    // fused loop (r15): every round still cuts (the r14 half-cadence
    // rejection was about UNCUT rounds re-executing the RegMax final
    // aggregate in c's two consumers — a lazy cut persists blocks on
    // first compute, so both consumers read blocks), but lazily, so
    // the absorb rounds execute as one job at the consumer's action.
    // Reliable mode untouched.
    graft.ops.Checkpoints.fusedLoop(c) {
      for (_ <- 1 to rounds)
        c = denseRound(c, e).transform(graft.ops.Checkpoints.truncateFused)
    }
    c
  }

  /** (id, ball_est): estimated |ball(id, rounds)| for every node —
    * ball_est ≥ 1 (a node always sees itself). */
  def ballSizes(edges: DataFrame, rounds: Int, lgK: Int = 7): DataFrame =
    denseEstimate(denseLoop(edges, rounds, lgK), lgK, out = "ball_est")

  /** Harmonic centrality (the application HyperBall was built for —
    * Boldi & Vigna, "Axioms for centrality", 2014): H(v) =
    * Σ_{u≠v} 1/d(u→v), estimated as Σ_r (N_r(v) − N_{r−1}(v))/r
    * from the per-round INCOMING-ball sizes (HyperBall runs on the
    * transposed graph: nodes that can REACH v are what make v
    * central). Unreachable pairs contribute 0 — harmonic's defining
    * advantage over closeness on disconnected graphs.
    *
    * Reported in integer nano-units: each round's shell count is the
    * (deterministic, already-rounded) estimate difference, its
    * contribution `(diff · 1e9) div r` an exact integer — summed as
    * longs, order-free. Register growth makes the raw estimator
    * non-decreasing; the linear-counting handoff can dip by an ulp,
    * so shells clamp at 0 (both engines, identically).
    * Output: (id, harmonic_e9) after exactly `rounds` rounds —
    * a lower bound that has converged once the last shell is empty. */
  def harmonicCentrality(edges: DataFrame, rounds: Int, lgK: Int = 7): DataFrame = {
    require(rounds >= 1 && rounds <= 30, s"rounds in [1,30], got $rounds")
    // transpose: v's counter absorbs along REVERSED out-edges, so the
    // ball collects the nodes that can reach v. Pinned on the absorb
    // join's key, the denseLoop rationale.
    val e = graft.ops.Checkpoints.pinPartitioned(
      validated(edges).select(col("dst").as("src"), col("src").as("dst")),
      col("dst"))
    val nodes = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .distinct()
    var c = graft.ops.Checkpoints.pinPartitioned(denseSeed(nodes, lgK), col("id"))
    // every round's registers are CONSUMED (per-round estimates), so
    // the c loop keeps per-round cuts — but the shell accumulation no
    // longer runs a join + checkpoint per round (r14 optimization:
    // those were ~1/3 of q_harmonic's wall). Each round contributes a
    // ROW-LOCAL estimate projection over its already-materialized
    // register frame; one final join chain over the rounds+1 estimate
    // frames sums the shells. Long addition is associative and every
    // term is the identical exact-integer expression, so the result
    // is bit-for-bit the per-round accumulation's.
    //
    // Each estimate frame is eagerly truncated (r15, the r14 advice):
    // a LAZY projection would keep every round's |V|×m register
    // checkpoint pinned in the block store until the final join chain
    // executes — peak storage linear in rounds (up to 31 register
    // frames). Materializing the (id, estimate) frame — two narrow
    // columns, tiny — drops the only reference to the previous
    // round's registers, so ContextCleaner frees them as the loop
    // advances; peak register storage stays O(2 frames) at any round
    // count. The extra per-round job is a narrow scan of an
    // already-materialized frame.
    // ...and the register cut itself is LAZY (fused, r15): the eager
    // estimate checkpoint's job computes (and block-persists) that
    // round's registers on the way, so each round costs ONE eager job
    // — the tiny estimate — instead of registers + estimate.
    val ests = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    graft.ops.Checkpoints.fusedLoop(c) {
      ests += graft.ops.Checkpoints.truncate(denseEstimate(c, lgK, out = "__e0"))
      for (r <- 1 to rounds) {
        c = denseRound(c, e).transform(graft.ops.Checkpoints.truncateFused)
        ests += graft.ops.Checkpoints.truncate(denseEstimate(c, lgK, out = s"__e$r"))
      }
    }
    val joined = ests.reduce((a, b) => a.join(b, Seq("id")))
    val shellSum = (1 to rounds)
      .map(r => expr(s"(greatest(__e$r - __e${r - 1}, 0L) * 1000000000L) div $r"))
      .reduce(_ + _)
    joined.select(col("id"), shellSum.as("harmonic_e9"))
  }
}
