package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank in exact fixed-point arithmetic — the iterative graph
  * centrality complement to `Components` (which finds WHO is
  * connected; this ranks HOW central).
  *
  * Floating-point PageRank is shuffle-order-dependent (per-target
  * double sums), so two runs of the same data can differ in late
  * digits and no cross-engine oracle can exist. This implementation
  * keeps every rank as a scaled BIGINT: contributions are floor
  * divisions `rank div outdeg`, the damping step is
  * `base + (num · Σcontrib) div den` with d = num/den, and integer
  * sums are order-free — the result is bit-identical across runs,
  * partitionings, and engines (q_pagerank hash-matches an unrolled
  * DuckDB replica). The price is a deterministic floor-rounding
  * drift ≤ outdeg ulps per node per iteration — invisible at the
  * 1e9 scale and identical everywhere.
  *
  * Semantics: the simplified dangling-mass-dropping variant (a node
  * with no out-edges contributes nothing; total mass then decays
  * toward N·base/(1−d) instead of being redistributed) — standard
  * for ranking use, where only relative order matters, and the
  * variant an unrolled SQL oracle can replicate cheaply.
  *
  * Scale shape: one equi-join (edges ⋈ ranks on src) plus one hash
  * aggregate by dst per iteration; the rank frame is one long per
  * node. The edge side is pinned to a hash layout on src once, so
  * the per-iteration join re-exchanges only the O(|V|) rank frame.
  *
  * Every iteration truncates the plan to constant size (the
  * `Components` loop lesson), so 20 iterations cost 20 bounded
  * shuffles, not an exponentially deep lineage. Durability follows
  * the shared [[graft.ops.Checkpoints]] contract: executor-local by
  * default; set a session checkpoint dir for reliable, executor-
  * loss-surviving truncation on long cluster runs.
  */
object PageRank {

  private def normalize(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)

  /** (src, dst, __deg): each edge with its source's out-degree —
    * the shape the iteration joins against. */
  private def withDegrees(e: DataFrame): DataFrame =
    e.join(e.groupBy(col("src")).agg(count(lit(1)).as("__deg")), "src")

  /** One synchronous iteration's incoming contribution sums:
    * Σ_{(src,dst) ∈ E} rank(src) div outdeg(src), grouped by dst. */
  private def contribSums(withDeg: DataFrame, r: DataFrame): DataFrame =
    withDeg.join(r, withDeg("src") === r("id"))
      .select(col("dst").as("id"), expr("rank div __deg").as("__c"))
      .groupBy(col("id")).agg(sum(col("__c")).as("__s"))

  private def checkParams(iters: Int, scale: Long, dampNum: Long, dampDen: Long): Long = {
    require(iters >= 1 && iters <= 50, s"iters in [1,50], got $iters")
    require(dampNum > 0 && dampDen > dampNum, "need 0 < dampNum < dampDen")
    require(scale * (dampDen - dampNum) % dampDen == 0,
      s"base (1-d)*scale = $scale*(${dampDen - dampNum}/$dampDen) must be an exact integer")
    scale * (dampDen - dampNum) / dampDen
  }

  // Overflow guard: total mass never exceeds N·scale (the damping
  // step contracts it), so a single node's incoming sum is bounded
  // by N·scale and the damping multiply by dampNum·N·scale — which
  // must fit a Long, or a mega-hub would silently wrap negative
  // under non-ANSI arithmetic.
  private def checkOverflow(n: Long, scale: Long, dampNum: Long): Unit =
    require(java.math.BigInteger.valueOf(dampNum)
      .multiply(java.math.BigInteger.valueOf(n))
      .multiply(java.math.BigInteger.valueOf(scale))
      .bitLength() < 63,
      s"PageRank: dampNum*N*scale = $dampNum*$n*$scale can overflow Long - " +
        "lower `scale` (rank resolution) for graphs this large")

  /** The shared fixed-point loop. `nodes` carries a `__seed` flag:
    * teleport mass (the init rank and the per-iteration base term)
    * lands only on flagged nodes — all-true is classic PageRank,
    * a restricted set is personalized PageRank/TrustRank. */
  private def run(withDeg: DataFrame, nodes: DataFrame, iters: Int, base: Long,
                  scale: Long, dampNum: Long, dampDen: Long): DataFrame = {
    val baseCol = when(col("__seed"), lit(base)).otherwise(lit(0L))
    var r = nodes.withColumn("rank",
      when(col("__seed"), lit(scale)).otherwise(lit(0L)))
    // fused loop (r15): every round cuts LAZILY — constant-size plans,
    // blocks persisted as computed — and the whole loop executes as
    // one job at the consumer's action instead of an eager checkpoint
    // job (+ AQE replan of the identical shape) every 2nd round, which
    // at sf0.1 cost more wall than the loop's shuffles. Reliable mode
    // (checkpoint dir set) is untouched: eager per-round recovery
    // points, AQE on.
    graft.ops.Checkpoints.fusedLoop(nodes) {
      for (_ <- 0 until iters) {
        val sums = contribSums(withDeg, r)
        r = nodes.join(sums, Seq("id"), "left")
          .select(col("id"), col("__seed"),
            (baseCol + expr(s"($dampNum * coalesce(__s, 0L)) div $dampDen")).as("rank"))
          .transform(graft.ops.Checkpoints.truncateFused)
      }
    }
    r.select(col("id"), col("rank"))
  }

  /** Ranks after `iters` synchronous iterations over directed
    * `edges` (src, dst BIGINT; parallel edges count once per
    * occurrence — pre-`distinct` if multiplicity is noise). Output:
    * (id, rank) with rank in units of 1/`scale`, initial rank =
    * scale. Damping d = dampNum/dampDen (default 17/20 = 0.85). */
  def ranks(edges: DataFrame, iters: Int = 5, scale: Long = 1000000000L,
            dampNum: Long = 17L, dampDen: Long = 20L): DataFrame = {
    val base = checkParams(iters, scale, dampNum, dampDen)
    val e = normalize(edges).transform(graft.ops.Checkpoints.truncate)
    // loop frames PINNED to hashpartitioning(key, shuffle parallelism)
    // (r15, §2.4): the per-round join then proves co-partitioning
    // against the previous round's checkpoint (same key, same count)
    // and the edge side never re-exchanges inside the fused loop —
    // only the O(|V|) rank frame moves.
    val nodes = graft.ops.Checkpoints.pinPartitioned(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
        .distinct(), col("id"))
    // N is already materialized (checkpointed), so the count is cheap.
    val n = nodes.count()
    checkOverflow(n, scale, dampNum)
    val withDeg = graft.ops.Checkpoints.pinPartitioned(withDegrees(e), col("src"))
    run(withDeg, nodes.withColumn("__seed", lit(true)),
      iters, base, scale, dampNum, dampDen)
  }

  /** Personalized PageRank (TrustRank — Gyöngyi, Garcia-Molina &
    * Pedersen, VLDB 2004): identical fixed-point arithmetic, but
    * teleport mass (initial rank AND the per-iteration base term)
    * lands ONLY on the `seeds` set. Rank then measures proximity to
    * the trusted core through link structure — the standard crawl-
    * graph spam/quality signal (far-from-seed domains score ~0) and
    * the "related items" primitive when seeded per-entity.
    *
    * Same exact-integer guarantees as [[ranks]]: bit-identical
    * across runs, partitionings, and engines (q_trustrank unrolls in
    * SQL). Seeds outside the graph carry no edges and are ignored;
    * an EMPTY intersection with the graph raises loudly — an all-
    * zero "nothing is trusted" frame would read as a spam verdict on
    * the whole corpus. */
  def personalizedRanks(edges: DataFrame, seeds: DataFrame, iters: Int = 5,
                        scale: Long = 1000000000L, dampNum: Long = 17L,
                        dampDen: Long = 20L): DataFrame = {
    val base = checkParams(iters, scale, dampNum, dampDen)
    val e = normalize(edges).transform(graft.ops.Checkpoints.truncate)
    val sd = seeds.select(col("id").cast("long").as("id")).distinct()
    // same pinned loop layout as [[ranks]] (r15, §2.4)
    val nodes = graft.ops.Checkpoints.pinPartitioned(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
        .distinct()
        .join(sd.withColumn("__seed", lit(true)), Seq("id"), "left")
        .na.fill(false, Seq("__seed")), col("id"))
    require(nodes.where(col("__seed")).limit(1).collect().nonEmpty,
      "personalizedRanks: no seed id is present in the graph - an all-zero " +
        "rank frame would silently read as 'nothing is trusted'")
    val n = nodes.count()
    checkOverflow(n, scale, dampNum)
    val withDeg = graft.ops.Checkpoints.pinPartitioned(withDegrees(e), col("src"))
    run(withDeg, nodes, iters, base, scale, dampNum, dampDen)
  }
}
