package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair graph — the final
  * step of a dedup pipeline: pair edges → duplicate CLUSTERS → one
  * canonical representative per cluster (reference analogue: the
  * "keep first, drop the rest" dup handling of
  * dags/transform_raw_weather.py:91-101, lifted from key-equality
  * groups to similarity components).
  *
  * Algorithm: iterative min-label propagation — every node starts
  * labeled with itself; each round, every node takes the minimum
  * label among itself and its neighbors; fixpoint = components. The
  * label of a component is the minimum doc id in it (deterministic,
  * order-free). Rounds needed = graph diameter ≤ O(log n) for the
  * short, dense clusters near-dup graphs produce.
  *
  * Scale shape: each round is one join + one groupBy on the edge
  * list — the standard large-scale CC loop (the large-star/small-star
  * family refines exactly this shape to cut rounds on long paths;
  * dup clusters are near-cliques, so plain propagation converges in
  * 2-3 rounds). The driver loop only checks a convergence COUNT per
  * round; all data stays distributed.
  */
object Components {

  /** (id, component) for every node of the pair graph; component =
    * min doc id reachable. Pairs carry columns d1, d2.
    *
    * `partitions` sizes the per-round jobs: the pair graph of a dedup
    * pass is tiny relative to the corpus (it holds only near-dup doc
    * ids), so the default keeps each round a handful of tasks; at
    * larger graph sizes pass a higher value. Edges are hash-
    * partitioned by src once and cached, co-partitioned with the
    * label frame each round (the propagate join reuses the cached
    * layout instead of re-exchanging). Convergence is detected by the
    * label SUM: labels only ever decrease, so an unchanged sum ⇔
    * fixpoint — one small aggregate per round instead of a join. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          partitions: Int = 4): DataFrame = {
    // localCheckpoint (eager) the pair list FIRST: it runs the
    // (potentially expensive) pair-generation pipeline exactly once
    // AND truncates lineage, so every loop round below plans over a
    // trivial scan of materialized blocks instead of re-analyzing /
    // re-optimizing / re-codegenning the whole upstream pipeline per
    // round. (A persist-only version kept the full lineage: with a
    // MinHash pair generator upstream, each of ~5 rounds spent
    // seconds in the planner on an already-cached subtree — the loop
    // cost 10× the pair generation itself. The self-union below also
    // raced both branches into cache population, running the
    // generator twice.)
    val p = pairs.select(col("d1"), col("d2")).transform(graft.ops.Checkpoints.truncate)
    val edges = p.select(col("d1").as("src"), col("d2").as("dst"))
      .unionByName(p.select(col("d2").as("src"), col("d1").as("dst")))
      .repartition(partitions, col("src"))
      .persist()
    if (p.isEmpty) {
      // empty pair graph: no components (and the label-sum convergence
      // probe below would read sum(comp) = null)
      edges.unpersist(blocking = false)
      return edges.sparkSession.emptyDataFrame
        .select(lit(0L).as("id"), lit(0L).as("comp")).limit(0)
    }

    // Seed = one propagation round done as a single aggregation (no
    // join): comp₀(v) = min(v, min over neighbors). Near-dup graphs
    // are unions of near-cliques, so most components are already
    // final after this seed and the loop usually runs one verify
    // round plus one no-change round.
    //
    // Eager checkpoint per round (Checkpoints.truncate — executor-
    // local by default, reliable when the session has a checkpoint
    // dir): persist alone keeps the full lineage, so round i's plan
    // embeds i joins — analysis + codegen grow linearly and dominate
    // past a few rounds. Checkpointing truncates the plan to a
    // constant size. Superseded executor-local checkpoint blocks are
    // reclaimed by the ContextCleaner rather than explicitly
    // (Dataset.unpersist can't reach a checkpoint RDD); exposure is
    // bounded at maxIter snapshots of O(#nodes) rows — small next to
    // the edge list the loop keeps cached on purpose.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), min(col("src"))).as("comp"))
      .transform(graft.ops.Checkpoints.truncate)
    var prevSum = labels.agg(sum(col("comp"))).first().getLong(0)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("src"), col("comp")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("comp")).as("neighbor_comp"))
      val propagated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("neighbor_comp"), col("comp"))).as("comp"))
      // POINTER JUMPING (path doubling): comp(x) := min(comp(x),
      // comp(comp(x))). Labels are node ids, so a label's own label is
      // defined for every node; one self-join per round squares the
      // distance a label travels, collapsing convergence from
      // O(diameter) to O(log diameter) rounds. Plain propagation is
      // fine on near-clique dup graphs (diameter 2-3) but a GEOMETRIC
      // neighbor graph (DBSCAN on a dense point cloud) percolates
      // into paths hundreds of hops long — measured: the sf0.1 DBSCAN
      // cloud blew a 20-round cap under plain propagation and
      // converges in 7 rounds with jumping. The fixpoint is unchanged
      // (min reachable id), only the round count shrinks.
      labels = propagated.alias("a")
        .join(propagated.select(col("id").as("comp"), col("comp").as("cc")).alias("b"),
          Seq("comp"), "left")
        .select(col("id"), least(col("comp"), coalesce(col("cc"), col("comp"))).as("comp"))
        .transform(graft.ops.Checkpoints.truncate)
      val nextSum = labels.agg(sum(col("comp"))).first().getLong(0)
      converged = nextSum == prevSum
      prevSum = nextSum
      i += 1
    }
    edges.unpersist(blocking = false)
    // silent non-convergence would emit intermediate labels that LOOK
    // like components — fail loudly instead (a diameter > maxIter
    // graph means a long similarity chain; raise maxIter to handle it)
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
        "graph diameter exceeds maxIter; pass a larger maxIter")
    labels
  }

  /** Connected components by LARGE-STAR / SMALL-STAR edge rewriting
    * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
    * "Connected Components in MapReduce and Beyond", SoCC 2014):
    * provably O(log² n) rounds on ANY topology. Use THIS variant when
    * the graph can percolate into long regional chains — a geometric
    * neighbor graph (DBSCAN), a road network, a social graph.
    *
    * Why a second algorithm: min-label propagation (even with the
    * pointer jumping above) stalls on REGIONAL MINIMA — labels
    * converge to per-region minima fast, but the global minimum then
    * conquers region by region, and each takeover must first REACH
    * the regional minimum by plain propagation, so the round count
    * degrades toward O(#regions) ≈ O(diameter/regionRadius). Measured
    * on the sf0.1 DBSCAN cloud (≈15k nodes, one percolated
    * component): propagation+jumping blew a 20-round cap; star
    * contraction converges in a handful of LS+SS rounds.
    * Propagation stays the default for near-clique dup graphs, where
    * it finishes in 2-3 cheap rounds.
    *
    * Each round: large-star (every node connects its LARGER neighbors
    * to its local min — breaks long chains toward minima), then
    * small-star (connects its smaller-or-equal neighbors and itself
    * to the local min — flattens into stars). Fixpoint = a union of
    * stars whose centers are the component minima; convergence is an
    * exact edge-set comparison (`exceptAll` both ways would be two
    * anti-joins; an unchanged canonical edge set is equivalently an
    * unchanged (count, sum a, sum b) triple PLUS one containment
    * anti-join — we use the cheap triple as a fast pre-check and the
    * anti-join as the decisive test only when the triple matches). */
  def connectedComponentsStars(pairs: DataFrame, maxIter: Int = 50,
                               partitions: Int = 8): DataFrame = {
    val p0 = pairs.select(col("d1"), col("d2")).transform(graft.ops.Checkpoints.truncate)
    val nodes = p0.select(col("d1").as("id"))
      .unionByName(p0.select(col("d2").as("id"))).distinct()
      .transform(graft.ops.Checkpoints.truncate)
    def canon(df: DataFrame): DataFrame =
      df.select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
        .where(col("a") =!= col("b")).distinct()
    var edges = canon(p0.select(col("d1").as("x"), col("d2").as("y")))
      .repartition(partitions, col("a"))
      .transform(graft.ops.Checkpoints.truncate)
    def sym(e: DataFrame): DataFrame =
      e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    def localMin(s: DataFrame): DataFrame =
      s.groupBy(col("u")).agg(min(col("v")).as("__mv"))
        .select(col("u"), least(col("u"), col("__mv")).as("m"))
    var converged = false
    var i = 0
    // the previous round's edge-set fingerprint carries forward so
    // each round pays ONE fingerprint job, not two
    var prevTrip = edges.agg(count(lit(1)), sum(col("a")), sum(col("b"))).first()
    while (!converged && i < maxIter) {
      // large-star: (v, m(u)) for every neighbor v > u
      val s1 = sym(edges)
      val ls = canon(s1.join(localMin(s1), Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("x"), col("m").as("y")))
      // small-star over the LS result: (v, m(u)) for v ≤ u, plus (u, m(u))
      val s2 = sym(ls)
      val m2 = localMin(s2)
      val ss = canon(
        s2.join(m2, Seq("u")).where(col("v") < col("u"))
          .select(col("v").as("x"), col("m").as("y"))
        .unionByName(m2.select(col("u").as("x"), col("m").as("y"))))
        .repartition(partitions, col("a"))
        .transform(graft.ops.Checkpoints.truncate)
      // convergence: the canonical edge set is unchanged
      val trip2 = ss.agg(count(lit(1)), sum(col("a")), sum(col("b"))).first()
      if (trip2 == prevTrip && ss.exceptAll(edges).isEmpty) converged = true
      prevTrip = trip2
      edges = ss
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStars did not converge in $maxIter rounds — " +
        "raise maxIter (O(log² n) is the expected bound)")
    // fixpoint edges are stars rooted at component minima: every
    // member's comp is its smaller endpoint (min-folded for safety —
    // at a true fixpoint each member has exactly one root); roots and
    // isolated nodes label themselves
    val memberComp = edges.groupBy(col("b")).agg(min(col("a")).as("comp"))
      .select(col("b").as("id"), col("comp"))
    nodes.join(memberComp, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Survivorship (golden-record selection): per duplicate cluster,
    * keep the QUALITY-best member instead of the components'
    * id-min convention — the ER step after clustering, where "best"
    * is a deterministic policy, here (longest `textCol`, ties to the
    * smallest id; NULL text sorts as length 0). One window over the
    * cluster-keyed join — partitions are cluster-sized, never the
    * corpus. Output per cluster: (cluster_id, n_members, survivor_id,
    * survivor_len). */
  def survivors(clusters: DataFrame, records: DataFrame,
                idCol: String, textCol: String): DataFrame = {
    val scored = clusters.select(col("doc_id").as("__id"), col("cluster_id"))
      .join(records.select(col(idCol).as("__id"),
        coalesce(length(col(textCol)).cast("long"), lit(0L)).as("__len")), Seq("__id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("__len").desc, col("__id").asc)
    scored
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))))
      .where(col("__rn") === 1)
      .select(col("cluster_id"), col("n_members"),
        col("__id").as("survivor_id"), col("__len").as("survivor_len"))
  }
}
