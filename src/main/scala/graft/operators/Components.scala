package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the step that turns verified
  * duplicate PAIRS into duplicate CLUSTERS with one surviving
  * representative (min id), which is what a dedup pipeline actually keeps.
  *
  * Iterative min-label propagation with ADAPTIVE pointer jumping: every
  * round each node adopts the smallest label among itself and its
  * neighbors; once the per-round change count stops collapsing
  * geometrically the round additionally adopts the label of its current
  * label (path shortcutting), converging in O(log diameter) rounds from
  * that point. Dup clusters are usually near-cliques (2–3 plain rounds,
  * never paying the jump's self-join); chain-shaped components (e.g.
  * transitive near-dup sig chains, measured diameter > 15 on the sf0.1
  * image graph) collapse logarithmically instead of one hop per round.
  * Each round is one shuffle join + one aggregate (+ one label self-join
  * while jumping) — all distributed, no driver-side graph.
  */
object Components {

  /** CONTRACT: every edge endpoint must appear in `nodes` (edges ⊆
    * nodes × nodes). Labels are seeded from the edge endpoints, so a
    * foreign endpoint would participate in propagation and its id could be
    * elected as a cluster_id via min() even though the final left join
    * drops its own row — callers with untrusted edge lists must semi-join
    * `edges` against `nodes` first.
    *
    * @param nodes one column `node` (every element, including isolated)
    * @param edges columns `a`, `b` (undirected pairs)
    * @return (node, cluster_id) where cluster_id = min node id reachable
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, maxIter: Int = 64): DataFrame = {
    // Iterative frames use localCheckpoint, not cache+unpersist:
    // unpersisting iteration N's labels invalidates the CacheManager entry
    // of every dependent cached plan (iteration N+1's labels), so the loop
    // silently recomputed its entire history each round — measured 2×
    // growth per iteration (and the convergence probe paid it twice) on a
    // 13k-node graph. Checkpointing truncates the lineage instead: each
    // iteration's jobs see materialized partitions, never the chain. Same
    // hygiene GraphX applies to iterative graphs; on a real cluster a
    // reliable checkpoint dir would back the long chains. (Setup frames
    // are eager; the in-loop frame is lazy, materialized by the
    // convergence count — see below.)
    val e = edges.select(col("a"), col("b")).localCheckpoint()
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    // The loop runs ONLY over edge-incident nodes: isolated nodes can never
    // change label, and they usually dominate the node set (most documents
    // have no duplicate), so keeping them out shrinks every per-round frame
    // to the duplicate neighborhood. They rejoin as their own cluster at
    // the end.
    var labels = sym.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("cluster_id"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    // ADAPTIVE pointer jump (round-19 A/B, see OPTIMIZATION_r19.md): the
    // jump's extra label self-join is pure per-round overhead on near-clique
    // graphs (dup clusters — they converge in 2-3 plain rounds), and only
    // pays on long-chain components where plain propagation needs one round
    // per hop. Engage it from the first round whose change count is NOT
    // collapsing geometrically (changed*2 > previous changed — a clique's
    // count collapses superexponentially, a chain's stays ~constant), and
    // keep it engaged (hysteresis) so convergence stays O(log diameter)
    // from that point. Decision inputs are the deterministic per-round
    // change counts, so the label result is unchanged either way — only
    // the round count/plan differs.
    var jumping = false
    var prevChanged = Long.MaxValue
    while (!converged && iter < maxIter) {
      val neighborMin = sym
        .join(labels, sym("a") === labels("node"))
        .groupBy(col("b").as("node2"))
        .agg(min("cluster_id").as("neighbor_min"))
      // One round = neighbor-min propagation PLUS a pointer jump (one
      // left self-join adopting the label of the current label — both
      // joins read the MATERIALIZED labels frame, so neither side
      // recomputes anything). The jump turns O(diameter) rounds into
      // O(log diameter): long rep-pair chains (measured: the sf0.1 image
      // graph has components of diameter > 15, which left plain
      // propagation UNCONVERGED at the old maxIter=15) now collapse in
      // ~14 rounds. Every label value is an edge-incident node id (mins
      // of initial ids), so the jump's left join always finds its parent
      // row. Convergence stays exact: chg records ANY decrease; a
      // zero-change round means in particular the neighbor step was the
      // identity, which forces labels constant per component — the true
      // min-id fixpoint. Measured alternatives, both rejected: a SECOND
      // jump per round (reach l(l(l(v)))) sent driver-side round time
      // superlinear under AQE (39–52 s/round by round 12 vs ~0.3 s
      // here); folding the jump into the neighbor aggregate as parent
      // pseudo-edges kept the round count identical but tripled the
      // aggregate input (~0.6–1.0 s/round vs ~0.3–0.5 s for this shape).
      //
      // The change flag rides in the checkpointed frame, and the
      // convergence probe IS the materializing action: the checkpoint is
      // lazy, so the full count over chg computes (and thereby persists)
      // every partition in ONE job per iteration — the eager-checkpoint +
      // probe pair was two back-to-back jobs over the same tiny frames,
      // and per-round scheduling latency dominates CC wall time at any
      // scale where components are near-cliques. The count is full (no
      // limit), so no partition is left unmaterialized for later rounds
      // to recompute through the lineage.
      val base = labels.as("l")
        .join(neighborMin, col("l.node") === col("node2"), "left")
      val (joined, newLabel) =
        if (jumping) {
          val nl = least(col("l.cluster_id"), col("neighbor_min"), col("plabel"))
          (base.join(
            labels.select(col("node").as("pnode"), col("cluster_id").as("plabel")),
            col("l.cluster_id") === col("pnode"), "left"), nl)
        } else
          (base, least(col("l.cluster_id"), col("neighbor_min")))
      val next = joined
        .select(col("l.node").as("node"),
          newLabel.as("cluster_id"),
          (newLabel < col("l.cluster_id")).as("chg"))
        .localCheckpoint(eager = false)
      val changed = next.filter(col("chg")).count()
      labels = next.select("node", "cluster_id")
      converged = changed == 0
      // Engage on the first non-geometric round; the iter>=8 backstop
      // bounds the worst case (changed could halve each round without the
      // graph being clique-shaped): total rounds ≤ 8 + O(log diameter).
      if (!converged && (changed * 2 > prevChanged || iter >= 8)) jumping = true
      prevChanged = changed
      iter += 1
    }
    // A labeling that never reached the zero-change fixpoint is WRONG
    // (partially propagated cluster ids) — it must never flow silently into
    // downstream dedup results. Proven reachable once: the old plain
    // propagation at maxIter=15 left the sf0.1 image graph unconverged.
    // With the (adaptive) pointer jump, convergence takes O(log diameter)
    // rounds — maxIter=64 covers any physical graph — so this throw is a
    // hard bug signal, not an operational knob.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "partially-propagated cluster labels would be wrong; raise maxIter " +
          "only if the edge set is legitimately this deep")
    nodes.select("node").join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("cluster_id"), col("node")).as("cluster_id"))
  }
}
