package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first hop distance over an undirected edge
  * relation: the operator behind `graph_bfs` (graft.queries.Extra7;
  * reference /root/reference/task.ts has no analogue — engine
  * graph-analytics surface, the fourth graph discipline next to
  * label-propagation CC/PageRank, enumeration Triangles, and the
  * k-core peel: frontier EXPANSION, whose per-round state first grows
  * hop by hop and then saturates at the reachable set).
  *
  * Algorithm: level-synchronous BFS with per-level node dedup. Level 0
  * is the seed set; level h is every node reachable by a WALK of
  * exactly h edges from some seed (walks may revisit — the per-level
  * `distinct` caps each level at O(nodes), so the relation never holds
  * path multiplicities, only level SETS). The hop distance is then
  * `min(level)` per node over the union of levels — identical, level
  * for level, to a bounded-depth recursive CTE with UNION-distinct
  * semantics, which is exactly the oracle contract (the dedup_cluster
  * / graph_kcore precedent: both engines run the same bounded
  * iteration, so the hash can only match when every level matches).
  *
  * Why min-over-levels instead of discover-and-anti-join: the textbook
  * frontier form subtracts the visited set each round, which makes
  * round h's plan reference the accumulated state TWICE (anti-join +
  * union) and doubles the lazy plan per round — the stats-squaring
  * trap [[Iterate.snap]] bounds. The level-set form references
  * each level exactly ONCE downstream, so `maxHops` rounds chain into
  * one lazy linear-depth plan (a single scheduled job, no driver
  * loop), at the price of re-expanding already-settled nodes — bounded
  * by levels × edges, the right trade at a fixed small hop budget.
  *
  * Scale shape at 100 TB: each hop is one equi join frontier ⋈
  * adjacency keyed on the node column — Spark broadcasts the
  * node-sized frontier below the threshold so the (persisted) edge
  * relation streams map-side (the KCore state-broadcast discipline);
  * above it, a node-keyed shuffled hash join. The per-level `distinct`
  * and the closing min-agg both combine map-side, so only (node) /
  * (node, partial min) rows cross the wire, never the raw fan-out.
  * No BNL, no cartesian, no sort before aggregation (gate-pinned in
  * PlanSpec).
  *
  * Contract (shared with [[Triangles]]/[[KCore]]): `edges` is one row
  * per undirected edge `(a, b)`, deduped; orientation is irrelevant
  * (the adjacency is symmetrized). `seeds` is a one-column relation of
  * node ids; seeds outside the edge relation still appear at distance
  * 0 (they are valid sources with no neighbours). Nodes farther than
  * `maxHops` from every seed emit no row.
  */
object Bfs {

  /** Hop distance (0-based, ≤ maxHops) from the nearest seed, as
    * `(node, dist)` with `dist` BIGINT for cross-engine hash safety.
    */
  def hopDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame =
    // symmetrized adjacency: a projection-union over the (caller-
    // persisted) edge relation — re-derived per hop rather than cached
    // here, because each derivation is two map-only scans of cached
    // blocks and an operator-owned persist would pin edge-sized memory
    // the caller can't release. ([[hopDistancesOnAdj]] is the cached-
    // adjacency serving form.)
    hopDistancesOnAdj(
      edges.select(col("a").as("v"), col("b").as("n"))
        .union(edges.select(col("b").as("v"), col("a").as("n"))),
      seeds, maxHops)

  /** [[hopDistances]] over a PRE-SYMMETRIZED (v, n) adjacency — the
    * [[Graphs.GraphIndex]] serving form (one persisted adjacency feeds
    * every hop instead of a per-call symmetrize-union).
    *
    * `broadcastFrontier` (the [[KCore.coreEstimateOnAdj]]
    * `broadcastState` discipline, round-18 guide §3.1): the per-hop
    * frontier is node-sized but sits above joins/distincts whose size
    * ESTIMATES Catalyst gets wrong, so without the explicit hint the
    * initial plan picks a shuffle join and the ADJACENCY — the big
    * side — is exchanged once per hop (AQE converts the join to
    * broadcast at runtime, but only after the adjacency shuffle has
    * already run; measured in plans/r18: 3 adjacency-sized exchanges
    * in graph_bfs_idx's final plan). True by default — right up to
    * tens of millions of frontier nodes; pass false on billion-node
    * graphs and the hop joins shuffle node-keyed.
    */
  def hopDistancesOnAdj(adj: DataFrame, seeds: DataFrame,
                        maxHops: Int,
                        broadcastFrontier: Boolean = true): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val seed = seeds.toDF("v").distinct()
    // true defers to the session conf ([[Hints.nodeState]], round-19):
    // one switch turns every per-round state broadcast off at
    // billion-node scale; false stays a hard off.
    def bc(df: DataFrame): DataFrame =
      if (broadcastFrontier) Hints.nodeState(df) else df
    // Probe the broadcast frontier against the adjacency's n side and
    // KEEP v (round-19, guide §2.4): on a SYMMETRIC adjacency,
    // {v : (v, n) ∈ adj, n ∈ F} ≡ {n : (v, n) ∈ adj, v ∈ F} — the same
    // level set — but the broadcast join preserves the STREAM side's
    // partitioning, so when the caller persisted adj hash-partitioned
    // by v (the graph_kcore / Graphs.index layout) each level's
    // `distinct` clusters on an already-partitioned column and plans NO
    // per-hop exchange (3 exchanges → 0 in plans/r19's graph_bfs).
    val levels = Iterator.iterate(seed)(frontier =>
      adj.join(bc(frontier.withColumnRenamed("v", "_f")),
          col("n") === col("_f"))
        .select(adj("v")).distinct()
    ).take(maxHops + 1).zipWithIndex.map { case (lvl, h) =>
      lvl.select(col("v"), lit(h.toLong).as("d"))
    }.reduce(_.union(_))
    levels.groupBy(col("v").as("node"))
      .agg(min(col("d")).as("dist"))
      .select(col("node"), col("dist"))
  }

  /** Bounded Bellman-Ford: cheapest WEIGHTED path cost (≤ `rounds`
    * relaxation rounds) from the nearest seed, as `(node, dist)` —
    * [[hopDistances]]' weighted sibling (hop metric → cost metric; a
    * cheap 2-hop route must beat an expensive direct edge, which no
    * per-level node dedup can express, so the state carries the
    * running minimum instead of level membership).
    *
    * The relaxation d_h(v) = min(d_{h-1}(v), min over edges
    * (d_{h-1}(u) + w)) references the previous state TWICE — the
    * keep-term and the relax-term — which would double the lazy plan
    * per round (the stats-squaring trap). Adding a WEIGHT-0 SELF-LOOP
    * per node folds the keep-term into the relax-term: over the
    * augmented adjacency, one join + one min-agg per round references
    * the state exactly ONCE, so `rounds` rounds chain into a single
    * depth-linear lazy plan (the graph_kcore h(x)-references-x-once
    * discipline). Self-loops cover graph nodes AND seeds, so a seed
    * outside the edge relation keeps its distance-0 row through every
    * round.
    *
    * Scale shape: per round one equi join state ⋈ adjacency on the
    * source node (state is node-sized — broadcast below the threshold,
    * node-keyed shuffled hash above) + one node-keyed min that
    * combines map-side; only (node, partial min) rows cross the wire.
    * Weights must be non-negative integers (exact min arithmetic —
    * float path sums drift cross-engine on ties).
    *
    * Contract: `edges` is one row per undirected edge `(a, b, w)`,
    * deduped, `w` ≥ 0 integral; `seeds` one column of node ids at
    * distance 0. Nodes the budget never reaches emit no row.
    */
  def weightedDistances(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    weightedDistancesOnSym(
      edges.select(col("a").as("v"), col("b").as("n"), col("w"))
        .union(edges.select(col("b").as("v"), col("a").as("n"), col("w"))),
      seeds, rounds)

  /** [[weightedDistances]] over a PRE-SYMMETRIZED (v, n, w) adjacency
    * WITHOUT self-loops — the [[Graphs.WeightedIndex]] serving form.
    * The weight-0 keep-term self-loops are added here (they depend on
    * the caller's seed set, so they cannot live in the cached frame).
    */
  def weightedDistancesOnSym(sym: DataFrame, seeds: DataFrame,
                             rounds: Int,
                             broadcastState: Boolean = true): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val seed = seeds.toDF("v").distinct()
    val nodes = sym.select(col("v")).union(seed).distinct()
    val adj = sym.union(
      nodes.select(col("v"), col("v").as("n"), lit(0L).as("w")))
    // broadcastState: the [[hopDistancesOnAdj]] broadcastFrontier rule —
    // the running-minimum state is node-sized, but its post-aggregation
    // size estimate makes the initial plan shuffle the ADJACENCY per
    // round (measured in plans/r18: graph_sssp_idx shuffled the full
    // 2.41M-row adjacency union in rounds 2–4, 73.6 MiB each, before
    // AQE's too-late broadcast conversion). False = node-keyed shuffle
    // joins, the billion-node escape.
    def bc(df: DataFrame): DataFrame =
      if (broadcastState) Hints.nodeState(df) else df
    var state = seed.select(col("v"), lit(0L).as("d"))
    for (_ <- 1 to rounds) {
      state = bc(state).join(adj, "v")
        .select(col("n").as("v"), (col("d") + col("w")).as("d"))
        .groupBy(col("v")).agg(min(col("d")).as("d"))
    }
    state.select(col("v").as("node"), col("d").as("dist"))
  }
}
