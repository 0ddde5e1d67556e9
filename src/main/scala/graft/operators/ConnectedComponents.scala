package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by minimum-label propagation ("hash-to-min") —
  * the final step of corpus deduplication: near-dup PAIRS become duplicate
  * CLUSTERS, and each cluster keeps one canonical document.
  *
  * Each round every vertex adopts the smallest component label among
  * itself and its neighbours; convergence takes O(graph diameter) rounds.
  * Near-dup graphs are unions of small dense cliques (diameter 1-2), so
  * 2-3 rounds close them; the published escalation for long-chain graphs
  * at 100 TB is large-star/small-star (Kiveris et al., "Connected
  * Components in MapReduce and Beyond"), which squares the paths per
  * round. Both forms run on [[Iterate.fixedPoint]]: every round is
  * snapped (lazy chaining would stack lineage until the optimizer
  * chokes) and a one-row digest gates the exact convergence check.
  */
object ConnectedComponents {
  /** Rounds the last [[components]]/[[componentsStar]] call took to
    * converge — diagnostic only (read by ProfileCc / PERF.md notes).
    */
  @volatile private[graft] var lastRounds: Int = 0

  /** (v, c): component label c = min vertex id reachable from v.
    * `edges` must have columns (src, dst); the graph is treated as
    * undirected; isolated vertices don't appear (join the vertex set
    * back if they must).
    */
  /** The ONE cluster-output projection shared by `dedup_cluster` and
    * `dedup_minhash_cluster` (their equality test depends on both using
    * the same canonical-doc rule): component label → cluster id, the
    * minimum doc is the canonical one.
    */
  def clusterLabels(labels: DataFrame): DataFrame =
    labels.select(col("v").as("doc_id"), col("c").as("cluster_id"),
      (col("v") === col("c")).as("is_canonical"))

  /** Large-star/small-star alternating rounds (Kiveris et al.) — the
    * long-chain escalation of [[components]]: each round roughly squares
    * path lengths, so convergence is O(log diameter) rounds instead of
    * O(diameter). Same output contract as [[components]].
    *
    * large-star: every node u emits (v → m) for its LARGER neighbours v,
    * where m = min(N(u) ∪ {u}) — big nodes hook onto the local minimum.
    * small-star: every node u emits (v → m) for its smaller neighbours
    * AND itself — flattening partial stars. Both are one groupBy + one
    * join per round; the edge set monotonically contracts toward
    * (node → component-root) stars.
    */
  def componentsStar(edges: DataFrame, maxIterations: Int = 20): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = sym.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("m"))
      sym.join(m, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
      // Round-19: NO distinct here (one exchange per round saved,
      // guide §2.4). Output is ≤ one row per sym row, duplicates only
      // where several sources hook the same (v → m); smallStar's
      // per-source MIN is duplicate-insensitive and its own closing
      // distinct canonicalizes the round's edge set, so the iterate is
      // unchanged (CcSpec pins componentsStar ≡ components).
    }
    def smallStar(e: DataFrame): DataFrame = {
      // orient every edge big→small, then hook small neighbours + self
      // onto the per-node minimum
      val directed = e.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val m = directed.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("m"))
      val viaNbr = directed.join(m, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
      val self = m.select(col("src"), col("m").as("dst"))
      viaNbr.union(self).filter(col("src") =!= col("dst")).distinct()
    }
    // converged when the star set is stable (same canonical edge set)
    val (e, rounds) = Iterate.fixedPoint(
      edges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct(),
      maxIterations)(e => smallStar(largeStar(e)))
    lastRounds = rounds
    // stars are (child → root); roots label themselves
    val children = e.select(col("src").as("v"), col("dst").as("c"))
    val roots = e.select(col("dst").as("v")).distinct()
      .withColumn("c", col("v"))
    children.union(roots).distinct()
  }

  def components(edges: DataFrame, maxIterations: Int = 20): DataFrame = {
    // The symmetrized edge relation is snapped PRE-PARTITIONED on dst,
    // the per-round propagate join's key. Iterate.snap keeps that
    // partitioning in its leaf, so every round's join sees the edge
    // side already clustered and exchanges only the node-sized labels
    // (rounds are separate actions, so ReusedExchange never applies
    // across them).
    val sym = Iterate.snap(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("dst")))
    val (labels, rounds) = Iterate.fixedPoint(
      sym.select(col("src").as("v")).distinct().withColumn("c", col("v")),
      maxIterations) { labels =>
      val viaNbr = sym.join(labels, sym("dst") === labels("v"))
        .groupBy(col("src")).agg(min(col("c")).as("nc"))
      labels.join(viaNbr, labels("v") === viaNbr("src"), "left")
        .select(labels("v").as("v"),
          least(col("c"), coalesce(col("nc"), col("c"))).as("c"))
    }
    Iterate.free(sym)
    lastRounds = rounds
    labels
  }
}
