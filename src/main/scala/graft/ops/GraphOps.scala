package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components — the cluster-formation step that
  * turns verified near-duplicate PAIRS into dedup decisions (the
  * reference's hw3 pipeline stops at candidate pairs, hw3/hw3.py:165-169;
  * a training-data pipeline must then group pairs into components and
  * keep one canonical document per cluster).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) expressed as
  * DataFrame joins — NO driver-side union-find, no `collect()`:
  *
  *   - large-star: every node links its LARGER neighbors to the minimum
  *     of its closed neighborhood;
  *   - small-star: every node links its smaller-or-equal neighbors to
  *     that minimum.
  *
  * Both steps are a groupBy-min + an equi-join on the node id — uniform
  * shuffle keys, map-side combinable, AQE-splittable — and the edge set
  * monotonically contracts toward stars whose center is the component
  * minimum, in O(log n) rounds on realistic graphs. Per-iteration
  * `localCheckpoint` truncates the otherwise exponentially-growing plan
  * lineage (on a multi-executor cluster prefer reliable
  * `checkpoint(dir)` — localCheckpoint trades executor-loss recovery
  * for speed, the right default for an iterative maintenance job that
  * simply reruns on failure).
  *
  * Convergence is detected by an order-independent edge-set checksum
  * (count + sum of per-edge hashes — one cheap aggregate per round) and
  * then CONFIRMED with an exact two-sided `except` before declaring
  * victory, so a hash collision can never silently truncate the
  * iteration; `maxIter` bounds the loop and failure is loud.
  */
object GraphOps {

  /** Connected-component labels for an undirected edge list.
    *
    * @param edges DataFrame with two integral id columns; self-loops and
    *              duplicate/reversed edges are tolerated (normalized
    *              away first).
    * @return (id LONG, comp LONG) — one row per node that appears in
    *         ≥1 edge, `comp` = the minimum node id of its component.
    *         Isolated nodes never appear; callers join and coalesce to
    *         the node's own id (see Dedup q75).
    */
  def connectedComponents(
      edges: DataFrame,
      src: String,
      dst: String,
      maxIter: Int = 25): DataFrame =
    connectedComponentsRounds(edges, src, dst, maxIter)._1

  /** [[connectedComponents]] plus the number of large-star/small-star
    * rounds the loop actually ran — the scaling-evidence hook: round
    * count tracks component DIAMETER (~log2 of the largest component),
    * not corpus size, so a 10× corpus with the same cluster-size
    * distribution must show a flat round count (see IterScale).
    *
    * INVARIANT (the lazy-checkpoint contract): every loop round MUST
    * run a full-scan action on the just-checkpointed frame — here the
    * `sig()` aggregate right after each `localCheckpoint(false)`. The
    * lazy checkpoint only truncates lineage once some action has
    * materialized every partition; an edit that gates, samples or
    * reorders the per-round aggregate would silently regrow unbounded
    * lineage (round-13 ADVICE). Same contract in [[kCoreRounds]],
    * whose materializing action is the per-round `count()`.
    */
  def connectedComponentsRounds(
      edges: DataFrame,
      src: String,
      dst: String,
      maxIter: Int = 25): (DataFrame, Int) = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")

    // canonical directed form: (u, v) with u > v, no self-loops, distinct
    def canon(df: DataFrame): DataFrame =
      df.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()

    // LAZY checkpoints: the sig() aggregate right below is the round's
    // one materializing action, so an eager localCheckpoint would run
    // a second full job per round for nothing (round 13 — the CC loop
    // is job-count-bound on small graphs, and at scale the saved job
    // is a saved full pass over the edge set)
    var cur = canon(edges.select(
        col(src).cast("long").as("u"), col(dst).cast("long").as("v")))
      .localCheckpoint(false)
    var curSig = sig(cur)
    var converged = curSig._1 == 0L
    var it = 0
    while (!converged && it < maxIter) {
      val next = canon(smallStar(largeStar(cur))).localCheckpoint(false)
      val nextSig = sig(next)
      // checksum gate first (one aggregate), exact set equality to
      // confirm — stopping early on a collision would emit wrong
      // labels. One-sided except suffices: the checksum gate already
      // pinned equal cardinalities, and both sides are distinct.
      converged = nextSig == curSig && next.exceptAll(cur).isEmpty
      cur = next
      curSig = nextSig
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          "— raise maxIter (components need ~log2(n) rounds) or check " +
          "the edge list for pathological structure")
    // converged state is a star forest: every edge is (member, root)
    val labels = cur.select(col("u").as("id"), col("v").as("comp"))
      .union(cur.select(col("v").as("id"), col("v").as("comp")))
      .groupBy(col("id"))
      .agg(min(col("comp")).as("comp"))
    (labels, it)
  }

  /** Order-independent edge-set checksum: (count, Σ xxhash64(u,v)) —
    * summed as decimal(38,0) so ANSI mode can't overflow-throw.
    */
  private def sig(e: DataFrame): (Long, java.math.BigDecimal) = {
    val r = e.select(count(lit(1)),
      coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Weighted PageRank over an undirected edge list, in EXACT integer
    * fixed-point — scores are e9-scaled longs and every division is
    * integer `div`, so a run is bit-identical across partitionings,
    * engines, and scales (no FP summation order to drift; the mass the
    * truncating division sheds is deterministic too). Damping 0.85 as
    * the rational 85/100; initial score 1e9 per node.
    *
    * Each iteration is one equi-join (scores onto the degree-annotated
    * edge list) plus one groupBy-sum — uniform keys, map-side
    * combinable, the standard distributed PageRank shape. The edge
    * list is cached AND materialized once up front (it feeds every
    * iteration, and a cold cache racing two stage scans would
    * recompute it); a small fixed `iters` keeps plan depth bounded, so
    * no per-round checkpoint is needed (contrast
    * [[connectedComponents]], whose data-dependent loop must truncate
    * lineage).
    *
    * @param edges undirected weighted edges (each pair listed once);
    *              integral node ids or strings, positive long weights
    * @return (u, score LONG) — e9-scaled PageRank after `iters` rounds
    */
  def weightedPageRank(
      edges: DataFrame, src: String, dst: String, weight: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // Symmetrize by EXPLODING both directions from each edge row
    // instead of a self-union: a union doubles the partition count of
    // the cached edge list (every per-iteration stage then pays 2x the
    // task overhead forever), while the explode keeps the upstream
    // partitioning and emits the identical rows. Degrees come from a
    // window over the same u-partitioning rather than a groupBy +
    // join-back, so the cached edge list is produced by ONE exchange
    // (hash on u) and every iteration's join on u can reuse that
    // partitioning — same rows, same exact integer math.
    val dir = edges
      .select(explode(array(
        struct(col(src).as("u"), col(dst).as("v"), col(weight).as("w")),
        struct(col(dst).as("u"), col(src).as("v"), col(weight).as("w"))))
        .as("de"))
      .select(col("de.u").as("u"), col("de.v").as("v"), col("de.w").as("w"))
    val e = dir
      .withColumn("wdeg", sum(col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("u"))))
      .cache()
    // materialize the result, then release the edge cache, also when a
    // round fails — the API must not leak pinned storage to callers
    try {
      e.count()
      var scores = e.select(col("u")).distinct()
        .select(col("u"), lit(1000000000L).as("score"))
      for (_ <- 1 to iters) {
        scores = e.join(scores, "u")
          .select(col("v"), expr("(score * w) div wdeg").as("contrib"))
          .groupBy(col("v"))
          .agg(sum(col("contrib")).as("m"))
          .select(col("v").as("u"),
            expr("150000000 + (85 * m) div 100").as("score"))
      }
      scores.localCheckpoint()
    } finally e.unpersist()
  }

  /** k-core decomposition by iterative peeling: repeatedly drop nodes
    * of degree < k (and their incident edges) until a fixpoint — the
    * standard "dense cohesive subgraph" extractor (spam rings in a
    * link graph, template families in a near-dup graph, power cliques
    * in an interaction graph) that connected components can't see:
    * CC merges everything reachable; the k-core keeps only nodes with
    * k WITNESSES each.
    *
    * Same distributed discipline as [[connectedComponents]]: each
    * round is one degree aggregate + two semi-joins on uniform node
    * keys, `localCheckpoint` truncates the per-round lineage, and the
    * loop converges by edge-count equality — valid as set equality
    * because each round's edge set is a SUBSET of the previous one
    * (monotone peeling), so no checksum is needed. Loud failure at
    * `maxIter` rather than silently returning an unpeeled graph.
    *
    * @param edges undirected edge list (dupes/reversed/self-loops
    *              tolerated), integral node ids
    * @return (node LONG, deg LONG) — k-core members with their degree
    *         INSIDE the core (≥ k by construction)
    *
    * Lazy-checkpoint INVARIANT: each round's `count()` is the action
    * that materializes that round's `localCheckpoint(false)` — see
    * [[connectedComponentsRounds]]; do not gate or remove it.
    */
  def kCore(edges: DataFrame, src: String, dst: String, k: Int,
      maxIter: Int = 30): DataFrame =
    kCoreRounds(edges, src, dst, k, maxIter)._1

  /** [[kCore]] plus the number of peeling rounds the loop ran — the
    * scaling-evidence hook: rounds track the longest degree-cascade
    * chain, not graph size (see IterScale).
    */
  def kCoreRounds(edges: DataFrame, src: String, dst: String, k: Int,
      maxIter: Int = 30): (DataFrame, Int) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val base = edges.select(
      col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
    // LAZY checkpoints — the count() below materializes each round's
    // edge set; an eager checkpoint would double every round's jobs
    // (same reasoning as [[connectedComponentsRounds]])
    var cur = base
      .union(base.select(col("v").as("u"), col("u").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)
    var n = cur.count()
    var converged = n == 0L
    var it = 0
    while (!converged && it < maxIter) {
      val keep = cur.groupBy(col("u"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("u"))
      val next = cur
        .join(keep, Seq("u"), "left_semi")
        .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint(false)
      val m = next.count()
      converged = m == n
      cur = next
      n = m
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore did not converge in $maxIter iterations — peeling " +
          "removes >=1 node per non-final round, so raise maxIter for " +
          "very deep cascade graphs")
    val core = cur.groupBy(col("u"))
      .agg(count(lit(1)).as("deg"))
      .select(col("u").as("node"), col("deg"))
    (core, it)
  }

  /** Large-star: for each node n, link every strictly-larger neighbor
    * to min(N(n) ∪ {n}). Neighborhoods come from symmetrizing the edge
    * list; the min is a groupBy aggregate joined back on the node id.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u"))
      .agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** Small-star: for each node n (over edges oriented big→small, so the
    * neighbors here are the ≤ ones), link every smaller neighbor AND n
    * itself to min(N≤(n) ∪ {n}).
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
    dir.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
  }

  /** Triangle enumeration over an undirected edge list: every (a, b, c)
    * with a < b < c and all three edges present, once. The
    * node-iterator join shape: canonical a<b edges self-joined on the
    * middle node (wedges a-b-c), then a left-semi probe confirms the
    * closing a-c edge — two equi-joins, no cartesian. Works for any
    * orderable node type (ints, words).
    *
    * Scale note: with the canonical (id-order) orientation a hub
    * node's wedge fan-out is deg²; production graphs with power-law
    * hubs orient edges by (degree, id) instead — same output since
    * triangles are orientation-invariant, wedge count drops to the
    * arboricity bound. Id-order is kept here because the gate graphs
    * are small and the oracle mirror stays a plain SQL join.
    */
  def triangles(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = edges
      .select(least(col(src), col(dst)).as("u"),
        greatest(col(src), col(dst)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val ab = e.select(col("u").as("a"), col("v").as("b"))
    val bc = e.select(col("u").as("b"), col("v").as("c"))
    val ac = e.select(col("u").as("a"), col("v").as("c"))
    ab.join(bc, Seq("b"))
      .join(ac, Seq("a", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
  }
}
