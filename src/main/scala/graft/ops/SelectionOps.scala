package graft.ops

import graft.core.Exact
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-selection library: the two greedy selection primitives a
  * training-data pipeline runs AFTER dedup/quality filtering to pick
  * small high-value subsets out of a big corpus —
  *
  *   - [[kcenter]]: farthest-point traversal over an embedding column
  *     (Gonzalez 1985, 2-approx of the optimal k-center radius) —
  *     k maximally-SPREAD representatives with a covering-radius
  *     guarantee. Geometry-driven: use when an embedding space exists
  *     and "cover the space" is the goal (eval seeding, cell sharding).
  *   - [[greedyCoverage]]: greedy maximum-coverage over word-shingle
  *     sets ((1−1/e)-approx, coverage is submodular) — k documents
  *     that together cover the most distinct shingles. Lexical dual:
  *     use when no embeddings exist or surface diversity is the goal
  *     (few-shot pools, prompt libraries).
  *
  * Both run k bounded rounds; each round is one map-only pass over
  * the corpus plus one argmax (TakeOrderedAndProject tree-reduce) —
  * never a pairwise join. Driver state is k scalar picks (the
  * sanctioned GraphOps-style 1-row edge). All distances/gains are
  * exact integers (e7 fixed-point coordinates / shingle counts), so
  * trajectories are deterministic across engines, partitionings, and
  * runs — the property the q200/q202 DuckDB oracles check.
  *
  * Transient caches are scoped to each call (unpersisted in a
  * `finally`, on return and on failure) — unlike the long-lived
  * CurationOps pins, nothing is retained.
  */
object SelectionOps {

  /** One greedy pick: round (0-based), the picked id, and the score at
    * selection time (k-center: the point's min squared distance to the
    * prior centers, e14 units; coverage: the marginal shingle gain).
    * The seed pick of [[kcenter]] carries score 0.
    */
  final case class Pick(round: Long, id: Long, score: Long)

  /** e7 fixed-point lift of a float/double array column. */
  def fixedVec(vec: Column): Column =
    transform(vec, x => Exact.fixed(x.cast("double"), 7))

  /** Exact squared L2 between two e7 LONG-array columns (e14 units). */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** Greedy k-center selection. `vecs` must expose LONG `idCol` and a
    * numeric-array `vecCol`; seeded at the smallest id, ties on the
    * argmax break to the smaller id. Returns the k-pick trajectory in
    * round order; `Pick.score` is the covering radius achieved by the
    * PREVIOUS round's set (non-increasing). An empty input returns an
    * empty trajectory; if the input has fewer than k distinct points,
    * later rounds repeat the minimum-id point at radius 0 (the argmax
    * over an all-covered set — callers wanting exactly-distinct picks
    * should stop at the first zero radius).
    */
  def kcenter(
      vecs: DataFrame, idCol: String, vecCol: String, k: Int): Seq[Pick] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val f = vecs
      .select(col(idCol).cast("long").as("id"),
        fixedVec(col(vecCol)).as("v7"))
      .cache()
    try {
      if (f.count() == 0L) return Seq.empty // pin: scanned once per round
      def distTo(center: Seq[Long]) =
        sqDist(col("v7"), typedLit(center))
      val seed = f.orderBy(col("id")).limit(1).collect()(0)
      var centerV = seed.getSeq[Long](1)
      val picked = scala.collection.mutable.ArrayBuffer(
        Pick(0L, seed.getLong(0), 0L))
      var dmin = f.select(col("id"), col("v7"),
        distTo(centerV).as("dmin")).cache()
      try {
        dmin.count()
        for (r <- 1 until k) {
          val far = dmin.orderBy(col("dmin").desc, col("id").asc).limit(1)
            .collect()(0)
          centerV = far.getSeq[Long](1)
          picked += Pick(r.toLong, far.getLong(0), far.getLong(2))
          if (r < k - 1) { // the update after the final pick is unused
            val next = dmin.select(col("id"), col("v7"),
              least(col("dmin"), distTo(centerV)).as("dmin")).cache()
            try next.count()
            finally { dmin.unpersist(blocking = false); dmin = next }
          }
        }
      } finally dmin.unpersist(blocking = false)
      picked.toSeq
    } finally f.unpersist(blocking = false)
  }

  /** Assign every vector to its nearest center (tie → smaller center
    * id): per-cell occupancy, cell radius, and mean member distance
    * (integer div), e14 units. The centers broadcast; assignment is a
    * map-side join + min-struct argmin on the uniform id key.
    *
    * Overflow budget: a single squared distance `dd` fits LONG (the
    * per-pair e14 bound in [[kcenter]]'s docs, ~1e17 worst case), but
    * Σdd over a cell does NOT once a cell holds more than ~90
    * far-radius members — so the mean aggregates through
    * DECIMAL(38,0), whose 10^38 headroom covers any cell cardinality,
    * and `div` brings the mean (which always fits, mean ≤ max dd)
    * back to LONG. DuckDB's oracle needs no twin: its BIGINT sum
    * already widens to HUGEINT.
    */
  def assignCells(
      vecs: DataFrame, idCol: String, vecCol: String,
      centerIds: Seq[Long]): DataFrame = {
    val f = vecs.select(col(idCol).cast("long").as("id"),
      fixedVec(col(vecCol)).as("v7"))
    val centers = f.filter(col("id").isin(centerIds: _*))
      .select(col("id").as("cid"), col("v7").as("c7"))
    f.crossJoin(broadcast(centers))
      .select(col("id"), col("cid"),
        sqDist(col("v7"), col("c7")).as("dd"))
      .groupBy(col("id"))
      .agg(min(struct(col("dd"), col("cid"))).as("m"))
      .select(col("m.cid").as("center_id"), col("m.dd").as("dd"))
      .groupBy(col("center_id"))
      .agg(count(lit(1)).as("n_members"),
        max(col("dd")).as("cell_radius_e14"),
        expr("sum(cast(dd as decimal(38,0))) div count(1)")
          .as("mean_dist_e14"))
      .orderBy(col("center_id"))
  }

  /** Greedy maximum-coverage selection over word n-gram shingles.
    * `docs` must expose LONG `idCol` and a string `textCol`
    * (tokenized via [[TextOps.tokens]]). Each round picks the doc
    * with the most not-yet-covered shingles (ties → smaller id);
    * `Pick.score` is the marginal gain (non-increasing by
    * submodularity).
    *
    * The covered set is bounded by k · (shingles of one doc), so it
    * rides into each round's scan as a pushed-down NOT-isin literal
    * predicate over the ONE cached (doc, shingle) relation — no
    * per-round join, no cache churn; the newest pick's shingles come
    * back in one bounded collect (the same sanctioned driver edge as
    * k-center's 64-long center vector). If the covered set outgrows
    * [[COVERED_LITERAL_MAX]] (pathologically long picks), the round
    * falls back to a broadcast anti-join against a parallelized
    * covered-set frame — same semantics, join instead of literal.
    */
  val COVERED_LITERAL_MAX = 65536

  def greedyCoverage(
      docs: DataFrame, idCol: String, textCol: String, k: Int,
      n: Int = 3): Seq[Pick] = {
    require(k >= 1, s"k must be >= 1, got $k")
    // materialize tokens as a COLUMN before shingling: the shingle
    // transform's lambda indexes its token input once per n-gram slot,
    // and handing it the raw tokens(text) EXPRESSION re-tokenizes the
    // document per element_at — O(shingles·n) tokenizations per row
    // (measured 19 s vs 0.5 s for the corpus scan at sf0.1)
    // Scale-adaptive compute spread (round 13, guide §2 — the same
    // rule as CurationOps): a single-row-group corpus scans as one
    // task, so every greedy round's groupBy scanned the cached
    // (doc, shingle) relation single-core (stage profile: 1-task
    // 0.7 s stages per round). Spread by doc id only when the input
    // has fewer partitions than the session parallelism — identity at
    // scale, and groupBy(id) consumers reuse the keyed partitioning.
    // (spread the RAW docs, not the exploded shingles — a repartition
    // placed after the explode leaves the tokenize+shingle work on the
    // single upstream scan task; placed here, the exchange moves cheap
    // raw rows and the per-row work runs on the keyed side)
    // (round 14: trigger reads analyzed-plan leaf stats, see
    // [[SpreadOps]] — no second physical-planning pass)
    val docsSpread = SpreadOps.spread(docs, col(idCol))
    val sh = docsSpread
      .select(col(idCol).cast("long").as("id"),
        TextOps.tokens(col(textCol)).as("toks"))
      .select(col("id"), explode(DedupOps.shingles(col("toks"), n)).as("sh"))
      .cache()
    try {
      sh.count() // pin: scanned once per round
      val spark = docs.sparkSession
      val picked = scala.collection.mutable.ArrayBuffer.empty[Pick]
      val covered = scala.collection.mutable.HashSet.empty[String]
      for (r <- 0 until k) {
        val fresh =
          if (covered.isEmpty) sh
          else if (covered.size <= COVERED_LITERAL_MAX)
            sh.filter(!col("sh").isInCollection(covered))
          else {
            import spark.implicits._
            sh.join(broadcast(covered.toSeq.toDF("sh")), Seq("sh"),
              "left_anti")
          }
        val top = fresh.groupBy(col("id"))
          .agg(count(lit(1)).as("gain"))
          .orderBy(col("gain").desc, col("id").asc).limit(1)
          .collect()
        if (top.isEmpty) // corpus fully covered before k rounds
          return picked.toSeq
        val pickedId = top(0).getLong(0)
        picked += Pick(r.toLong, pickedId, top(0).getLong(1))
        if (r < k - 1)
          covered ++= sh.filter(col("id") === pickedId)
            .select(col("sh")).collect().map(_.getString(0))
      }
      picked.toSeq
    } finally sh.unpersist(blocking = false)
  }
}
