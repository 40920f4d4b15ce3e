package graft.ops

import graft.core.CacheScope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Maximal-Marginal-Relevance reranking (Carbonell & Goldstein 1998):
  * greedy diversified top-k selection, `argmax λ·rel − (1−λ)·max_{s∈S}
  * sim(c, s)` — the standard answer to "my retrieved training/eval
  * examples are 20 near-copies of the same document".
  *
  * Distributed shape: the greedy loop is inherently sequential in k but
  * embarrassingly parallel across queries — each iteration is one
  * anti-join (drop selected), one equi-join + grouped max (similarity to
  * the selected set), and one per-query window top-1, all keyed by
  * query id. k is small (5–20); candidate sets are bounded (top-N from a
  * retriever), so every intermediate is |queries|×N — the per-iteration
  * cost at 100 TB is governed by the retriever, not this rerank.
  * `localCheckpoint` per iteration truncates the growing union lineage
  * exactly as [[GraphOps]] does for its iterative contraction.
  */
object RerankOps {

  /** @param candidates (qid, cid, rel) — bounded per-query candidate
    *                    set with relevance scores (higher = better).
    * @param pairSims   (qid, cid1, cid2, sim) — pairwise candidate
    *                    similarities, BOTH orientations present.
    * @param k          number of results per query.
    * @param lambda     relevance weight; 1.0 degenerates to plain top-k.
    * @return (qid, rank, cid, rel, mmr) — rank 1..k per query; `mmr` is
    *         the score at selection time (rank 1 keeps its raw rel).
    *         Ties resolve by cid ascending — deterministic across runs.
    */
  def mmr(candidates: DataFrame, pairSims: DataFrame, k: Int,
      lambda: Double = 0.5): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val byScore = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("cid").asc)
    def top1(scored: DataFrame, rank: Int): DataFrame =
      scored.withColumn("rn", row_number().over(byScore))
        .filter(col("rn") === 1)
        .select(col("qid"), lit(rank.toLong).as("rank"), col("cid"),
          col("rel"), round(col("score"), 6).as("mmr"))

    var selected = top1(
      candidates.withColumn("score", col("rel")), 1).localCheckpoint()
    for (step <- 2 to k) {
      val remaining = candidates.join(
        selected.select(col("qid"), col("cid")), Seq("qid", "cid"),
        "left_anti")
      val maxSim = remaining
        .join(pairSims.withColumnRenamed("cid1", "cid"),
          Seq("qid", "cid"))
        .join(selected.select(col("qid"), col("cid").as("cid2")),
          Seq("qid", "cid2"))
        .groupBy(col("qid"), col("cid"))
        .agg(max(col("sim")).as("max_sim"))
      val scored = remaining.join(maxSim, Seq("qid", "cid"), "left")
        .withColumn("score",
          round(lit(lambda) * col("rel") -
            lit(1.0 - lambda) * coalesce(col("max_sim"), lit(0.0)), 6))
      selected = selected.unionByName(top1(scored, step)).localCheckpoint()
    }
    selected.orderBy(col("qid"), col("rank"))
  }

  /** Integer fixed-point MMR — same greedy trajectory as [[mmr]] but
    * every score is an exact LONG, so the selection order (and hence
    * the output) is bit-identical across engines, run topologies, and
    * partition counts. λ is a rational `lambdaNum/lambdaDen`; scores
    * are reported in e-units·lambdaDen:
    * `mmr = lambdaNum·rel − (lambdaDen−lambdaNum)·max_sim`
    * (rank 1 has an empty selected set → `lambdaNum·rel`). Integer
    * subtraction replaces the double `round(λ·rel − (1−λ)·sim, 6)`,
    * whose halfway cases are at the mercy of binary representation —
    * the one cross-engine hazard the double form can't close.
    *
    * @param candidates (qid, cid, rel) with `rel` LONG fixed-point.
    * @param pairSims   (qid, cid1, cid2, sim) with `sim` LONG in the
    *                   SAME fixed-point scale, both orientations.
    * @return (qid, rank, cid, rel, mmr) — all LONG score columns.
    */
  def mmrExact(candidates: DataFrame, pairSims: DataFrame, k: Int,
      lambdaNum: Long, lambdaDen: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      s"lambda must be in [0,1]: $lambdaNum/$lambdaDen")
    // The greedy trajectory is computed PER QUERY over collected
    // candidate/similarity arrays with higher-order functions, the
    // k rounds unrolled as k chained projections — the per-round
    // dataframe loop this replaces ran ~4 joins, a window and an
    // eager localCheckpoint PER ROUND (≈20 driver jobs for k=5, all
    // over |queries|·N rows), and its wall time was pure job-planning
    // overhead. Candidate sets are bounded (top-N per query), so one
    // row per query holds N candidates + N² sims and the whole rerank
    // is one job: two grouped collects, a join, k array projections,
    // one explode. Selection math is unchanged — exact longs,
    // argmax by (score desc, cid asc).
    //
    // EXPRESSION-SIZE DISCIPLINE: every intermediate the next step
    // consumes more than once is bound as a HOF lambda variable via
    // `once` (a 1-element transform) — lambda variables are bound,
    // not substituted, so when the optimizer inlines the chained
    // projections the tree grows LINEARLY in k. A naive chain that
    // re-references the previous round's column 3-4 times inlines to
    // ~6^k nodes (measured: 77k expression nodes at k=3, OOM at k=5).
    val cl = candidates.groupBy(col("qid"))
      .agg(sort_array(collect_list(struct(col("cid"), col("rel"))))
        .as("cl"))
    val pl = pairSims.groupBy(col("qid"))
      .agg(collect_list(struct(col("cid1"), col("cid2"), col("sim")))
        .as("pl"))
    // Bind `v` once and use it many times inside `body`.
    def once(v: Column)(body: Column => Column): Column =
      try_element_at(transform(array(v), body), lit(1))
    // max_sim(c, selected): largest sim among pairs (c -> s∈selected);
    // null-safe over a missing pl (HOFs propagate null) and an empty
    // match set — both coalesce to 0, as a left join + coalesce would.
    def maxSimTo(c: Column, selCids: Column): Column =
      coalesce(
        aggregate(
          filter(col("pl"), p =>
            p("cid1") === c("cid") && array_contains(selCids, p("cid2"))),
          lit(null).cast("long"),
          (m, p) => greatest(coalesce(m, p("sim")), p("sim"))),
        lit(0L))
    // (score desc, cid asc) argmax of a scored array — `cl` is sorted
    // by cid and array order survives filter/transform, so the FIRST
    // element carrying the max score is the lowest-cid tie.
    def argmax(scored: Column): Column =
      try_element_at(
        filter(scored, x =>
          x("score") === array_max(transform(scored, y => y("score")))),
        lit(1))
    // One greedy round: score the not-yet-selected candidates, append
    // the argmax (an empty remainder appends nothing — the slice is a
    // typed empty array).
    def round(selCol: Column, rank: Int): Column = once(selCol) { sel =>
      val scored = once(transform(sel, s => s("cid"))) { selCids =>
        transform(
          filter(col("cl"), c => !array_contains(selCids, c("cid"))),
          c => struct(
            (lit(lambdaNum) * c("rel") -
              lit(lambdaDen - lambdaNum) * maxSimTo(c, selCids)).as("score"),
            c("cid").as("cid"), c("rel").as("rel")))
      }
      once(argmax(scored)) { best =>
        concat(sel,
          when(best.isNotNull, array(struct(
            lit(rank.toLong).as("rank"), best("cid").as("cid"),
            best("rel").as("rel"), best("score").as("mmr"))))
            .otherwise(slice(sel, 1, 0)))
      }
    }
    // Round 1 over an empty selection: score is plain lambdaNum·rel.
    val sel1 = {
      val scored = transform(col("cl"), c => struct(
        (lit(lambdaNum) * c("rel")).as("score"),
        c("cid").as("cid"), c("rel").as("rel")))
      once(argmax(scored)) { best =>
        when(best.isNotNull, array(struct(
          lit(1L).as("rank"), best("cid").as("cid"),
          best("rel").as("rel"), best("score").as("mmr"))))
          .otherwise(filter(transform(col("cl"), c => struct(
            lit(1L).as("rank"), c("cid").as("cid"),
            c("rel").as("rel"), lit(0L).as("mmr"))), _ => lit(false)))
      }
    }
    // Spread the per-query rows before the HOF chain (round 14, guide
    // §2): the grouped collects shuffle a few KB, so AQE coalesces the
    // join output to ONE partition — but the k unrolled rounds are
    // interpreted higher-order functions (HOFs are CodegenFallback),
    // CPU-bound at ~100 ms/query, and a 1-task stage serializes every
    // query's trajectory. A qid-keyed repartition is statically
    // ELIMINATED here (the join output already claims
    // hashpartitioning(qid, parallelism) — EnsureRequirements drops
    // the no-op exchange, then AQE coalesces the agg exchanges to 1),
    // so the spread is an explicit-count ROUND-ROBIN exchange: never
    // satisfied by existing partitioning, exempt from AQE coalescing,
    // deterministic (sort-before-repartition), and results-invariant —
    // downstream is a per-row projection plus a total-order sort.
    // Scale-adaptive: identity when the input scan is already parallel.
    val joined = cl.join(pl, Seq("qid"), "left")
    var g = (if (SpreadOps.underParallel(joined))
      joined.repartition(
        joined.sparkSession.sparkContext.defaultParallelism)
    else joined)
      .withColumn("sel1", sel1)
    for (step <- 2 to k)
      g = g.withColumn(s"sel$step", round(col(s"sel${step - 1}"), step))
    val out = g.select(col("qid"), explode(col(s"sel$k")).as("s"))
      .select(col("qid"), col("s.rank").as("rank"), col("s.cid").as("cid"),
        col("s.rel").as("rel"), col("s.mmr").as("mmr"))
      // pinned: the final range sort SAMPLES its child to pick partition
      // bounds before the shuffle map runs — uncached, the whole
      // interpreted HOF chain evaluates TWICE (stage profile: two
      // back-to-back stages reading the same grouped-collect shuffle,
      // 805 + 704 ms). The pin is |queries|·k rows. The sample job
      // fully materializes the cache; the sort's map pass then reads it.
      .transform(CacheScope.cache)
    out.orderBy(col("qid"), col("rank"))
  }
}
