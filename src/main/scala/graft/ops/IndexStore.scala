package graft.ops

import graft.core.Exact
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Write-once ANN-index artifacts — the persistence layer that turns
  * the vector-serving family from "computes an index per run" into
  * "trains once, serves many" (the fit-once / transform-many shape of
  * the reference's scaler/ALS pattern, hw4/hw4.py:97-99,173-177, and
  * of every deployed vector store: faiss trains a quantizer ONCE and
  * every query after that is a probe).
  *
  * Each builder routes through [[ArtifactStore.materializedOnce]],
  * content-addressed on the canonicalized input plan PLUS the input's
  * file snapshot (path, size, mtime) — the same keying the curation
  * pair/label tables use — so:
  *   - the first caller per (corpus, params) trains and writes parquet;
  *   - every later caller (any query, same session or a later one with
  *     `spark.graft.artifactDir` pinned) plans a bare file scan;
  *   - overwriting the corpus in place mints a new key and retrains —
  *     a stale index can never serve.
  *
  * The artifact tables are exactly the states a vector store persists:
  * the trained coarse-quantizer / PQ codebook (k·m·subDim rows), the
  * per-vector codes (|corpus| rows of ints), the SQ8 code+midpoint
  * table, per-label cell centroids, the LSH bucket table, and the kNN
  * graph. All values are integer-exact or fixed-point doubles, so the
  * parquet round-trip is bit-identical and every consumer's DuckDB
  * oracle is unchanged.
  */
object IndexStore {

  /** THE count-scaled TRAINING-SAMPLE rule (round 13, closing the
    * measured 100 TB blocker on the BUILD side): every trained
    * quantizer trains its Lloyd rounds on the
    * max([[TRAIN_FLOOR]], [[TRAIN_MULT]]·k) smallest rows of the
    * deterministic "pqseed:" hash-rank ordering — the faiss recipe
    * (`max_points_per_centroid` = 256: past ~256 points per centroid,
    * more training data moves centroids by noise, not signal) — and
    * the full corpus is only ASSIGNED, one broadcast pass per level.
    * Why it must exist: full-corpus Lloyd at the count-scaled budgets
    * is O(n·k·d) per round with k growing with n (k_pq saturates at
    * 256, coarse k ≈ √n), i.e. superlinear TOTAL build cost — at just
    * 200k vectors (sf10) the k_pq=256 assignment join measured
    * ~3.3 B pair rows, > 65 min and a 9.8 GB shuffle per round. With
    * the sample rule the Lloyd frame is ≤ max(floor, 256·k) rows at
    * ANY corpus size, so training cost stops being a function of n.
    * The 100k floor keeps every corpus up to 100k vectors (all
    * committed oracle-swept SFs; sf1 = 20k) training on its FULL
    * corpus — bit-identical artifacts, zero oracle churn — while the
    * sf10 decade and beyond get the bounded build. The rule is
    * mirrored in every trained-quantizer oracle as one
    * `rn <= trainN` cut over the shared `seedrank` CTE
    * ([[trainNSql]]), and the seeds are BY CONSTRUCTION the sample's
    * own first k rows (same ordering), so sampled training re-uses
    * the seeding machinery the oracles already replay.
    */
  private[graft] val TRAIN_MULT: Int = 256
  private[graft] val TRAIN_FLOOR: Int = 100000

  /** Training-sample size for a k-centroid quantizer — pure integer
    * driver arithmetic (a trainer resolves its sample before
    * launching Lloyd, exactly as it resolves k).
    */
  def trainN(k: Int): Long =
    math.max(TRAIN_FLOOR.toLong, TRAIN_MULT.toLong * k)

  /** DuckDB twin of [[trainN]] over a mirrored k expression. */
  def trainNSql(kExpr: String): String =
    s"GREATEST($TRAIN_FLOOR, $TRAIN_MULT * ($kExpr))"

  /** Artifact-key tag of a resolved training-sample size — part of
    * the content address, so a codebook trained under an overridden
    * sample rule can never serve a consumer expecting the default.
    */
  private def tTag(trainN: Long): String = s"-t$trainN"

  /** Trained codebook over a PQ subspace frame (vec_id, sub, j, x):
    * k centroids per subspace, `rounds` integer-exact Lloyd rounds
    * over the [[trainN]]-row hash-rank training sample
    * (`trainNOverride` > 0 pins an explicit sample size — q261's
    * hash-gated twin proof). One full-space subspace = a trained IVF
    * coarse quantizer; m subspaces = the PQ codebook. Output
    * (sub, c, j, v), persisted once per (corpus, k, rounds, sample,
    * subspace projection) by the same build that writes [[codes]].
    */
  def codebook(xs: DataFrame, k: Int, rounds: Int,
      trainNOverride: Long = -1L): DataFrame =
    quantizer(xs, k, rounds, trainNOverride).head

  /** Per-vector code assignment under the trained [[codebook]] —
    * (vec_id, sub, c) for the FULL corpus (training itself saw only
    * the sample). For the full-space quantizer this is the IVF cell
    * membership table; for m subspaces it is the PQ code table (the
    * compressed database a store actually keeps hot).
    */
  def codes(xs: DataFrame, k: Int, rounds: Int,
      trainNOverride: Long = -1L): DataFrame =
    quantizer(xs, k, rounds, trainNOverride)(1)

  /** [[codebook]] and [[codes]] from ONE [[VectorOps.pqQuantize]]
    * build: neither artifact reads the other back.
    */
  private def quantizer(xs: DataFrame, k: Int, rounds: Int,
      trainNOverride: Long): Seq[DataFrame] = {
    val tN = if (trainNOverride > 0) trainNOverride else trainN(k)
    val params = s"k$k-r$rounds${tTag(tN)}"
    ArtifactStore.materializedTogether(xs,
      Seq("codebook", "codes").map(ArtifactStore.key(xs, _, params))) {
      save => VectorOps.pqQuantize(xs, k, rounds, tN)((b, c) =>
        save(Seq(b, c)))
    }
  }

  /** SQ8 scalar-quantization table over a lifted (vec_id, dim, x)
    * frame ([[VectorOps.sq8]]): per-dimension stats, uint8 code and
    * midpoint reconstruction. Persisted once per corpus — the 4×
    * compressed representation serving scans instead of the floats.
    */
  def sq8Table(x: DataFrame): DataFrame =
    ArtifactStore.materializedOnce(x, ArtifactStore.key(x, "sq8", "")) {
      VectorOps.sq8(x)
    }

  /** 64 exact fixed-point centroid means of `v` — THE label-cell
    * centroid definition of the IVF family (one definition so the
    * fixed-point scale can never drift between builds, compactions
    * and audits).
    */
  private def centroidArr(dim: Int): Column =
    array((0 until dim).map(i =>
      Exact.avgFixed(element_at(col("v"), i + 1), 7)): _*)

  /** Per-label cell centroids over a (label, v) frame —
    * (clabel, cv, cn). The label-cell coarse quantizer the routed
    * serving queries, the health dashboard and the compaction step
    * all read; persisted once per corpus (or corpus subset — a BASE
    * snapshot keys separately from the full table by construction).
    */
  def labelCentroids(lv: DataFrame, dim: Int): DataFrame =
    ArtifactStore.materializedOnce(lv,
      ArtifactStore.key(lv, "labcent", s"d$dim")) {
      lv.groupBy(col("label"))
        .agg(centroidArr(dim).as("cv"))
        .select(col("label").as("clabel"), col("cv"),
          VectorOps.norm(col("cv")).as("cn"))
    }

  /** Hyperplane-LSH bucket table over a (vec_id, v, nrm) frame —
    * (vec_id, v, nrm, bkt). The standing index a multi-probe query
    * hits; persisted once per (corpus, planes).
    */
  def lshBuckets(v: DataFrame, dim: Int, planes: Int): DataFrame =
    ArtifactStore.materializedOnce(v,
      ArtifactStore.key(v, "lshbkt", s"d$dim-p$planes")) {
      v.select(col("vec_id"), col("v"), col("nrm"),
        VectorOps.lshBucket(col("v"), dim, planes).as("bkt"))
    }

  /** Cell-keyed IVF serving table over a lifted (vec_id, dim, x)
    * frame: (vec_id, v double-array, n2, c) — each vector stored
    * under its trained cell with its reassembled array and squared
    * norm, PARTITIONED BY `c`: the table a point query's probe
    * actually reads is laid out as one directory per trained cell, so
    * an nprobe=2 probe is a partition-PRUNED scan of 2/k directories
    * — at 10 B vectors the difference between reading the corpus and
    * reading two inverted lists. Persisted once per (corpus, k,
    * rounds, dim). Readback: `c` is a type-inferred partition column
    * (INT) and sorts last — filter with int literals to keep the
    * pruning trivially visible in `PartitionFilters`.
    */
  def ivfMembers(x: DataFrame, k: Int, rounds: Int,
      dim: Int): DataFrame =
    ArtifactStore.materializedOnce(x,
      ArtifactStore.key(x, "ivfmembers",
        s"k$k-r$rounds-d$dim${tTag(trainN(k))}"),
      partitionBy = Seq("c")) {
      codes(VectorOps.pqSubspaces(x, dim), k, rounds)
        .select(col("vec_id"), col("c")).join(vectorRows(x), Seq("vec_id"))
    }

  /** THE count-scaled key-space resolution rule, shared by every
    * banding/bucketing structure in the engine (semantic bands, kNN
    * cells, the q34 ANN bucket, the q30 simhash bands): the smallest
    * b in [lo, 16] with 2^b ≥ n/divisor, computed as the exact integer
    * bit-length of (n−1) div `divisor` — no floating log, so the
    * DuckDB twin ([[scaledBitsSql]]) derives the identical b from its
    * own COUNT(*). Expected bucket occupancy stays ≤ ~divisor at ANY
    * corpus size up to n ≈ 2^16·divisor (≈ 2M at divisor 32 — two
    * decades past the shipped corpora; the previous 8-bit ceiling
    * re-saturated at ~8k, one decade). Fixed-resolution key spaces are
    * the engine's recurring scale-killer class (shingle universes,
    * pHash spaces, band keys — each caught saturating on a 10× step);
    * this is the one rule that retires it. One row, column `name`.
    */
  def scaledBitsRow(basis: DataFrame, divisor: Int, lo: Int,
      name: String, hi: Int = 16): DataFrame =
    basis.agg(count(lit(1)).as("n"))
      .select(greatest(lit(lo), least(lit(hi),
        when(expr(s"(n - 1) div $divisor") === 0, lit(0))
          .otherwise(length(bin(expr(s"(n - 1) div $divisor"))))))
        .as(name))

  /** DuckDB twin of [[scaledBitsRow]]'s expression (over COUNT(*));
    * `bin()` matches Spark's bit-for-bit and `//` floors like `div`
    * does on these non-negative counts.
    */
  def scaledBitsSql(divisor: Int, lo: Int, hi: Int = 16): String =
    s"""GREATEST($lo, LEAST($hi,
         CASE WHEN (COUNT(*) - 1) // $divisor = 0 THEN 0
              ELSE length(bin((COUNT(*) - 1) // $divisor)) END))"""

  /** THE count-scaled PROBE rule — the exact dual of [[scaledBitsRow]]
    * and the rule that closes the OTHER half of the fixed-resolution
    * hazard class: round 9 scaled every KEY space with the corpus
    * (cells ∝ n, occupancy bounded) but left every probe count frozen,
    * so the scanned FRACTION — and with it recall — fell toward zero
    * exactly as the corpus grew (RECALL_r09: q256 0.34 → 0.06 across
    * one decade). This rule scales the probe count with the SAME
    * count-derived cell total: nprobe = max(lo, cells / divisor) —
    * the probed share of the key space is pinned at 1/divisor once
    * past the floor, so the scan budget is occupancy · cells/divisor
    * ≈ n/divisor and recall stops being a function of corpus size.
    * Pure integer driver-side arithmetic (a router resolves its probe
    * count before issuing the probe, exactly as a trainer resolves k
    * before launching Lloyd — a 1-row driver edge); the DuckDB twin
    * ([[scaledProbesSql]]) derives the identical count from the
    * mirrored cells expression. Divisor 16 is the serving family's
    * measured operating point (RECALL_CURVE_r10: the nprobe knee
    * that restores the sf0.1 recall baseline at the sf1 point);
    * consumers that need a different recall/cost point pass their
    * own divisor.
    */
  def scaledProbes(cells: Int, divisor: Int, lo: Int): Int =
    math.max(lo, cells / divisor)

  /** DuckDB twin of [[scaledProbes]] over a mirrored cells
    * expression; `//` floors like Scala's `/` on these non-negative
    * counts.
    */
  def scaledProbesSql(cellsExpr: String, divisor: Int, lo: Int): String =
    s"GREATEST($lo, ($cellsExpr) // $divisor)"

  /** Exact integer BIT LENGTH of COUNT(*)−1 over `basis` — the shared
    * corpus-size primitive the SUBLINEAR (√n) index sizing derives
    * from, exactly as [[scaledBitsRow]] is the primitive of the
    * share-pinned sizing. bitlen(n−1) = ⌈log₂ n⌉ for n ≥ 2, computed
    * with no floating log so the DuckDB twin ([[bitLenSql]]) derives
    * the identical value from its own COUNT(*). One row, column
    * `name`.
    */
  def bitLenRow(basis: DataFrame, name: String): DataFrame =
    basis.agg(count(lit(1)).as("n"))
      .select(length(bin(expr("n - 1"))).as(name))

  /** DuckDB twin of [[bitLenRow]] over COUNT(*). */
  def bitLenSql: String = "length(bin(COUNT(*) - 1))"

  /** THE sublinear CELL rule — the operating point the share-pinned
    * rule ([[scaledBitsRow]] ÷128 cells + [[scaledProbes]] ÷16 probes)
    * cannot reach: that pair pins the probed SHARE at 1/16, so
    * per-query scan is Θ(n/16) — the right (and information-
    * theoretically optimal) trade on STRUCTURELESS vectors, but a
    * linear cost a real deployment never pays, because real embedding
    * corpora cluster and a trained quantizer can route INTO the
    * structure. The standard IVF sizing for that regime is cells ≈
    * √n (occupancy ≈ √n) with a ~flat probe count at the measured
    * knee, giving Θ(√n) per-query scan. For the inverted MULTI-index
    * (cells = k1²) that is k1 = the exact integer 4th root
    * ⌈(2^bits)^(1/4)⌉ with bits = [[bitLenRow]]: the smallest k with
    * k⁴ ≥ 2^bits, found by exact integer comparison — no floating
    * pow, so the DuckDB twin ([[sqrtCellK1Sql]], a MIN over a bounded
    * integer range) derives the identical k from its own COUNT(*).
    * Since 2^bits ∈ [n, 2n), cells = k1² ∈ [√n, ~2.9√n) at EVERY n —
    * no power-of-4 quantization lumps, so the scan trend stays within
    * √-growth on every 10× step, not just on average across steps.
    * Clamped to [lo, 1024] (cells ≤ 2^20 — √n sizing up to a
    * 10¹²-vector corpus; the 2·k1·32-long codebook stays ≤ 512 KB
    * driver/broadcast-resident). Pure integer driver arithmetic (a
    * trainer resolves k1 before launching Lloyd). Validated on the
    * planted-cluster corpus arm (RECALL_r11 `clustered`): the trained
    * router must beat the random-partition control (q259) at equal
    * n_scanned, or the structure claim is void — on the uniform arm
    * this sizing honestly reports recall ≈ scanned share.
    */
  def sqrtCellK1(bits: Int, lo: Int): Int = {
    val target = 1L << math.min(bits, 40)
    var k = 1
    while (k < 1024 && k.toLong * k * k * k < target) k += 1
    math.max(lo, k)
  }

  /** DuckDB twin of [[sqrtCellK1]] over a mirrored bits expression:
    * the same smallest-k-with-k⁴ ≥ 2^bits as a MIN over the bounded
    * integer range (k ≤ 1024 ⇒ k⁴ ≤ 2⁴⁰ — exact BIGINT arithmetic).
    */
  def sqrtCellK1Sql(bitsExpr: String, lo: Int): String =
    s"""GREATEST($lo, LEAST(1024,
       (SELECT MIN(i) FROM range(1, 1025) t(i)
        WHERE i*i*i*i >= (CAST(1 AS BIGINT) << LEAST($bitsExpr, 40)))))"""

  /** Exact integer square root of a non-negative count — the √n
    * family's SCAN-BUDGET primitive. floor(sqrt) on an IEEE double is
    * correctly rounded, but the integer contract must not hinge on
    * that, so both engines apply the same ±1 correction: s = the
    * unique integer with s² ≤ n < (s+1)². Valid for n < 2⁵² (a
    * 4·10¹⁵-vector corpus). Pure driver arithmetic; DuckDB twin
    * [[isqrtSql]] is the identical expression over COUNT(*).
    */
  def isqrt(n: Long): Long = {
    require(n >= 0, s"isqrt of negative $n")
    var s = math.sqrt(n.toDouble).toLong
    while (s > 0 && s * s > n) s -= 1
    while ((s + 1) * (s + 1) <= n) s += 1
    s
  }

  /** DuckDB twin of [[isqrt]] over a mirrored count expression: the
    * float sqrt corrected to the exact integer root (one step suffices
    * — double sqrt is correctly rounded, so the raw floor is off by at
    * most one). Contract: `nExpr` is interpolated TWICE, so it must be
    * a deterministic, cheap-to-evaluate scalar expression (the shipped
    * callers pass COUNT(*) scalar subqueries — both properties hold).
    */
  def isqrtSql(nExpr: String): String =
    s"""(SELECT CASE WHEN (s+1)*(s+1) <= n THEN s+1
                     WHEN s*s > n THEN s-1 ELSE s END
       FROM (SELECT CAST(FLOOR(SQRT(CAST(($nExpr) AS DOUBLE)))
               AS BIGINT) AS s, ($nExpr) AS n))"""

  /** THE √n family's PROBE rule (round 12, replacing round 11's
    * nprobe = max(4, bits/4)): a per-query SCAN BUDGET T = max(lo,
    * mult·⌊√n⌋) — the router probes composite cells in multi-sequence
    * order (dd asc, cell asc) and stops at the first cell whose
    * cumulative membership reaches T. Round 11's fixed probe count
    * had two measured defects: (a) recall DECLINED with scale
    * (0.94 → 0.87 → 0.67 across 100×, RECALL_r11) because the floor-4
    * probes covered a shrinking share of the refining cell space, and
    * (b) the n_scanned trend inherited the cell-count jitter of the
    * integer-4th-root sizing (cells = k1² lands anywhere in
    * [√n, 2.9√n), so occupancy·nprobe per decade swung between
    * √10/2.9 and 2.9·√10 — the ≤ √10-per-decade gate held on the
    * shipped steps by luck). Budget routing fixes both at once: the
    * scanned mass is pinned to mult·√n at EVERY n (ratio = exactly
    * √10 per decade, forever), and where cells are finer the router
    * automatically probes MORE cells for the same budget — the
    * recall-targeted behavior the fixed count lacked. mult = 4 is the
    * measured marginal-recall knee of the clustered-arm curve at
    * every swept SF (RECALL_CURVE_r11 + the round-12 ProbeLab sweep:
    * past ~4·√n scanned, each further cell buys < 0.05 recall). The
    * probe count itself becomes emergent and per-query — exactly how
    * faiss's `max_codes` per-query scan cap behaves. 1-row driver
    * edge; DuckDB twin [[scanBudgetSql]] over the mirrored COUNT(*).
    */
  def scanBudget(n: Long, mult: Int, lo: Int): Long =
    math.max(lo.toLong, mult * isqrt(n))

  /** DuckDB twin of [[scanBudget]] over a mirrored count expression. */
  def scanBudgetSql(nExpr: String, mult: Int, lo: Int): String =
    s"GREATEST($lo, $mult * ${isqrtSql(nExpr)})"

  /** The residual-PQ INVERTED LIST — (vec_id, c0..c{m-1}, cell) rows
    * laid out one directory per coarse cell (`partitionBy("cell")`):
    * faiss IVFPQ's actual serving table. Each row is a vector's m
    * packed sub-codes under its coarse cell; a point probe reads
    * nprobe directories (partition-pruned — never the corpus) and
    * scores every candidate with m ADC map lookups inside one codegen
    * stage — no joins, no per-sub re-aggregation, no raw vectors.
    * `cells` must be the coarse (vec_id, cell) assignment of the SAME
    * corpus `rxs` was derived from (the key is content-addressed on
    * `rxs`, whose residual derivation already reads the coarse
    * artifacts). Persisted once per (corpus, k, rounds, m).
    */
  def pqLists(rxs: DataFrame, cells: DataFrame, k: Int, rounds: Int,
      m: Int): DataFrame =
    ArtifactStore.materializedOnce(rxs,
      ArtifactStore.key(rxs, "pqlists",
        s"k$k-r$rounds-m$m${tTag(trainN(k))}"),
      partitionBy = Seq("cell")) {
      codes(rxs, k, rounds)
        .groupBy(col("vec_id"))
        .agg(max(when(col("sub") === 0, col("c"))).as("c0"),
          (1 until m).map(i =>
            max(when(col("sub") === i, col("c"))).as(s"c$i")): _*)
        .join(cells, Seq("vec_id"))
    }

  /** Composite-cell IMI serving table over a lifted (vec_id, dim, x)
    * frame — [[ivfMembers]] with the count-scaled inverted MULTI-index
    * as the coarse quantizer: each vector stored under its composite
    * cell (c_hi·k1 + c_lo from the two trained half-space codes) with
    * its reassembled array and squared norm, PARTITIONED BY `cell`.
    * The k1² ≈ n/128 cells keep directory occupancy bounded at ANY
    * corpus size (the fixed-k table's per-probe scan grew linearly
    * with n), and a probe stays a partition-PRUNED scan of nprobe
    * directories. Persisted once per (corpus, k1, rounds, dim).
    */
  def imiMembers(x: DataFrame, k1: Int, rounds: Int,
      dim: Int): DataFrame =
    ArtifactStore.materializedOnce(x,
      ArtifactStore.key(x, "imimembers",
        s"k$k1-r$rounds-d$dim${tTag(trainN(k1))}"),
      partitionBy = Seq("cell")) {
      compositeCells(VectorOps.pqSubspaces(x, subDim = dim / 2), k1,
        rounds).join(vectorRows(x), Seq("vec_id"))
    }

  /** Composite IMI cell of every vector of a two-half subspace frame:
    * (vec_id, cell = c_hi·k1 + c_lo) from the trained half [[codes]].
    */
  def compositeCells(xs2: DataFrame, k1: Int, rounds: Int,
      trainNOverride: Long = -1L): DataFrame =
    codes(xs2, k1, rounds, trainNOverride).groupBy(col("vec_id"))
      .agg((max(when(col("sub") === 0, col("c"))) * k1 +
        max(when(col("sub") === 1, col("c")))).as("cell"))

  /** A lifted frame's vectors reassembled: (vec_id, v, n2). */
  private[graft] def vectorRows(x: DataFrame): DataFrame =
    x.groupBy(col("vec_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("x")))),
        t => t.getField("x").cast("double")).as("v"))
      .withColumn("n2", VectorOps.dot(col("v"), col("v")).cast("long"))

  /** DuckDB twin of [[vectorRows]]' (vec_id, v) over the lifted CTE
    * `src`, reading its column `x`: the CTE `name`.
    */
  def vectorRowsSql(name: String, src: String, x: String = "x"): String =
    s"""$name AS (SELECT vec_id, list(CAST($x AS DOUBLE) ORDER BY dim) AS v
              FROM $src GROUP BY 1)"""

  /** Count-scaled cell resolution shared by the kNN-graph build and
    * its incremental maintenance (whose rebuild-equivalence proof
    * DEPENDS on using exactly the same rule): [[scaledBitsRow]] at
    * divisor 64, floor 3 — expected cell size ≤ ~64 at any corpus
    * size. One row, column `k`.
    */
  def scaledKRow(basis: DataFrame): DataFrame =
    scaledBitsRow(basis, 64, 3, "k")

  /** The un-persisted kNN-graph derivation — exposed separately so
    * the plan audit (PlanDump/PlanSpec) can inspect the BUILD's join
    * shape (cell equi-join, never a cartesian) independently of the
    * artifact readback that serving plans as.
    */
  def knnGraphBuild(v: DataFrame, dim: Int, planes: Int): DataFrame = {
    // the sign bucket is computed at the rule's CEILING width (16
    // planes; bit j from plane j, so masking to k ≤ 8 reproduces the
    // historical 8-plane cells bit-for-bit) — `planes` below 16 would
    // leave scaledKRow's raised cap with no bits to grow into
    val bucketed = v
      .select(col("vec_id"), col("v"), col("nrm"),
        VectorOps.lshBucket(col("v"), dim, math.max(planes, 16)).as("b16"))
      .crossJoin(broadcast(scaledKRow(v)))
      .select(col("vec_id"), col("v"), col("nrm"),
        (col("b16") % expr("shiftleft(CAST(1 AS BIGINT), k)")).as("cell"))
    val a = bucketed.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("nrm").as("qn"), col("cell"))
    val b = bucketed.select(col("vec_id").as("cid"), col("v").as("cv"),
      col("nrm").as("cn"), col("cell").as("cell2"))
    // n_cands rides the SAME window partition the rank uses — one
    // pass over the self-join
    val scored = a
      .join(b, col("cell") === col("cell2") && col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(VectorOps.dot(col("qv"), col("cv")) /
          (col("qn") * col("cn")), 6).as("cos"))
      .withColumn("n_cands", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid"))))
    TopKOps.topKPerGroup(scored, Seq(col("qid")),
        Seq(col("cos").desc, col("cid").asc), 3)
      .select(col("qid"), col("rnk").cast("long").as("rnk"),
        col("cid"), col("cos"), col("n_cands"))
  }

  /** All-node top-3 kNN graph over a (vec_id, v, nrm) frame, built
    * with the count-scaled LSH quantizer (cells ∝ n ⇒ per-node cost
    * flat) — (qid, rnk, cid, cos, n_cands). THE graph artifact: built
    * once per corpus snapshot, read by serving/health queries, updated
    * incrementally by the maintenance path, rewritten by compaction.
    */
  def knnGraph(v: DataFrame, dim: Int, planes: Int): DataFrame =
    ArtifactStore.materializedOnce(v,
      ArtifactStore.key(v, "knngraph", s"d$dim-p$planes")) {
      knnGraphBuild(v, dim, planes)
    }
}
