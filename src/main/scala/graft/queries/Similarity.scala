package graft.queries

import graft.core.{CacheScope, Exact, Tables}
import graft.ops.{IndexStore, RerankOps, ServeOps, TopKOps, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search pack over the `embeddings` table: brute-force
  * cosine top-k as the correctness baseline, hyperplane-LSH bucketed ANN
  * as the scale path, k-NN label voting, and per-label centroids (the
  * IVF coarse quantizer build step).
  *
  * Scale notes:
  *   - Brute force is query-side-bounded (vec_id < 20) → the candidate
  *     scan is a broadcast-nested-loop over a *bounded* query set, cost
  *     linear in corpus size. Unbounded all-pairs exists only in the
  *     near-dup query, which LSH replaces at scale (q34 shape).
  *   - q34 joins on the LSH bucket id — a uniform equi key — so the
  *     shuffle balances and quadratic work is confined to buckets.
  */
object Similarity extends QueryPack {

  private val DIM = 64
  private val PLANES = 8
  /** The sign-bucket CEILING width every count-scaled key space masks
    * from (16 bits; the shared rule clamps resolution to [lo, 16] —
    * [[graft.ops.IndexStore.scaledBitsRow]]). Since round 10 the
    * standing [[graft.ops.IndexStore.lshBuckets]] table stores this
    * ceiling key too; q248 and ServeOps mask it to the count-scaled r
    * at read (bit j from plane j, so the r=8 floor reproduces the
    * historical 8-plane buckets bit-for-bit).
    */
  private val KEY_PLANES = 16

  private def emb(s: SparkSession, d: String) = Tables(s, d, "embeddings")

  /** vec_id, double vector, norm — shared projection. */
  private def vecs(s: SparkSession, d: String): DataFrame =
    emb(s, d)
      .select(col("vec_id"), col("label"),
        VectorOps.toDouble(col("embedding")).as("v"))
      .select(col("vec_id"), col("label"), col("v"),
        VectorOps.norm(col("v")).as("nrm"))

  private[queries] val vecsCte =
    s"""vecs AS (SELECT vec_id, label,
          ${VectorOps.toDoubleSql("embedding")} AS v FROM embeddings),
        n AS (SELECT vec_id, label, v,
          ${VectorOps.normSql("v")} AS nrm FROM vecs)"""

  private def cosCol: org.apache.spark.sql.Column =
    round(VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)

  /** (label, v) projection the label-cell quantizer artifact is keyed
    * on — ONE construction path so every consumer (routing, health,
    * filtered serving) addresses the SAME standing artifact.
    */
  private def labelVecs(s: SparkSession, d: String): DataFrame =
    emb(s, d)
      .select(col("label"), VectorOps.toDouble(col("embedding")).as("v"))

  /** The BASE-snapshot twin (vec_id%5≠4, the q243/q244 lifecycle
    * split): the delta-ingest and compaction steps read the same
    * persisted base quantizer.
    */
  private def baseLabelVecs(s: SparkSession, d: String): DataFrame =
    vecs(s, d).filter(col("vec_id") % 5 =!= 4)
      .select(col("label"), col("v"))

  /** (vec_id, v, nrm) projection the LSH-bucket and kNN-graph
    * artifacts are keyed on.
    */
  private def idVecs(s: SparkSession, d: String): DataFrame =
    vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))

  /** Pre-derive the standing ANN-index artifacts (trained IVF
    * centroids, PQ/SQ8 codes, label-cell quantizer, LSH buckets, kNN
    * graph) exactly as a production pipeline schedules them — batch
    * index builds consumed by the whole serving family, not per-query
    * work. [[graft.Bench.prebuild]] calls this once per SF dir before
    * its sweeps, so serving queries time as probe-only cost.
    */
  private[graft] def prebuildIndexArtifacts(
      s: SparkSession, d: String): Unit = {
    val x = VectorOps.liftE6(emb(s, d), "vec_id", "embedding")
    IndexStore.sq8Table(x).count()
    IndexStore.codes(VectorOps.pqSubspaces(x, subDim = 8),
      k = 16, rounds = 2).count()
    IndexStore.codes(VectorOps.pqSubspaces(x, subDim = DIM),
      k = 16, rounds = 2).count()
    IndexStore.labelCentroids(labelVecs(s, d), DIM).count()
    IndexStore.lshBuckets(idVecs(s, d), DIM, KEY_PLANES).count()
    IndexStore.knnGraph(idVecs(s, d), DIM, KEY_PLANES).count()
    // the BASE-snapshot twins the q243/q244/q250 lifecycle steps read
    IndexStore.labelCentroids(baseLabelVecs(s, d), DIM).count()
    IndexStore.knnGraph(
      vecs(s, d).filter(col("vec_id") % 5 =!= 4)
        .select(col("vec_id"), col("v"), col("nrm")), DIM, KEY_PLANES)
      .count()
    // the IMI quantizer family (q256/q253/q255/q257): half-space
    // codebook, composite membership, and the residual PQ index
    // trained on x − centroid(cell(x)) over the composite cells —
    // PQ code budget count-scaled ([[pqK]])
    val k1 = imiK1(s, d)
    val kq = pqK(s, d)
    IndexStore.codes(VectorOps.pqSubspaces(x, subDim = 32),
      k = k1, rounds = 2).count()
    IndexStore.codes(imiResidualSubspaces(s, d, k1),
      k = kq, rounds = 2).count()
    if (kq != 16) // q253's raw-PQ frame at the scaled budget
      IndexStore.codes(VectorOps.pqSubspaces(x, subDim = 8),
        k = kq, rounds = 2).count()
    // the √n-cell IMI family (q258/q259/q260): its own trained
    // half-space codebook at the sublinear geometry and SQRT_ROUNDS
    // Lloyd rounds (a distinct artifact from the share-pinned
    // 2-round one even when k1s == k1), plus q260's residual PQ
    // chain over the √n cells — without these the composed family
    // paid its whole one-time build inside the first timed query
    // (SCALING_SF1_FULL measured q260 at 7.1× on the 10× step where
    // its standing-index siblings read 1.3–1.6×)
    val (k1s, _) = imiSqrtGeom(s, d)
    IndexStore.codes(VectorOps.pqSubspaces(x, subDim = 32),
      k = k1s, rounds = SQRT_ROUNDS).count()
    IndexStore.codes(imiResidualSubspaces(s, d, k1s, SQRT_ROUNDS),
      k = kq, rounds = 2).count()
    // q261's sampled-training twin of the √n codebook: an explicit
    // trainN is part of the artifact key, so the biting-sample chain
    // is its OWN artifact — warm it with the same override the query
    // resolves, or q261 pays its whole build in the first timed run
    val tN261 = math.max(64L, emb(s, d).count() / 4)
    IndexStore.codes(VectorOps.pqSubspaces(x, subDim = 32),
      k = k1s, rounds = SQRT_ROUNDS, trainNOverride = tN261).count()
    ()
  }

  private val cosSql =
    s"round(${VectorOps.dotSql("av", "bv")} / (an * bn), 6)"

  private def scoredPairs(s: SparkSession, d: String,
      queryPred: org.apache.spark.sql.Column): DataFrame = {
    val v = vecs(s, d)
    val q = v.filter(queryPred).select(col("vec_id").as("qid"),
      col("v").as("qv"), col("nrm").as("qn"))
    val c = v.select(col("vec_id").as("cid"), col("label").as("clabel"),
      col("v").as("cv"), col("nrm").as("cn"))
    q.join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("clabel"), cosCol.as("cos"))
  }

  private val scoredCte =
    s"""pairs AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
          b.label AS clabel, a.v AS av, b.v AS bv, a.nrm AS an, b.nrm AS bn
        FROM n a JOIN n b ON a.vec_id < 20 AND b.vec_id <> a.vec_id),
        scored AS (SELECT qid, cid, clabel, $cosSql AS cos FROM pairs)"""

  /** q32: brute-force cosine top-5 per query (ANN ground truth). */
  private def q32CosineTopk(s: SparkSession, d: String): DataFrame =
    TopKOps
      .topKPerGroup(scoredPairs(s, d, col("vec_id") < 20),
        Seq(col("qid")), Seq(col("cos").desc, col("cid").asc), 5)
      .select(col("qid"), col("cid"), col("cos"),
        col("rnk").cast("long").as("rnk"))
      .orderBy(col("qid"), col("rnk"), col("cid"))

  private val q32Sql =
    s"""WITH $vecsCte, $scoredCte
       SELECT qid, cid, cos, rnk FROM (
         SELECT qid, cid, cos,
           RANK() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rnk
         FROM scored)
       WHERE rnk <= 5 ORDER BY qid, rnk, cid"""

  private val BANDS = 4
  private val ROWS_PER_BAND = 4

  /** q33: embedding near-dup pairs (cos ≥ 0.45), candidate-driven —
    * banded hyperplane LSH (4 bands × COUNT-SCALED bits, floor 4)
    * generates candidates through a uniform (band, bkey) equi-join,
    * then the exact cosine verifies candidates only. No unbounded
    * nested-loop join anywhere: the previous exact all-pairs form was
    * O(n²) over the corpus — a BroadcastNestedLoopJoin that 100×'s
    * into 10,000× work — whereas this is the same band→bucket→verify
    * shape the Dedup pack ships for MinHash (q28→q31), linear in
    * candidates. Round 8's full-pack sf1 sweep caught the FIXED key
    * space saturating (41× on a 10× step), so the band key is now the
    * low r bits of a full 16-bit stacked sign key with r count-scaled
    * exactly like q247's cells ([[graft.ops.SemanticOps]]; ceiling 16
    * so the rule holds to ~2M vectors, not the one decade an 8-bit
    * cap buys). Recall is the banding curve 1-(1-p^r)^4; both engines
    * mirror the identical candidate set so the oracle comparison
    * stays exact.
    */
  private[queries] def q33EmbeddingNeardup(
      s: SparkSession, d: String): DataFrame =
    // the chain lives in the PUBLIC graft.ops.SemanticOps API (the
    // embedding twin of CurationOps) as a write-once artifact —
    // derived once per corpus, read back by q112/q120
    graft.ops.SemanticOps
      .pairsTable(emb(s, d), threshold = 0.45, dim = DIM,
        bands = BANDS, rowsPerBand = ROWS_PER_BAND)
      .orderBy(col("d1"), col("d2"))

  /** Shared CTE chain: banded-LSH candidates → exact-cosine verified
    * near-dup pairs (`epairs`). Used by q33 (pair listing) and q112
    * (semantic-dedup cluster formation over the same edge set).
    */
  private[queries] val neardupCtes = {
    // full 16-bit band keys masked to the count-scaled low r bits —
    // the mirror of SemanticOps.bandKeyed (fixed band-key spaces
    // saturate: the full-pack sf1 sweep measured 41× on the 10× step
    // before count-scaling; the 8-bit ceiling it first shipped with
    // re-saturates one decade later, so the keys are now 16-bit
    // stacked sign blocks — VectorOps.lshBandKeys16)
    val nPlanes = BANDS * 16
    val planeCols = (0 until nPlanes)
      .map(j => s"${VectorOps.planeSql(j, DIM)} AS __pl$j")
      .mkString(", ")
    val keyedBranches = (0 until BANDS)
      .map(b => s"""SELECT vec_id, $b AS band,
            ${VectorOps.lshBandKey16Sql("v", b, BANDS)}
              % (CAST(1 AS BIGINT) << r) AS bkey
          FROM nn CROSS JOIN rr""")
      .mkString(" UNION ALL ")
    s"""planes AS (SELECT $planeCols),
       rr AS (SELECT ${graft.ops.IndexStore.scaledBitsSql(32, ROWS_PER_BAND)}
              AS r
          FROM n),
       nn AS (SELECT n.vec_id, n.v, planes.* FROM n CROSS JOIN planes),
       keyed AS ($keyedBranches),
       cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
                FROM keyed a JOIN keyed b
                  ON a.band = b.band AND a.bkey = b.bkey
                     AND a.vec_id < b.vec_id),
       cp AS (SELECT cand.d1, cand.d2, qa.v AS av, qb.v AS bv,
                qa.nrm AS an, qb.nrm AS bn
              FROM cand JOIN n qa ON qa.vec_id = cand.d1
                        JOIN n qb ON qb.vec_id = cand.d2),
       epairs AS (SELECT d1, d2, $cosSql AS cos FROM cp
                  WHERE $cosSql >= 0.45)"""
  }

  private val q33Sql =
    s"""WITH $vecsCte, $neardupCtes
       SELECT d1, d2, cos FROM epairs ORDER BY d1, d2"""

  /** q112: SemDeDup-style SEMANTIC dedup — the embedding-space twin of
    * the text side's q75/q76: the q33 near-dup edge set (banded
    * hyperplane-LSH candidates → exact cosine ≥ 0.45 on candidates
    * only) promoted to clusters via the same distributed
    * large-star/small-star contraction ([[graft.ops.GraphOps
    * .connectedComponents]]), then canonical-vector selection: the
    * minimum vec_id per semantic cluster survives, everything else is
    * marked for purge. Total assignment — singletons carry their own
    * id and cluster_size 1, so `is_survivor = 0` rows ARE the purge
    * list and survivors sum to the deduped corpus size.
    *
    * Scale shape: pairwise work is confined to LSH buckets (uniform
    * equi-join), cluster formation is the contracting iterative join
    * with per-round lineage truncation, and survivor marking is
    * arithmetic on the label — no driver-side state anywhere. This is
    * the semantic-dedup pass (cf. SemDeDup, Abbas et al. 2023) an LLM
    * pipeline runs beside MinHash text dedup: near-identical text is
    * caught by q75, paraphrase-level redundancy by this pass.
    */
  private def q112SemanticDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.ops.SemanticOps
      .labelsTable(emb(s, d), threshold = 0.45, dim = DIM,
        bands = BANDS, rowsPerBand = ROWS_PER_BAND)
      .select(col("vec_id"), col("cluster"),
        count(lit(1)).over(Window.partitionBy(col("cluster")))
          .cast("long").as("cluster_size"),
        when(col("vec_id").cast("long") === col("cluster"), 1L)
          .otherwise(0L).as("is_survivor"))
      .orderBy(col("vec_id"))
  }

  /** Oracle: recursive-CTE transitive closure over the same verified
    * edge set (min reachable id == the star-contraction's label).
    */
  /** Shared oracle CTEs: epairs → recursive closure → TOTAL min-id
    * cluster labels (q112 and q209).
    */
  private val semLabelCtes =
    """sym AS (SELECT d1 AS u, d2 AS v FROM epairs
               UNION SELECT d2, d1 FROM epairs),
       reach(u, v) AS (
         SELECT u, v FROM sym
         UNION
         SELECT r.u, s.v FROM reach r JOIN sym s
           ON r.v = s.u WHERE s.v <> r.u),
       cmp AS (SELECT u AS vec_id, MIN(v) AS mn FROM reach GROUP BY u),
       labels AS (SELECT e.vec_id,
           LEAST(CAST(e.vec_id AS BIGINT),
             COALESCE(c.mn, CAST(e.vec_id AS BIGINT))) AS cluster
         FROM embeddings e LEFT JOIN cmp c ON c.vec_id = e.vec_id)"""

  private val q112Sql =
    s"""WITH RECURSIVE $vecsCte, $neardupCtes, $semLabelCtes
       SELECT vec_id, cluster,
         CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT)
           AS cluster_size,
         CAST(CASE WHEN vec_id = cluster THEN 1 ELSE 0 END AS BIGINT)
           AS is_survivor
       FROM labels ORDER BY vec_id"""

  /** q209: CROSS-MODAL canonical selection — the q165 rule on
    * SEMANTIC clusters: within each embedding-space near-dup family,
    * keep the member whose TEXT carries the highest shared quality
    * score (doc/vec ids are aligned in the fixture schema). The
    * paraphrase-dedup decision an LLM pipeline actually ships:
    * semantic grouping finds the redundancy, text quality picks the
    * copy worth training on. Labels come from the write-once
    * [[graft.ops.SemanticOps.labelsTable]] artifact; the winner is a
    * per-cluster WindowGroupLimit, never a global sort.
    */
  private def q209SemanticBestOfCluster(
      s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = graft.ops.SemanticOps.labelsTable(emb(s, d))
    val prio = Tables(s, d, "documents")
      .select(col("doc_id"),
        graft.ops.TextOps.qualityScore(
          graft.ops.TextOps.tokens(col("text"))).as("priority"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("priority").desc, col("vec_id").asc)
    labels.join(prio, col("vec_id") === col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("vec_id").as("canonical_id"),
        col("cluster_size").cast("long").as("cluster_size"),
        col("priority"))
      .orderBy(col("cluster"))
  }

  private val q209Sql = {
    val qual = graft.ops.TextOps.qualityScoreSql(
      graft.ops.TextOps.tokensSql("text"))
    s"""WITH RECURSIVE $vecsCte, $neardupCtes, $semLabelCtes,
       prio AS (SELECT doc_id, $qual AS priority FROM documents),
       ranked AS (SELECT l.cluster, l.vec_id, p.priority,
           ROW_NUMBER() OVER (PARTITION BY l.cluster
             ORDER BY p.priority DESC, l.vec_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY l.cluster) AS cluster_size
         FROM labels l JOIN prio p ON p.doc_id = l.vec_id)
       SELECT cluster, vec_id AS canonical_id,
              CAST(cluster_size AS BIGINT) AS cluster_size, priority
       FROM ranked WHERE rn = 1 ORDER BY cluster"""
  }

  /** q208: incremental SEMANTIC admission — the embedding twin of the
    * text side's q86: the newest 20% of vectors (id-space cut) probe
    * the banded hyperplane-LSH index with the new side restricted
    * BEFORE pairing ([[graft.ops.SemanticOps.neardupPairsIncremental]]),
    * so corpus-internal pairs never form and daily-ingest cost is
    * batch-proportional; exact cosine verifies candidates only, and a
    * new vector is admitted iff nothing verified against it.
    */
  private def q208SemanticIncremental(
      s: SparkSession, d: String): DataFrame = {
    val cutV = emb(s, d)
      .agg(expr("((max(vec_id) + 1) * 4) div 5").as("cut"))
      .head().getLong(0)
    val verified = graft.ops.SemanticOps
      .neardupPairsIncremental(emb(s, d), col("vec_id") >= cutV,
        threshold = 0.45, dim = DIM, bands = BANDS,
        rowsPerBand = ROWS_PER_BAND)
      .select(col("d1"), col("d2"))
    emb(s, d).select(col("vec_id"))
      .filter(col("vec_id") >= cutV)
      .join(verified, col("vec_id") === col("d2"), "left")
      .groupBy(col("vec_id"))
      .agg(count(col("d1")).as("n_dup_matches"))
      .select(col("vec_id"), col("n_dup_matches"),
        (col("n_dup_matches") === 0).as("admitted"))
      .orderBy(col("vec_id"))
  }

  private val q208Sql =
    s"""WITH $vecsCte, $neardupCtes,
       cut208 AS (SELECT (MAX(vec_id) + 1) * 4 // 5 AS cut
                  FROM embeddings),
       nw208 AS (SELECT vec_id, band, bkey FROM keyed
                 WHERE vec_id >= (SELECT cut FROM cut208)),
       cand208 AS (SELECT DISTINCT LEAST(a.vec_id, b.vec_id) AS d1,
                    GREATEST(a.vec_id, b.vec_id) AS d2
                   FROM nw208 a JOIN keyed b
                     ON a.band = b.band AND a.bkey = b.bkey
                        AND a.vec_id <> b.vec_id),
       cp208 AS (SELECT cand208.d1, cand208.d2, qa.v AS av, qb.v AS bv,
                  qa.nrm AS an, qb.nrm AS bn
                 FROM cand208 JOIN n qa ON qa.vec_id = cand208.d1
                              JOIN n qb ON qb.vec_id = cand208.d2),
       ver208 AS (SELECT d1, d2 FROM
                   (SELECT d1, d2, $cosSql AS cos FROM cp208)
                  WHERE cos >= 0.45)
       SELECT e.vec_id,
         CAST(COUNT(v.d1) AS BIGINT) AS n_dup_matches,
         COUNT(v.d1) = 0 AS admitted
       FROM embeddings e LEFT JOIN ver208 v ON v.d2 = e.vec_id
       WHERE e.vec_id >= (SELECT cut FROM cut208)
       GROUP BY e.vec_id ORDER BY e.vec_id"""

  /** q34: hyperplane-LSH bucketed ANN — best same-bucket neighbor per
    * vector. Bucket = the low r sign bits of 16 deterministic
    * hyperplane dots, r COUNT-SCALED in [8, 16] by the shared rule
    * ([[IndexStore.scaledBitsRow]], divisor 16 — a tighter occupancy
    * target than the banding chains' 32 because a top-1 probe's whole
    * per-query cost IS the bucket size): a fixed 8-plane (256-bucket)
    * space was the pack's worst full-pack sf1 ratio (7.56× on 10×
    * data — same-bucket candidates ∝ n²/256), while the scaled mask
    * keeps expected bucket size ≤ ~16 and the self-join linear to
    * ~1M vectors. The round-9 version probed ONLY the own bucket —
    * the probe-side dual of the fixed-resolution hazard: as r grew
    * with n the single bucket held a vanishing fraction of the
    * corpus and recall collapsed to 0.0 (RECALL_r09 at sf0.1/sf1).
    * Now each vector probes its own bucket PLUS the r buckets at
    * Hamming distance 1 in the masked key space (one flip per masked
    * plane) — the probe count is count-scaled BY CONSTRUCTION (r+1
    * probes track the key width the shared rule derives) and
    * per-query cost stays ≤ ~(r+1)·16 candidates, flat in n. Bit j
    * of the bucket comes from plane j; the oracle derives the same r
    * from COUNT(*), applies the same mask and unrolls the same flip
    * set.
    */
  private def q34LshAnn(s: SparkSession, d: String): DataFrame = {
    val (bucketed, probes) = q34ProbeSet(s, d)
    val b = bucketed.select(col("vec_id").as("cid"), col("v").as("cv"),
      col("nrm").as("cn"), col("bkt").as("bkt2"))
    val scored = probes
      .join(b, col("probe") === col("bkt2") && col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosCol.as("cos"))
    TopKOps
      .topKPerGroup(scored, Seq(col("qid")),
        Seq(col("cos").desc, col("cid").asc), 1)
      .select(col("qid"), col("cid"), col("cos"))
      .orderBy(col("qid"))
  }

  /** q34's key space and probe set: `bucketed` (vec_id, v, nrm, bkt,
    * r) keys every vector by the low r of its 16 sign bits, and
    * `probes` (qid, qv, qn, probe) lists per vector its own bucket plus
    * the r Hamming-1 flips. The ANN sweep counts q34's candidates from
    * the same two frames.
    */
  private[graft] def q34ProbeSet(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val v = vecs(s, d)
    val bucketed = v.select(col("vec_id"), col("v"), col("nrm"),
        VectorOps.lshBucket(col("v"), DIM, 16).as("b16"))
      .crossJoin(broadcast(IndexStore.scaledBitsRow(v, 16, PLANES, "r")))
      .select(col("vec_id"), col("v"), col("nrm"),
        (col("b16") % expr("shiftleft(CAST(1 AS BIGINT), r)")).as("bkt"),
        col("r"))
    // probe set per vector: fj = -1 → the own bucket, fj ∈ [0, r) →
    // the single-bit flip of masked plane fj; the r+1 buckets are
    // pairwise distinct so no candidate double-counts
    val probes = bucketed
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("bkt"),
        explode(sequence(lit(-1), col("r") - 1)).as("fj"))
      .select(col("qid"), col("qv"), col("qn"),
        expr("""CASE WHEN fj = -1 THEN bkt
                ELSE bkt ^ shiftleft(CAST(1 AS BIGINT), fj) END""")
          .as("probe"))
    (bucketed, probes)
  }

  /** Shared CTE chain for the bucketed-LSH scored pairs (q34, q38):
    * 16 sign bits masked to the count-scaled r, multi-probed over the
    * own bucket plus all r Hamming-1 flips (mirror of
    * [[q34LshAnn]]'s probe set).
    */
  private val annCtes = {
    val planeCols = (0 until 16)
      .map(j => s"${VectorOps.planeSql(j, DIM)} AS __pl$j")
      .mkString(", ")
    s"""planes AS (SELECT $planeCols),
       rq34 AS (SELECT ${graft.ops.IndexStore.scaledBitsSql(16, PLANES)}
              AS r FROM n),
       bucketed AS (SELECT vec_id, v, nrm,
           ${VectorOps.lshBucketSql("v", DIM, 16)}
             % (CAST(1 AS BIGINT) << r) AS bkt
         FROM n CROSS JOIN planes CROSS JOIN rq34),
       probes34 AS (SELECT vec_id AS qid, v AS qv, nrm AS qn,
           CASE WHEN f.fj = -1 THEN bkt
                ELSE xor(bkt, (CAST(1 AS BIGINT) << f.fj)) END AS probe
         FROM bucketed CROSS JOIN (SELECT unnest(range(-1,
             (SELECT r FROM rq34))) AS fj) f),
       bp AS (SELECT p.qid, b.vec_id AS cid, p.qv AS av, b.v AS bv,
                p.qn AS an, b.nrm AS bn
              FROM probes34 p JOIN bucketed b
                ON b.bkt = p.probe AND b.vec_id <> p.qid),
       bscored AS (SELECT qid, cid, $cosSql AS cos FROM bp)"""
  }

  private val q34Sql =
    s"""WITH $vecsCte, $annCtes
       SELECT qid, cid, cos FROM (
         SELECT qid, cid, cos,
           RANK() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rnk
         FROM bscored)
       WHERE rnk = 1 ORDER BY qid"""

  /** q38: ANN recall audit — the evaluation operator every ANN
    * deployment needs: for each query in the bounded set, does the
    * LSH best-neighbor (q34 shape) land in the exact brute-force
    * top-5 (q32 shape)? Ground truth is query-side-bounded, the ANN
    * side is the bucketed equi-join, so the audit itself is scale-safe
    * — run it on a sampled query set to monitor recall in production.
    */
  private def q38AnnRecall(s: SparkSession, d: String): DataFrame = {
    // pin the shared projection once: the exact side scans it twice
    // and the LSH self-join twice more; the builders below re-derive
    // the same plan, which the cache manager matches by canonicalized
    // plan equality
    CacheScope.pin(vecs(s, d))
    val exact5 = TopKOps
      .topKPerGroup(scoredPairs(s, d, col("vec_id") < 20),
        Seq(col("qid")), Seq(col("cos").desc, col("cid").asc), 5)
      .select(col("qid"), col("cid"))
    val ann = q34LshAnn(s, d)
      .filter(col("qid") < 20)
      .select(col("qid"), col("cid").as("ann_cid"))
    exact5.join(ann, Seq("qid"), "left")
      .groupBy(col("qid"))
      .agg(max(when(col("cid") === col("ann_cid"), 1L).otherwise(0L))
        .as("hit"))
      .orderBy(col("qid"))
  }

  /** The q38/q78 CTEs: per query, does the q34 LSH best neighbour
    * land in the exact cosine top-5 — `hits` (qid, hit).
    */
  private val annHitsCtes =
    s"""$vecsCte, $scoredCte,
       ${ServeOps.top5Sql("exact5", "scored", "cos DESC")},
       $annCtes,
       ann AS (SELECT qid, cid AS ann_cid FROM (
         SELECT qid, cid,
           RANK() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rnk
         FROM bscored) WHERE rnk = 1 AND qid < 20),
       hits AS (SELECT e.qid,
           CAST(MAX(CASE WHEN e.cid = a.ann_cid THEN 1 ELSE 0 END) AS BIGINT)
             AS hit
         FROM exact5 e LEFT JOIN ann a ON a.qid = e.qid
         GROUP BY e.qid)"""

  private val q38Sql =
    s"WITH $annHitsCtes SELECT qid, hit FROM hits ORDER BY qid"

  /** q78: the one-row deployment metric beside q38's per-query bits —
    * recall@5 of the LSH index over the audited query set. Pure
    * aggregation over the q38 plan; the avg is exact (integer sum /
    * count) so the oracle comparison stays bit-stable.
    */
  private def q78AnnRecallSummary(s: SparkSession, d: String): DataFrame =
    q38AnnRecall(s, d)
      .agg(count(lit(1)).as("n_queries"), avg(col("hit")).as("recall_at_5"))

  private val q78Sql =
    s"""WITH $annHitsCtes
       SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         AVG(hit) AS recall_at_5 FROM hits"""

  /** q35: 5-NN majority-vote label prediction for the query set. */
  private def q35KnnClassify(s: SparkSession, d: String): DataFrame = {
    val top5 = TopKOps.topKPerGroup(
      scoredPairs(s, d, col("vec_id") < 20),
      Seq(col("qid")), Seq(col("cos").desc, col("cid").asc), 5)
    val votes = top5
      .groupBy(col("qid"), col("clabel"))
      .agg(count(lit(1)).as("votes"))
    val best = TopKOps
      .topKPerGroup(votes, Seq(col("qid")),
        Seq(col("votes").desc, col("clabel").asc), 1, rankCol = "vr")
      .select(col("qid"), col("clabel").cast("long").as("pred_label"),
        col("votes"))
    best
      .join(vecs(s, d).select(col("vec_id").as("qid"),
        col("label").cast("long").as("true_label")), Seq("qid"))
      .select(col("qid"), col("true_label"), col("pred_label"), col("votes"))
      .orderBy(col("qid"))
  }

  private val q35Sql =
    s"""WITH $vecsCte, $scoredCte,
       top5 AS (SELECT qid, cid, clabel FROM (
         SELECT qid, cid, clabel,
           RANK() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rnk
         FROM scored) WHERE rnk <= 5),
       votes AS (SELECT qid, clabel, COUNT(*) AS votes
                 FROM top5 GROUP BY 1, 2),
       best AS (SELECT qid, CAST(clabel AS BIGINT) AS pred_label, votes FROM (
         SELECT qid, clabel, votes,
           RANK() OVER (PARTITION BY qid
                        ORDER BY votes DESC, clabel ASC) AS vr
         FROM votes) WHERE vr = 1)
       SELECT b.qid, CAST(n.label AS BIGINT) AS true_label,
              b.pred_label, b.votes
       FROM best b JOIN n ON n.vec_id = b.qid
       ORDER BY b.qid"""

  /** q36: per-label centroids (IVF coarse-quantizer build): exact
    * fixed-point mean per (label, dimension).
    */
  private def q36LabelCentroids(s: SparkSession, d: String): DataFrame =
    emb(s, d)
      .select(col("label").cast("long").as("label"),
        posexplode(VectorOps.toDouble(col("embedding"))).as(Seq("dim", "val")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(Exact.avgFixed(col("val"), 7).as("centroid"),
        count(lit(1)).as("n"))
      .orderBy(col("label"), col("dim"))

  private val q36Sql =
    s"""SELECT CAST(label AS BIGINT) AS label, dim,
         ${Exact.avgFixedSql("val", 7)} AS centroid, COUNT(*) AS n
       FROM (SELECT label,
               unnest(${VectorOps.toDoubleSql("embedding")}) AS val,
               unnest(range(0, len(embedding))) AS dim
             FROM embeddings)
       GROUP BY 1, 2 ORDER BY label, dim"""

  /** q37: IVF-style ANN — the third scale path beside LSH (q34):
    * (1) build exact per-label centroids (coarse quantizer, q36's
    * math re-assembled into arrays), (2) assign each query to its
    * nearest centroid via a broadcast-sized 10-row cross join,
    * (3) search ONLY the assigned cell's members (label partition).
    * At 100 TB the cells are the partition key — each probe touches
    * 1/k of the corpus.
    */
  /** IVF parts shared by q37 (nprobe=1) and q85 (nprobe=2):
    * centroid build, query set, and the per-query `nprobe`
    * nearest-centroid assignment.
    */
  /** 64 exact fixed-point centroid means of `v` — THE coarse-cell
    * centroid definition every IVF-family query shares (q37/q85/q238/
    * q243/q244/q245/q249); one definition so the fixed-point scale
    * can never drift between builds, compactions and audits.
    */
  private def centroidArr: org.apache.spark.sql.Column =
    array((0 until DIM).map(i =>
      Exact.avgFixed(element_at(col("v"), i + 1), 7)): _*)

  /** SQL twin of [[centroidArr]] over a relation exposing `v`. */
  private val centroidColsSql = (0 until DIM)
    .map(i => Exact.avgFixedSql(s"v[${i + 1}]", 7))
    .mkString(", ")

  private def ivfAssigned(
      s: SparkSession, d: String, nprobe: Int): DataFrame = {
    // the persisted label-cell quantizer: trained once per corpus
    // snapshot ([[IndexStore.labelCentroids]]), a bare |cells|-row
    // file scan for every routed query after that
    val centroids = IndexStore.labelCentroids(labelVecs(s, d), DIM)
    val q = vecs(s, d).filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"))
    TopKOps
      .topKPerGroup(
        q.crossJoin(broadcast(centroids))
          .select(col("qid"), col("qv"), col("qn"), col("clabel"),
            round(VectorOps.dot(col("qv"), col("cv")) /
              (col("qn") * col("cn")), 6).as("ccos")),
        Seq(col("qid")), Seq(col("ccos").desc, col("clabel").asc), nprobe,
        rankCol = "crnk")
      .select(col("qid"), col("qv"), col("qn"), col("clabel"))
  }

  /** SQL twin of [[IndexStore.labelCentroids]] over a relation `src`
    * exposing (label, v): `cents2` (clabel, cv, cn).
    */
  private def labelCentsSql(src: String): String =
    s"""cents AS (SELECT label AS clabel, [$centroidColsSql] AS cv
                 FROM $src GROUP BY label),
       cents2 AS (SELECT clabel, cv, ${VectorOps.normSql("cv")} AS cn
                  FROM cents)"""

  /** SQL twin of [[ivfAssigned]] over `cents2`: the query rows `rq`
    * (vec_id < 20 of `qsrc`) and `assigned` (qid, qv, qn, clabel), each
    * query's `nprobe` nearest cells by round-6dp cosine.
    */
  private def ivfAssignedSql(nprobe: Int, qsrc: String = "n"): String =
    s"""rq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM $qsrc
              WHERE vec_id < 20),
       assigned AS (SELECT qid, qv, qn, clabel FROM (
         SELECT rq.qid, rq.qv, rq.qn, c.clabel,
           RANK() OVER (PARTITION BY rq.qid ORDER BY
             round(${VectorOps.dotSql("rq.qv", "c.cv")} / (rq.qn * c.cn), 6)
               DESC, c.clabel ASC) AS crnk
         FROM rq CROSS JOIN cents2 c) WHERE crnk <= $nprobe)"""

  private def ivfCells(s: SparkSession, d: String): DataFrame =
    vecs(s, d).select(col("vec_id").as("cid"), col("label").as("clabel"),
      col("v").as("cv2"), col("nrm").as("cn2"))

  private def q37IvfAnn(s: SparkSession, d: String): DataFrame = {
    // exact search within the single assigned cell
    val scored = ivfAssigned(s, d, nprobe = 1)
      .join(ivfCells(s, d), Seq("clabel"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("clabel").cast("long").as("cell"), col("cid"),
        round(VectorOps.dot(col("qv"), col("cv2")) /
          (col("qn") * col("cn2")), 6).as("cos"))
    TopKOps
      .topKPerGroup(scored, Seq(col("qid")),
        Seq(col("cos").desc, col("cid").asc), 3)
      .select(col("qid"), col("cell"), col("cid"), col("cos"),
        col("rnk").cast("long").as("rnk"))
      .orderBy(col("qid"), col("rnk"), col("cid"))
  }

  /** q85: IVF with nprobe=2 — the standard recall knob a deployed IVF
    * index turns: probe the TWO nearest cells per query and take the
    * global top-3 over their union. Cells are disjoint label
    * partitions, so the probe fan-out is exactly nprobe× the q37 scan
    * with no dedup step, and at 100 TB each probe still touches only
    * its cell's partition.
    */
  private def q85IvfNprobe(s: SparkSession, d: String): DataFrame = {
    val scored = ivfAssigned(s, d, nprobe = 2)
      .join(ivfCells(s, d), Seq("clabel"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(VectorOps.dot(col("qv"), col("cv2")) /
          (col("qn") * col("cn2")), 6).as("cos"))
    TopKOps
      .topKPerGroup(scored, Seq(col("qid")),
        Seq(col("cos").desc, col("cid").asc), 3)
      .select(col("qid"), col("cid"), col("cos"),
        col("rnk").cast("long").as("rnk"))
      .orderBy(col("qid"), col("rnk"), col("cid"))
  }

  /** The q37/q85 oracle: cosine top-3 over each query's `nprobe`
    * assigned label cells, projected to `cols`.
    */
  private def ivfTop3Sql(nprobe: Int, cols: String): String =
    s"""WITH $vecsCte,
       ${labelCentsSql("vecs")},
       ${ivfAssignedSql(nprobe)},
       cscored AS (SELECT a.qid, CAST(a.clabel AS BIGINT) AS cell,
           m.vec_id AS cid,
           round(${VectorOps.dotSql("a.qv", "m.v")} / (a.qn * m.nrm), 6) AS cos
         FROM assigned a JOIN n m ON m.label = a.clabel AND m.vec_id <> a.qid)
       SELECT $cols FROM (
         SELECT qid, cell, cid, cos,
           RANK() OVER (PARTITION BY qid
                        ORDER BY cos DESC, cid ASC) AS rnk
         FROM cscored)
       WHERE rnk <= 3 ORDER BY qid, rnk, cid"""

  private val q37Sql = ivfTop3Sql(1, "qid, cell, cid, cos, rnk")

  private val q85Sql = ivfTop3Sql(2, "qid, cid, cos, rnk")

  /** q129: MMR-diversified top-5 ([[graft.ops.RerankOps.mmrExact]],
    * λ=1/2) over the q32 retriever's top-20 candidate pool — retrieval
    * that won't hand back 5 near-copies of one document, the shape used
    * to pick diverse few-shot examples / eval sets out of a deduplicated
    * corpus. Bounded query set (vec_id < 8) → every intermediate is
    * |queries|×20; candidate pair sims are an equi self-join on qid.
    * Exactness: rel/sim are e6-fixed-point LONGs and the greedy score is
    * pure integer arithmetic (`mmr2_e6 = rel_e6 − max_sim_e6`, 2× the
    * λ=½ MMR score in e6 units), so the full 5-round trajectory is
    * engine-exact and the DuckDB oracle unrolls it round by round — the
    * q200/q202 greedy-CTE pattern. RerankSpec additionally pins the
    * rank-1-equals-top-1 and diversity-vs-plain-top-k invariants.
    */
  private def q129MmrRerank(s: SparkSession, d: String): DataFrame = {
    // pinned: feeds the pair self-join AND every mmr round
    val cands = CacheScope.pin(TopKOps
      .topKPerGroup(scoredPairs(s, d, col("vec_id") < 8),
        Seq(col("qid")), Seq(col("cos").desc, col("cid").asc), 20)
      .select(col("qid"), col("cid"), Exact.fixed(col("cos"), 6).as("rel")))
    val v = vecs(s, d)
      .select(col("vec_id"), col("v"), col("nrm"))
    val cv = cands.select(col("qid"), col("cid"))
      .join(v.withColumnRenamed("vec_id", "cid"), Seq("cid"))
    val pairSims = cv.as("a")
      .join(cv.as("b"),
        col("a.qid") === col("b.qid") && col("a.cid") =!= col("b.cid"))
      .select(col("a.qid").as("qid"), col("a.cid").as("cid1"),
        col("b.cid").as("cid2"),
        Exact.fixed(round(VectorOps.dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm")), 6), 6).as("sim"))
    RerankOps.mmrExact(cands, pairSims, k = 5, lambdaNum = 1, lambdaDen = 2)
      .select(col("qid"), col("rank"), col("cid"),
        col("rel").as("rel_e6"), col("mmr").as("mmr2_e6"))
  }

  private val MMR_K = 5

  /** DuckDB mirror of the q129 greedy trajectory: candidate pool and
    * pair sims in e6 fixed point, then per round selN (row_number
    * argmax pick), the cumulative selected set aN, and the next round's
    * integer-rescored remainder — the q200 unrolled-CTE pattern.
    */
  private val q129Sql = {
    val rounds = (2 to MMR_K).map { r =>
      s"""ms$r AS (SELECT p.qid, p.cid1 AS cid, MAX(p.sim) AS max_sim
            FROM mpairs p JOIN a${r - 1} s
              ON p.qid = s.qid AND p.cid2 = s.cid
            WHERE NOT EXISTS (SELECT 1 FROM a${r - 1} x
              WHERE x.qid = p.qid AND x.cid = p.cid1)
            GROUP BY 1, 2),
          sel$r AS (SELECT qid, $r AS rank, cid, rel, score FROM (
            SELECT c.qid, c.cid, c.rel,
              c.rel - COALESCE(m.max_sim, 0) AS score,
              ROW_NUMBER() OVER (PARTITION BY c.qid
                ORDER BY c.rel - COALESCE(m.max_sim, 0) DESC,
                         c.cid ASC) AS rn
            FROM cands c
            LEFT JOIN ms$r m ON c.qid = m.qid AND c.cid = m.cid
            WHERE NOT EXISTS (SELECT 1 FROM a${r - 1} x
              WHERE x.qid = c.qid AND x.cid = c.cid)) WHERE rn = 1),
          a$r AS (SELECT qid, cid FROM a${r - 1}
                  UNION ALL SELECT qid, cid FROM sel$r)"""
    }.mkString(",\n       ")
    val unions = (1 to MMR_K).map(r =>
      s"SELECT qid, rank, cid, rel, score FROM sel$r")
      .mkString("\n       UNION ALL ")
    s"""WITH $vecsCte,
       mq AS (SELECT vec_id, v, nrm FROM n WHERE vec_id < 8),
       msc AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
           round(${VectorOps.dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6)
             AS cos
         FROM mq a JOIN n b ON b.vec_id <> a.vec_id),
       cands AS (SELECT qid, cid, ${Exact.fixedSql("cos", 6)} AS rel
         FROM (SELECT qid, cid, cos, RANK() OVER (PARTITION BY qid
             ORDER BY cos DESC, cid ASC) AS rnk FROM msc)
         WHERE rnk <= 20),
       mcv AS (SELECT c.qid, c.cid, n.v, n.nrm
         FROM cands c JOIN n ON n.vec_id = c.cid),
       mpairs AS (SELECT a.qid, a.cid AS cid1, b.cid AS cid2,
           ${Exact.fixedSql(
             s"round(${VectorOps.dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6)",
             6)} AS sim
         FROM mcv a JOIN mcv b ON a.qid = b.qid AND a.cid <> b.cid),
       sel1 AS (SELECT qid, 1 AS rank, cid, rel, rel AS score FROM (
           SELECT qid, cid, rel, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY rel DESC, cid ASC) AS rn FROM cands)
         WHERE rn = 1),
       a1 AS (SELECT qid, cid FROM sel1),
       $rounds
       SELECT qid, CAST(rank AS BIGINT) AS rank, cid, rel AS rel_e6,
              CAST(score AS BIGINT) AS mmr2_e6
       FROM ($unions) ORDER BY qid, rank"""
  }

  /** q191: embedding outlier detection — top-10 vectors by EXACT
    * squared distance to their own label's centroid, the anomaly
    * audit that surfaces mislabeled or off-distribution embeddings
    * before they seed bad ANN cells (q37) or poison a semantic-dedup
    * pass (q112). Everything is integer: values in e7 fixed point,
    * centroid = Σv div n (integer division — no float mean to drift),
    * distance = Σ(v−c)² exact in e14 units (≤2.6e16 at 64 dims, well
    * inside long). The (label,dim) centroid table is tiny →
    * broadcast; top-10 via TakeOrderedAndProject.
    */
  private def q191CentroidOutliers(s: SparkSession, d: String): DataFrame = {
    val expl = emb(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(VectorOps.toDouble(col("embedding")))
          .as(Seq("dim", "val")))
      .withColumn("v7", Exact.fixed(col("val"), 7))
    val cent = expl.groupBy(col("label"), col("dim"))
      .agg(expr("sum(v7) div count(1)").as("c7"))
    expl.join(broadcast(cent), Seq("label", "dim"))
      .withColumn("dd", (col("v7") - col("c7")) * (col("v7") - col("c7")))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("dd")).as("dist_e14"))
      .orderBy(col("dist_e14").desc, col("vec_id").asc)
      .limit(10)
  }

  private val q191Sql =
    s"""WITH expl AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
           unnest(${VectorOps.toDoubleSql("embedding")}) AS val,
           unnest(range(0, len(embedding))) AS dim
         FROM embeddings),
       f AS (SELECT vec_id, label, dim,
               ${Exact.fixedSql("val", 7)} AS v7 FROM expl),
       cent AS (SELECT label, dim,
                  CAST(SUM(v7) // COUNT(*) AS BIGINT) AS c7
                FROM f GROUP BY 1, 2)
       SELECT f.vec_id, f.label,
              CAST(SUM((v7 - c7) * (v7 - c7)) AS BIGINT) AS dist_e14
       FROM f JOIN cent USING (label, dim)
       GROUP BY 1, 2 ORDER BY dist_e14 DESC, vec_id ASC LIMIT 10"""

  // ---------------------------------------------------------------- q200

  private val KCENTER_K = 8

  /** q200: greedy k-center coreset selection (farthest-point traversal,
    * Gonzalez 1985) over the embedding corpus — the data-pruning
    * primitive that picks k maximally-spread representatives, used to
    * seed diverse eval sets, pick prototype documents per region of
    * embedding space, and bound corpus coverage (the emitted radius
    * curve IS the covering-radius guarantee: every vector is within
    * `radius_e14` of some selected center, and greedy is a 2-approx of
    * the optimal k-center radius).
    *
    * Exactness: distances are exact integers — coordinates in e7 fixed
    * point, squared L2 in e14 units (≤64·(4e7)² ≈ 1e17, inside LONG) —
    * so the argmax/tie-break ordering is engine-exact and the oracle
    * mirrors the identical greedy trajectory.
    *
    * Scale: each of the k rounds is ONE map-only distance pass (the
    * newest center rides along as a broadcast array literal — no join,
    * no shuffle) plus ONE TakeOrderedAndProject argmax (tree-reduce).
    * Running state per row is a single LONG (`dmin`), cached and
    * rolled forward round to round; driver state is one 64-long array
    * per round — the sanctioned scalar edge (GraphOps-style). k linear
    * passes at 100 TB, never a pairwise anything.
    */
  private def q200KcenterCoreset(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.SelectionOps
      .kcenter(emb(s, d), "vec_id", "embedding", KCENTER_K)
      .map(p => (p.round, p.id, p.score))
      .toDF("round_id", "center_id", "radius_e14")
      .orderBy(col("round_id"))
  }

  /** Exact squared L2 between two e7 lists (DuckDB side). */
  private def sqSql(a: String, b: String) =
    s"CAST(list_sum(list_transform(list_zip($a, $b), " +
      s"p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"

  /** DuckDB mirror of the greedy trajectory: f (e7 vectors), then per
    * round cN (argmax pick) and dN (rolled-forward min distance) —
    * shared by q200 (trajectory) and q201 (cell assignment).
    */
  private val kcenterCtes = {
    val rounds = (1 until KCENTER_K).map { r =>
      s"""c$r AS (SELECT vec_id AS cid, v7, dmin AS radius
            FROM d${r - 1} ORDER BY dmin DESC, vec_id ASC LIMIT 1),
          d$r AS (SELECT d.vec_id, d.v7,
                    least(d.dmin, ${sqSql("d.v7", "c.v7")}) AS dmin
                  FROM d${r - 1} d, c$r c)"""
    }.mkString(",\n       ")
    s"""f AS (SELECT vec_id,
           list_transform((embedding)::DOUBLE[],
             x -> ${Exact.fixedSql("x", 7)}) AS v7 FROM embeddings),
       c0 AS (SELECT vec_id AS cid, v7 FROM f ORDER BY vec_id LIMIT 1),
       d0 AS (SELECT f.vec_id, f.v7, ${sqSql("f.v7", "c.v7")} AS dmin
              FROM f, c0 c),
       $rounds"""
  }

  private val q200Sql = {
    val unions = (1 until KCENTER_K).map { r =>
      s"SELECT $r AS round_id, cid AS center_id, radius AS radius_e14 FROM c$r"
    }.mkString("\n       UNION ALL ")
    s"""WITH $kcenterCtes
       SELECT CAST(0 AS BIGINT) AS round_id, cid AS center_id,
              CAST(0 AS BIGINT) AS radius_e14 FROM c0
       UNION ALL $unions
       ORDER BY round_id"""
  }

  // ---------------------------------------------------------------- q201

  /** q201: coreset cell assignment — every vector assigned to its
    * nearest q200 center (tie → smaller center id), reported as
    * per-cell occupancy, cell radius (max member distance), and mean
    * member distance (integer div, e14 units). This is the
    * "partition the corpus around its representatives" step: the cells
    * are an IVF-style coarse quantization whose centers carry a
    * covering guarantee (vs k-means centroids which carry none), and
    * the occupancy/radius report is how you decide whether k was large
    * enough before sharding a 100 TB corpus by cell.
    *
    * Scale: the 8-row center set broadcasts; assignment is one
    * map-side join + a groupBy(vec_id) min-struct argmin (shuffle on
    * vec_id, uniform) + a tiny 8-group rollup. The selection rounds
    * are the q200 passes.
    */
  private def q201CoresetCells(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val ids = graft.ops.SelectionOps
      .kcenter(e, "vec_id", "embedding", KCENTER_K).map(_.id)
    graft.ops.SelectionOps.assignCells(e, "vec_id", "embedding", ids)
  }

  private val q201Sql = {
    val centerUnion = (0 until KCENTER_K)
      .map(r => s"SELECT cid, v7 FROM c$r").mkString(" UNION ALL ")
    s"""WITH $kcenterCtes,
       cents AS ($centerUnion),
       dists AS (SELECT f.vec_id, c.cid, ${sqSql("f.v7", "c.v7")} AS dd
         FROM f, cents c),
       assigned AS (SELECT vec_id, cid, dd FROM (
           SELECT vec_id, cid, dd, ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY dd ASC, cid ASC) AS rn
           FROM dists) WHERE rn = 1)
       SELECT cid AS center_id, COUNT(*) AS n_members,
              MAX(dd) AS cell_radius_e14,
              CAST(SUM(dd) // COUNT(*) AS BIGINT) AS mean_dist_e14
       FROM assigned GROUP BY cid ORDER BY center_id"""
  }

  /** q226: SQ8 scalar quantization audit — the embedding COMPRESSION
    * path a 100 TB vector store ships before ANN ever runs (float32 →
    * uint8 per dimension = 4× storage and memory-bandwidth cut,
    * faiss's SQ8 layout). Per-dimension [min,max] over the corpus
    * (64-row aggregate → broadcast), code = ⌊(x−min)·256 / (range+1)⌋,
    * midpoint reconstruction, and the per-dim MAE / max-error report —
    * every step in e6 integer fixed-point so the oracle replays it
    * exactly (the float→double lift is IEEE-exact, round-to-e6 is the
    * house float ingestion rule). max_err is bounded by half a cell
    * ((range+1)/512 + 1), which ties the audit to the quantizer's
    * contract. Two linear passes, no corpus-sized shuffle beyond the
    * per-dim agg.
    */
  private def q226ScalarQuantization(s: SparkSession, d: String): DataFrame =
    IndexStore.sq8Table(VectorOps.liftE6(emb(s, d), "vec_id", "embedding"))
      .groupBy(col("dim"), col("mn"), col("mx"))
      .agg(countDistinct(col("code")).as("n_codes"),
        expr("sum(abs(x - recon)) div count(1)").as("mae_e6"),
        max(abs(col("x") - col("recon"))).as("max_err_e6"))
      .select(col("dim"), col("mn").as("min_e6"), col("mx").as("max_e6"),
        col("n_codes"), col("mae_e6"), col("max_err_e6"))
      .orderBy(col("dim"))

  private val q226Sql =
    s"""WITH ${VectorOps.liftE6Sql},
       ${VectorOps.sq8Sql}
       SELECT dim, mn AS min_e6, mx AS max_e6,
         CAST(COUNT(DISTINCT code) AS BIGINT) AS n_codes,
         CAST(SUM(ABS(x - recon)) // COUNT(*) AS BIGINT) AS mae_e6,
         CAST(MAX(ABS(x - recon)) AS BIGINT) AS max_err_e6
       FROM sq8 GROUP BY 1, 2, 3 ORDER BY dim"""

  /** q227: ADC recall over the SQ8 codes — the CONSUMPTION side of
    * q226's compression: queries stay full-precision, the database
    * side is scored from its uint8 RECONSTRUCTIONS (asymmetric
    * distance computation, the faiss IVF+SQ serving layout), and the
    * report is |ADC top-5 ∩ exact top-5| per query. Everything is
    * exact: vectors live as e6 integers, per-term products ≤ 4·10¹²
    * and 64-term sums ≤ 2.6·10¹⁴ stay far under 2⁵³, so the double
    * `graft_dot` accumulates integers exactly and the LONG cast is
    * lossless — the oracle replays the whole quantize→reconstruct→
    * score→rank chain value-for-value. Inner-product ranking (the ADC
    * metric), cid tie-break. Scale shape: stats broadcast (64 rows),
    * array rebuild is one groupBy per side, candidate scoring is
    * queries×corpus exactly like the q32 ground-truth scan.
    */
  private def q227Sq8AdcRecall(s: SparkSession, d: String): DataFrame = {
    val x = liftedX(s, d) // the exact ground-truth side scans it twice
    val recon = IndexStore.sq8Table(x)
      .select(col("vec_id"), col("dim"), col("recon").as("x"))
    val exact = IndexStore.vectorRows(x)
    val qs = ServeOps.queryRows(exact, 20)
    def top5(cands: DataFrame) =
      ServeOps.top5(ipScored(qs, cands), col("score").desc)
    hits(top5(exact), top5(IndexStore.vectorRows(recon)))
      .orderBy(col("qid"))
  }

  /** The exact vectors `ex` and the SQ8 reconstructions `ad` of the
    * q227/q238 oracles, both (vec_id, v), and the query rows `qs`.
    */
  private val sq8RowsCtes =
    s"""${VectorOps.liftE6Sql},
       ${VectorOps.sq8Sql},
       ${IndexStore.vectorRowsSql("ex", "x")},
       ${IndexStore.vectorRowsSql("ad", "sq8", x = "recon")},
       qs AS (SELECT vec_id AS qid, v AS qv FROM ex WHERE vec_id < 20)"""

  private val q227Sql =
    s"""WITH $sq8RowsCtes,
       ${ipScoredSql("exs", "ex")},
       ${ipScoredSql("ads", "ad")},
       ${ServeOps.top5Sql("et", "exs", "score DESC")},
       ${ServeOps.top5Sql("it", "ads", "score DESC")},
       ${hitsSql("et", "it")}
       SELECT qid, n_hits FROM hits ORDER BY qid"""

  /** q238: IVF×SQ8 composed serving — the query path a deployed
    * vector store (faiss IndexIVF+SQ8) actually runs, assembled from
    * the two audited halves: route each query to its `nprobe=2`
    * nearest coarse-quantizer cells (q85's centroid routing), then
    * ADC-score ONLY those cells' SQ8 codes (q227's asymmetric scoring
    * over midpoint reconstructions) and take the top-5; the report is
    * per-query `n_scanned` (the cost claim: ~2/|cells| of the corpus,
    * not all of it) and `n_hits` = |IVF+ADC top-5 ∩ exact full-scan
    * top-5| (the recall claim). Reference analogue: hw4's brute-force
    * cosine top-1 (hw4/hw4.py:102-117) upgraded to the
    * compressed-and-routed shape. Exactness: routing is the proven
    * round-6dp cosine with cell tie-break; scoring is all-integer e6
    * inner product — the oracle replays quantize→route→score→rank
    * value-for-value. Scale shape: the centroid table broadcasts
    * (|cells| rows), members join on the cell key (each probe touches
    * its cell's partition only), exact ground truth is the one
    * deliberate full scan that defines recall.
    */
  private def q238IvfSq8Serving(s: SparkSession, d: String): DataFrame = {
    val x = liftedX(s, d) // the exact ground-truth side scans it twice
    val exact = IndexStore.vectorRows(x)
    val qs = ServeOps.queryRows(exact, 20)
    // coarse routing: q85's nprobe=2 nearest-centroid assignment
    val route = ivfAssigned(s, d, nprobe = 2)
      .select(col("qid"), col("clabel"))
    // the compressed database side: the persisted SQ8 code table's
    // reconstructions ([[IndexStore.sq8Table]], quantized once per
    // corpus snapshot), cell-keyed
    val members = IndexStore.vectorRows(IndexStore.sq8Table(x)
        .select(col("vec_id"), col("dim"), col("recon").as("x")))
      .join(emb(s, d).select(col("vec_id"), col("label").as("clabel")),
        Seq("vec_id"))
      .select(col("vec_id").as("cid"), col("clabel"), col("v").as("cv"))
    val scored = qs.join(route, Seq("qid"))
      .join(members, Seq("clabel"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        VectorOps.dot(col("qv"), col("cv")).cast("long").as("score"))
    // exact full-scan ground truth — same metric (e6 inner product)
    ivfServingReport(scored,
      ServeOps.top5(ipScored(qs, exact), col("score").desc),
      col("score").desc)
  }

  private val q238Sql =
    s"""WITH $vecsCte,
       ${labelCentsSql("vecs")},
       ${ivfAssignedSql(2)},
       $sq8RowsCtes,
       scored AS (SELECT q.qid, m.vec_id AS cid,
           CAST(${VectorOps.dotSql("q.qv", "m.v")} AS BIGINT) AS score
         FROM qs q JOIN assigned a ON a.qid = q.qid
         JOIN embeddings e ON e.label = a.clabel AND e.vec_id <> q.qid
         JOIN ad m ON m.vec_id = e.vec_id),
       ${ipScoredSql("exs", "ex")},
       ${ServeOps.top5Sql("et", "exs", "score DESC")},
       ${servingReportSql("scored", "score DESC")}"""

  /** q241: PRODUCT quantization — the compression layer past q226's
    * SQ8: m=8 subspaces × k=16 centroids trained with 2 integer-exact
    * Lloyd rounds ([[VectorOps.pqQuantize]]), so each 64-dim float
    * vector becomes 8 four-bit codes (a 64× cut vs float32 — the
    * faiss IndexPQ layout a 10 B-vector store runs where even SQ8's
    * 4× doesn't fit RAM). Serving is the PQ ADC shape: per query, an
    * m×k distance TABLE (Σ(qx−v)² per subspace centroid, computed
    * once), then each candidate's distance is m table LOOKUPS summed
    * — no per-candidate arithmetic on raw vectors at all. Report is
    * recall@5 vs the exact integer L2 top-5. Deterministic end to
    * end (hash-rank seeding, argmin tie-breaks, shift-floor centroid
    * means — see pqQuantize's scaladoc), so the DuckDB oracle replays
    * the full train→encode→table→lookup→rank chain value-for-value
    * with the two Lloyd rounds unrolled as CTEs (the q129 MMR
    * precedent). Scale shape: each Lloyd round is one `mapPartitions`
    * + collect against a driver-held codebook (k·m·subDim longs ≈
    * KBs); the ADC join is codes⋈table on (sub, c) —
    * candidate-driven, never queries×corpus×dims. Reference analogue:
    * hw4's brute-force cosine top-1 (hw4/hw4.py:102-117), upgraded to
    * the memory-bounded shape that actually serves at 100 TB.
    */
  private def q241PqAdcRecall(s: SparkSession, d: String): DataFrame = {
    val x = liftedX(s, d) // subspace frame, norms and ground truth
    val xs = VectorOps.pqSubspaces(x, subDim = 8)
    // trained ONCE per corpus snapshot and persisted
    // ([[IndexStore.codebook]]/[[IndexStore.codes]]): one build runs
    // two Lloyd rounds of one job each against a driver-held codebook
    // and encodes the corpus from the same cached rows, then codebook
    // and code table read back as file scans
    val cent = IndexStore.codebook(xs, k = 16, rounds = 2)
    val codes = IndexStore.codes(xs, k = 16, rounds = 2)
    val tab = adcTable(querySubs(xs), cent)
    val adc = codes.join(broadcast(tab), Seq("sub", "c"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dd")).as("dist"))
      .select(col("qid"), col("vec_id").as("cid"), col("dist"))
    // exact integer-L2 ground truth over the same e6 ints (identical
    // to Σ(q−c)², which the oracle computes)
    hits(ServeOps.groundTruthL2(IndexStore.vectorRows(x), 20),
      ServeOps.top5(adc, col("dist").asc))
      .orderBy(col("qid"))
  }

  private val q241Sql =
    s"""WITH ${VectorOps.liftE6Sql},
       ${VectorOps.pqSubspacesSql("xs", 8)},
       ${VectorOps.seedRankSql},
       ${VectorOps.pqQuantizeSql("xs", "16", IndexStore.trainNSql("16"),
         rounds = 2)},
       ${adcTableSql("tab", "xs", "c2")},
       adc AS (SELECT t.qid, k.vec_id AS cid, SUM(t.dd) AS dist
             FROM codes k JOIN tab t ON t.sub = k.sub AND t.c = k.c
             WHERE k.vec_id <> t.qid GROUP BY 1, 2),
       ${ServeOps.groundTruthL2Sql(20)},
       ${ServeOps.top5Sql("it", "adc", "dist")},
       ${hitsSql("et", "it")}
       SELECT qid, n_hits FROM hits ORDER BY qid"""

  /** q243: streaming ANN delta-index ingestion + merged serving — the
    * lifecycle a deployed vector store actually runs: an immutable BASE
    * index built from a snapshot (coarse quantizer = per-label
    * exact-fixed-point centroids over base rows only), then NEW vectors
    * arriving continuously are quantized IN-STREAM — each micro-batch
    * assigns its rows to the nearest base centroid with a stateless,
    * codegen'd argmax over the broadcast quantizer (the quantizer is
    * small by definition; collecting its |cells| rows to build the
    * literal is the documented ≤k-row driver edge) — and land in a
    * DELTA side-index. Serving then probes nprobe=2 base cells AND the
    * delta members of those same cells, merges, and reports per query
    * `n_scanned`/`n_delta_scanned`/`n_hits` (recall@5 vs an exact
    * full-scan over base∪delta). The streamed assignments are gated
    * hard: the serving candidates come FROM the memory-sink table, and
    * `n_delta_total`/`delta_checksum` (Σ vec_id·clabel over every
    * streamed row) pin the entire assignment table, so a dropped or
    * misrouted delta row breaks the hash. Reference analogue: hw4's
    * cosine top-1 (hw4/hw4.py:102-117) upgraded to the base+delta
    * shape ingestion-time vector search needs at 100 TB. Scale shape:
    * the stream side holds NO state (no state store, no shuffle — one
    * projection per row, quantizer broadcast); the serving join is
    * cell-keyed and candidate-driven; the one full scan is the
    * deliberate ground-truth pass that defines recall. Determinism:
    * round-6dp cosine + clabel/cid ASC tie-breaks end to end, so the
    * DuckDB oracle replays train→assign→route→score→rank
    * value-for-value.
    */
  private def q243StreamAnnDelta(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val v = vecs(s, d)
    val base = v.filter(col("vec_id") % 5 =!= 4)
    // coarse quantizer trained on the BASE snapshot only — the SAME
    // persisted artifact q244's compaction reads as its old quantizer
    // ([[IndexStore.labelCentroids]] over [[baseLabelVecs]])
    val centroids = IndexStore.labelCentroids(baseLabelVecs(s, d), DIM)
    // |cells| rows (10 labels): THE coarse quantizer — bounded driver
    // edge, broadcast into the stream as a literal array
    val cents = centroids.collect().map(r =>
      (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
    val scoredArr = array(cents.map { case (cl, cvArr, cn) =>
      struct(
        round(VectorOps.dot(col("v"), array(cvArr.map(lit): _*)) /
          (col("nrm") * lit(cn)), 6).as("ccos"),
        lit(-cl).as("neg"))
    }: _*)
    val best = array_max(scoredArr)
    val run = java.util.UUID.randomUUID().toString.take(8)
    val staging =
      s"${System.getProperty("java.io.tmpdir")}/graft_q243_$run"
    val stagePath = new org.apache.hadoop.fs.Path(staging)
    val fs = stagePath.getFileSystem(s.sessionState.newHadoopConf())
    // whole replay under try/finally — a failure anywhere must not
    // leak the staged tree in tmpdir
    val dAssign = try {
      v.filter(col("vec_id") % 5 === 4)
        .select(col("vec_id"), col("v"), col("nrm"))
        .repartitionByRange(3, col("vec_id"))
        .write.mode("overwrite").parquet(staging)
      val schema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("v", ArrayType(DoubleType)),
        StructField("nrm", DoubleType)))
      val sink = s"q243_sink_$run"
      val query = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(staging)
        .select(col("vec_id"),
          (-best.getField("neg")).as("clabel"),
          best.getField("ccos").as("ccos"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try query.processAllAvailable() finally query.stop()
      // pin the (delta-sized) assignment rows eagerly, then DROP the
      // per-run memory-sink view — repeated invocations in one session
      // must not accumulate driver-held sink tables (the rows also
      // survive the staging delete below via the checkpoint)
      val a = s.table(sink).select(col("vec_id"), col("clabel"))
        .localCheckpoint(true)
      s.catalog.dropTempView(sink)
      a
    } finally fs.delete(stagePath, true)
    val baseC = base.select(col("vec_id").as("cid"),
      col("label").as("clabel"), col("v").as("cv"), col("nrm").as("cn"),
      lit("base").as("src"))
    val deltaC = v.select(col("vec_id"), col("v"), col("nrm"))
      .join(dAssign, Seq("vec_id"))
      .select(col("vec_id").as("cid"), col("clabel"), col("v").as("cv"),
        col("nrm").as("cn"), lit("delta").as("src"))
    val qs = base.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"))
    val probes = TopKOps.topKPerGroup(
      qs.crossJoin(broadcast(centroids))
        .select(col("qid"), col("clabel"), cosCol.as("ccos")),
      Seq(col("qid")), Seq(col("ccos").desc, col("clabel").asc), 2,
      rankCol = "crnk")
      .select(col("qid"), col("clabel"))
    val scored = qs.join(probes, Seq("qid"))
      .join(baseC.unionByName(deltaC), Seq("clabel"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("src"), cosCol.as("cos"))
    val nsc = scored.groupBy(col("qid")).agg(
      count(lit(1)).as("n_scanned"),
      sum(when(col("src") === "delta", lit(1L)).otherwise(lit(0L)))
        .as("n_delta_scanned"))
    // exact ground truth: full scan over base ∪ delta (= the table)
    val exactTop = ServeOps.top5(
      qs.join(v.select(col("vec_id").as("cid"), col("v").as("cv"),
          col("nrm").as("cn")), col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"), cosCol.as("cos")), col("cos").desc)
    val deltaSum = dAssign.agg(
      count(lit(1)).as("n_delta_total"),
      coalesce(sum(col("vec_id") * col("clabel")), lit(0L))
        .as("delta_checksum"))
    hits(exactTop, ServeOps.top5(scored, col("cos").desc))
      .join(nsc, Seq("qid"))
      .crossJoin(broadcast(deltaSum))
      .select(col("qid"), col("n_scanned"), col("n_delta_scanned"),
        col("n_hits"), col("n_delta_total"), col("delta_checksum"))
      .orderBy(col("qid"))
  }

  private val q243Sql = {
    s"""WITH $vecsCte,
       base AS (SELECT * FROM n WHERE vec_id % 5 <> 4),
       delta AS (SELECT * FROM n WHERE vec_id % 5 = 4),
       ${labelCentsSql("base")},
       dassign AS (SELECT vec_id, clabel FROM (
         SELECT d.vec_id, c.clabel,
           RANK() OVER (PARTITION BY d.vec_id ORDER BY
             round(${VectorOps.dotSql("d.v", "c.cv")} / (d.nrm * c.cn), 6)
               DESC, c.clabel ASC) AS rnk
         FROM delta d CROSS JOIN cents2 c) WHERE rnk = 1),
       ${ivfAssignedSql(2, qsrc = "base")},
       members AS (
         SELECT vec_id AS cid, label AS clabel, v AS cv, nrm AS cn,
                'base' AS src
         FROM base
         UNION ALL
         SELECT d.vec_id AS cid, a.clabel, d.v AS cv, d.nrm AS cn,
                'delta' AS src
         FROM delta d JOIN dassign a ON a.vec_id = d.vec_id),
       scored AS (SELECT q.qid, m.cid, m.src,
           round(${VectorOps.dotSql("q.qv", "m.cv")} / (q.qn * m.cn), 6)
             AS cos
         FROM assigned q
         JOIN members m ON m.clabel = q.clabel AND m.cid <> q.qid),
       nsc AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_scanned,
           CAST(SUM(CASE WHEN src = 'delta' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_delta_scanned
         FROM scored GROUP BY 1),
       ${ServeOps.top5Sql("it", "scored", "cos DESC")},
       exs AS (SELECT q.qid, c.vec_id AS cid,
           round(${VectorOps.dotSql("q.qv", "c.v")} / (q.qn * c.nrm), 6) AS cos
         FROM rq q JOIN n c ON c.vec_id <> q.qid),
       ${ServeOps.top5Sql("et", "exs", "cos DESC")},
       ds AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_delta_total,
           CAST(COALESCE(SUM(vec_id * clabel), 0) AS BIGINT)
             AS delta_checksum
         FROM dassign),
       ${hitsSql("et", "it")}
       SELECT h.qid, s.n_scanned, s.n_delta_scanned, h.n_hits,
         ds.n_delta_total, ds.delta_checksum
       FROM hits h JOIN nsc s ON s.qid = h.qid CROSS JOIN ds
       ORDER BY h.qid"""
  }

  /** q244: delta→base index compaction — the maintenance step q243's
    * lifecycle defers: once the delta side-index has absorbed enough
    * traffic, fold it into a NEW base index and measure what the
    * rebuild changed. Old quantizer = per-label exact-fixed-point
    * centroids over the base snapshot (identical to q243's); delta rows
    * are assigned to their nearest old cell (round-6dp cosine argmax,
    * clabel-asc ties — the total order makes RANK()=1 unique); the
    * compacted index recomputes every cell centroid as the exact mean
    * over base∪delta members; then a full re-assignment pass scores
    * every member against the NEW quantizer and counts churn. Per-cell
    * report: base/delta/total membership, old↔new centroid cosine
    * (drift — 1.0 means the delta didn't move the cell), and n_moved
    * (members whose nearest new centroid is a different cell — the rows
    * a real rebuild would migrate). Reference analogue: hw4's cosine
    * top-1 (hw4/hw4.py:102-117) — the centroid/assignment machinery —
    * run as the index-rebuild shape a vector store schedules. Scale
    * shape: two linear groupBy passes (64 exact-decimal avgs per cell)
    * plus two broadcast-argmax projections over the |cells|-row
    * quantizers; no pairwise candidate set anywhere, cost linear in
    * corpus size at any SF. Determinism: integer-sum fixed-point means
    * and round-6dp cosines end to end, so DuckDB replays
    * assign→compact→re-assign value-for-value.
    */
  private def q244IndexCompaction(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    val base = v.filter(col("vec_id") % 5 =!= 4)
    val delta = v.filter(col("vec_id") % 5 === 4)
    // the OLD quantizer is q243's persisted base artifact — compaction
    // reads the standing index it is about to rewrite
    val oldC = IndexStore.labelCentroids(baseLabelVecs(s, d), DIM)
    // nearest-old-cell assignment: clabel distinct per vec_id → the
    // (ccos desc, clabel asc) order is total and rank 1 is unique
    val dAssign = TopKOps.topKPerGroup(
      delta.crossJoin(broadcast(oldC))
        .select(col("vec_id"), col("v"), col("nrm"), col("clabel"),
          round(VectorOps.dot(col("v"), col("cv")) /
            (col("nrm") * col("cn")), 6).as("ccos")),
      Seq(col("vec_id")), Seq(col("ccos").desc, col("clabel").asc), 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("clabel"),
        lit("delta").as("src"))
    val members = base
      .select(col("vec_id"), col("v"), col("nrm"),
        col("label").as("clabel"), lit("base").as("src"))
      .unionByName(dAssign)
    val newC = members.groupBy(col("clabel"))
      .agg(centroidArr.as("nv"),
        sum(when(col("src") === "base", lit(1L)).otherwise(lit(0L)))
          .as("n_base"),
        sum(when(col("src") === "delta", lit(1L)).otherwise(lit(0L)))
          .as("n_delta"))
      .select(col("clabel"), col("nv"), VectorOps.norm(col("nv")).as("nn"),
        col("n_base"), col("n_delta"))
    val reAssign = TopKOps.topKPerGroup(
      members.select(col("vec_id"), col("v"), col("nrm"), col("clabel"))
        .crossJoin(broadcast(
          newC.select(col("clabel").as("nclabel"), col("nv"), col("nn"))))
        .select(col("vec_id"), col("clabel"), col("nclabel"),
          round(VectorOps.dot(col("v"), col("nv")) /
            (col("nrm") * col("nn")), 6).as("ncos")),
      Seq(col("vec_id")), Seq(col("ncos").desc, col("nclabel").asc), 1)
    val moved = reAssign.groupBy(col("clabel"))
      .agg(sum(when(col("nclabel") =!= col("clabel"), lit(1L))
        .otherwise(lit(0L))).as("n_moved"))
    val drift = oldC.join(newC, Seq("clabel"))
      .select(col("clabel"),
        round(VectorOps.dot(col("cv"), col("nv")) /
          (col("cn") * col("nn")), 6).as("centroid_cos"))
    newC.select(col("clabel"), col("n_base"), col("n_delta"),
        (col("n_base") + col("n_delta")).as("n_total"))
      .join(drift, Seq("clabel"))
      .join(moved, Seq("clabel"))
      .select(col("clabel"), col("n_base"), col("n_delta"), col("n_total"),
        col("centroid_cos"), col("n_moved"))
      .orderBy(col("clabel"))
  }

  private val q244Sql = {
    s"""WITH $vecsCte,
       base AS (SELECT * FROM n WHERE vec_id % 5 <> 4),
       delta AS (SELECT * FROM n WHERE vec_id % 5 = 4),
       oldc AS (SELECT label AS clabel, [$centroidColsSql] AS cv
                FROM base GROUP BY label),
       oldc2 AS (SELECT clabel, cv, ${VectorOps.normSql("cv")} AS cn
                 FROM oldc),
       dassign AS (SELECT vec_id, v, nrm, clabel FROM (
         SELECT d.vec_id, d.v, d.nrm, c.clabel,
           RANK() OVER (PARTITION BY d.vec_id ORDER BY
             round(${VectorOps.dotSql("d.v", "c.cv")} / (d.nrm * c.cn), 6)
               DESC, c.clabel ASC) AS rnk
         FROM delta d CROSS JOIN oldc2 c) WHERE rnk = 1),
       members AS (
         SELECT vec_id, v, nrm, label AS clabel, 'base' AS src FROM base
         UNION ALL
         SELECT vec_id, v, nrm, clabel, 'delta' AS src FROM dassign),
       newc AS (SELECT clabel, [$centroidColsSql] AS nv,
           CAST(SUM(CASE WHEN src = 'base' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_base,
           CAST(SUM(CASE WHEN src = 'delta' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_delta
         FROM members GROUP BY clabel),
       newc2 AS (SELECT clabel, nv, ${VectorOps.normSql("nv")} AS nn,
                 n_base, n_delta FROM newc),
       reassign AS (SELECT vec_id, clabel, nclabel FROM (
         SELECT m.vec_id, m.clabel, c.clabel AS nclabel,
           RANK() OVER (PARTITION BY m.vec_id ORDER BY
             round(${VectorOps.dotSql("m.v", "c.nv")} / (m.nrm * c.nn), 6)
               DESC, c.clabel ASC) AS rnk
         FROM members m CROSS JOIN newc2 c) WHERE rnk = 1),
       moved AS (SELECT clabel,
           CAST(SUM(CASE WHEN nclabel <> clabel THEN 1 ELSE 0 END)
             AS BIGINT) AS n_moved
         FROM reassign GROUP BY clabel),
       drift AS (SELECT o.clabel,
           round(${VectorOps.dotSql("o.cv", "w.nv")} / (o.cn * w.nn), 6)
             AS centroid_cos
         FROM oldc2 o JOIN newc2 w ON w.clabel = o.clabel)
       SELECT w.clabel, w.n_base, w.n_delta,
         w.n_base + w.n_delta AS n_total, d.centroid_cos, m.n_moved
       FROM newc2 w JOIN drift d ON d.clabel = w.clabel
       JOIN moved m ON m.clabel = w.clabel
       ORDER BY w.clabel"""
  }

  /** q245: filtered ANN serving — vector search under a metadata
    * predicate, the query shape every deployed vector store answers
    * ("nearest neighbors WHERE lang = X") and the one where the
    * pre-filter vs post-filter choice decides the cost. Each query
    * (vec_id < 20) retrieves top-5 same-language candidates; the
    * planner is selectivity-driven: if the language subset is ≤ 25% of
    * the corpus (4·n_lang ≤ n_total, exact integer test) it
    * brute-force scans the filtered subset (pre-filter — cheaper than
    * routing, recall 1 by construction); otherwise it routes through
    * the √n-cell IMI composite cells at the SCAN-BUDGET probe rule
    * (round 12 — q258's geometry; round 11 used the share-pinned
    * cells, round 9 the 10 label cells whose per-probe scan grew
    * linearly with the corpus) and applies the predicate to the
    * probed cells' members (post-filter — the scan stays ~4√n
    * instead of the unselective subset, and the filtered path now
    * inherits the sublinear index family end to end). Report per query: strategy
    * chosen, n_scanned (the cost claim) and n_hits vs the exact
    * filtered full-scan top-5 (the recall claim). Reference analogue:
    * hw4's cosine top-1 (hw4/hw4.py:102-117) with the predicate a
    * real retrieval system attaches. Determinism: the strategy test is
    * exact integer arithmetic on counts both engines compute
    * identically, scoring is the proven round-6dp cosine with cid
    * tie-break, so DuckDB replays plan-choice→scan→rank
    * value-for-value. Scale shape: lang counts are one tiny aggregate
    * (broadcast); the pre path joins on the lang equi-key (uniform,
    * selectivity-bounded); the post path joins on the cell equi-key
    * exactly like q238; nothing is all-pairs.
    */
  private def q245FilteredAnn(s: SparkSession, d: String): DataFrame = {
    val meta = Tables(s, d, "documents")
      .select(col("doc_id").as("vec_id"), col("lang"))
    val vm = vecs(s, d).join(meta, Seq("vec_id"))
    val langCnt = vm.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val totCnt = vm.agg(count(lit(1)).as("n_total"))
    val qs = vm.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("lang").as("qlang"))
      .join(broadcast(langCnt), col("qlang") === col("lang")).drop("lang")
      .crossJoin(broadcast(totCnt))
      .withColumn("strategy",
        when(col("n_lang") * 4 <= col("n_total"), lit("pre"))
          .otherwise(lit("post")))
    val cands = vm.select(col("vec_id").as("cid"),
      col("v").as("cv"), col("nrm").as("cn"), col("lang").as("clang"))
    def scoreCos = round(VectorOps.dot(col("qv"), col("cv")) /
      (col("qn") * col("cn")), 6)
    val preScored = qs.filter(col("strategy") === "pre")
      .join(cands,
        col("clang") === col("qlang") && col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), scoreCos.as("cos"))
    // post path (round 12): the √n-cell routing at the SCAN-BUDGET
    // probe rule (q258's geometry — the filtered path inherits the
    // sublinear scan), predicate applied inside the probed composite
    // cells (a candidate's cell is unique → no dup rows)
    val (k1, budget) = imiSqrtGeom(s, d)
    val x = VectorOps.liftE6(emb(s, d), "vec_id", "embedding")
    val (cent, cellsTbl) = imiQuantizer(x, k1, SQRT_ROUNDS)
    val route = routeLeaf(IndexStore.vectorRows(x), cent, k1,
      ServeOps.ScanBudget(budget, ServeOps.sizes(cellsTbl, "cell")))
    val postScored = qs.filter(col("strategy") === "post")
      .join(route, Seq("qid"))
      .join(cands.join(cellsTbl.withColumnRenamed("vec_id", "cid"),
        Seq("cid")), Seq("cell"))
      .filter(col("clang") === col("qlang") && col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), scoreCos.as("cos"))
    // n_sc rides the rank's window partition so the union of the two
    // scan paths executes once, not once per aggregate
    val scored = preScored.unionByName(postScored)
      .withColumn("n_sc", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid"))))
    val annTop = ServeOps.top5(scored, col("cos").desc)
    val nScanned = annTop.groupBy(col("qid"))
      .agg(max(col("n_sc")).as("n_sc"))
    // exact filtered ground truth: full scan of the lang subset
    val exactTop = ServeOps.top5(
      qs.join(cands,
          col("clang") === col("qlang") && col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"), scoreCos.as("cos")), col("cos").desc)
    qs.select(col("qid"), col("qlang"), col("strategy"))
      .join(nScanned, Seq("qid"), "left")
      .join(hits(exactTop, annTop), Seq("qid"), "left")
      .select(col("qid"), col("qlang"), col("strategy"),
        coalesce(col("n_sc"), lit(0L)).as("n_scanned"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .orderBy(col("qid"))
  }

  // lazy: interpolates imiSqrtCtes, which is declared further down
  // the object body (vals initialize in declaration order)
  private lazy val q245Sql = {
    s"""WITH $imiSqrtCtes,
       $vecsCte,
       m AS (SELECT n.vec_id, n.label, n.v, n.nrm, d.lang
             FROM n JOIN documents d ON d.doc_id = n.vec_id),
       lc AS (SELECT lang, COUNT(*) AS n_lang FROM m GROUP BY 1),
       tc AS (SELECT COUNT(*) AS n_total FROM m),
       qs AS (SELECT m.vec_id AS qid, m.v AS qv, m.nrm AS qn,
                m.lang AS qlang,
                CASE WHEN lc.n_lang * 4 <= tc.n_total
                     THEN 'pre' ELSE 'post' END AS strategy
              FROM m JOIN lc ON lc.lang = m.lang CROSS JOIN tc
              WHERE m.vec_id < 20),
       pre AS (SELECT q.qid, c.vec_id AS cid,
             round(${VectorOps.dotSql("q.qv", "c.v")} / (q.qn * c.nrm), 6)
               AS cos
           FROM qs q JOIN m c
             ON c.lang = q.qlang AND c.vec_id <> q.qid
           WHERE q.strategy = 'pre'),
       post AS (SELECT q.qid, c.vec_id AS cid,
             round(${VectorOps.dotSql("q.qv", "c.v")} / (q.qn * c.nrm), 6)
               AS cos
           FROM qs q JOIN route r ON r.qid = q.qid
           JOIN cells cl ON cl.cell = r.cell
           JOIN m c ON c.vec_id = cl.vec_id AND c.lang = q.qlang
             AND c.vec_id <> q.qid
           WHERE q.strategy = 'post'),
       scored AS (SELECT * FROM pre UNION ALL SELECT * FROM post),
       nsc AS (SELECT qid, COUNT(*) AS n_scanned FROM scored GROUP BY 1),
       ${ServeOps.top5Sql("it", "scored", "cos DESC")},
       exs AS (SELECT q.qid, c.vec_id AS cid,
           round(${VectorOps.dotSql("q.qv", "c.v")} / (q.qn * c.nrm), 6) AS cos
         FROM qs q JOIN m c ON c.lang = q.qlang AND c.vec_id <> q.qid),
       ${ServeOps.top5Sql("et", "exs", "cos DESC")},
       ${hitsSql("et", "it")}
       SELECT q.qid, q.qlang, q.strategy,
         COALESCE(n.n_scanned, 0) AS n_scanned,
         COALESCE(h.n_hits, 0) AS n_hits
       FROM qs q LEFT JOIN nsc n ON n.qid = q.qid
       LEFT JOIN hits h ON h.qid = q.qid
       ORDER BY q.qid"""
  }

  /** q247: k-NN GRAPH construction — the all-node top-3 neighbor
    * graph that semantic clustering, graph-based curation and
    * NN-descent-style index builds start from. The naive form is
    * all-pairs (the one shape this pack bans); the scale answer here
    * is a quantizer whose RESOLUTION GROWS WITH THE CORPUS: nodes are
    * bucketed by the first k sign-bits of the deterministic
    * 16-hyperplane LSH bucket, where k is the smallest value in
    * [3,16] with 2^k ≥ n/64 — computed as the exact integer
    * bit-length of (n−1) div 64, no floating log. Expected cell size
    * stays ≤ ~64 up to n ≈ 2^16·64 ≈ 4M (the original 8-bit ceiling
    * re-saturated at ~16k — barely past sf1), so per-cell pairing is
    * a constant-bounded quadratic and total work is O(n·64) — linear
    * — while the cell key stays a uniform equi-join key (hot cells
    * under adversarial skew route to
    * CurationOps.lshCandidatePairsCapped's star cap, measured in
    * ITERSCALE). Masking the 16-bit bucket to its low k
    * bits keeps the full static plane machinery shared with
    * q34/DuckDB: the oracle computes n, derives the same k, applies
    * the same mask, and replays the graph edge-for-edge. Per node the
    * report carries its top-3 same-cell neighbors (round-6dp cosine,
    * cid tie-break) and n_cands — the measured per-node candidate
    * cost whose flatness across SFs is the linearity claim. Reference
    * analogue: hw4's cosine top-1 (hw4/hw4.py:102-117) lifted from 20
    * probe queries to every node.
    */
  /** SQL twin of [[IndexStore.scaledKRow]]'s k expression (over
    * COUNT(*)) — the count-scaled quantizer resolution shared by q247
    * (graph build) and q250 (incremental maintenance). Ceiling 16,
    * matching the 16-plane sign bucket the build masks.
    */
  private val scaledKSql = graft.ops.IndexStore.scaledBitsSql(64, 3)

  private def q247KnnGraph(s: SparkSession, d: String): DataFrame =
    // the graph build lives in [[IndexStore.knnGraph]] as a persisted
    // artifact: built once per corpus snapshot, read back as a file
    // scan by this listing, by q249-style health reads and by q250's
    // incremental maintenance over the base snapshot
    IndexStore.knnGraph(idVecs(s, d), DIM, KEY_PLANES)
      .orderBy(col("qid"), col("rnk"), col("cid"))

  private val q247Sql = {
    val planeCols = (0 until KEY_PLANES)
      .map(j => s"${VectorOps.planeSql(j, DIM)} AS __pl$j")
      .mkString(", ")
    s"""WITH $vecsCte,
       planes AS (SELECT $planeCols),
       kk AS (SELECT $scaledKSql AS k FROM n),
       bucketed AS (SELECT vec_id, v, nrm,
           ${VectorOps.lshBucketSql("v", DIM, KEY_PLANES)}
             % (CAST(1 AS BIGINT) << k) AS cell
         FROM n CROSS JOIN planes CROSS JOIN kk),
       bp AS (SELECT a.vec_id AS qid, b.vec_id AS cid, a.v AS av,
                b.v AS bv, a.nrm AS an, b.nrm AS bn
              FROM bucketed a JOIN bucketed b
                ON b.cell = a.cell AND b.vec_id <> a.vec_id),
       bscored AS (SELECT qid, cid, $cosSql AS cos FROM bp)
       SELECT qid, CAST(rnk AS BIGINT) AS rnk, cid, cos, n_cands
       FROM (SELECT qid, cid, cos,
               RANK() OVER (PARTITION BY qid
                 ORDER BY cos DESC, cid ASC) AS rnk,
               COUNT(*) OVER (PARTITION BY qid) AS n_cands
             FROM bscored)
       WHERE rnk <= 3 ORDER BY qid, rnk, cid"""
  }

  /** q248: MULTI-PROBE LSH — the recall lever a production LSH index
    * pulls before it adds tables: besides its own sign-bucket, each
    * query probes the buckets reached by flipping its LOWEST-MARGIN
    * sign bits (margin = |round-6dp hyperplane dot| — the planes the
    * query sits closest to, hence the flips most likely to hold true
    * neighbors; Lv et al., VLDB'07). Round 10: BOTH sides of the
    * resolution rule apply — the bucket is the 16-plane ceiling key
    * masked to the count-scaled r (divisor 16, the q34 rule; the old
    * fixed 8-plane space left occupancy ∝ n), and the flip count is
    * count-scaled too (max(2, r−6): 2 at the r=8 floor — the
    * historical probe set bit-for-bit — 5 at sf1's r=11). The margin
    * rank (margin asc, plane asc) is a total order so both engines
    * pick the identical flips, and the probed buckets are pairwise
    * distinct (different bits) so no candidate double-counts. Report
    * per query: single vs multi candidate counts (the cost: probes ×
    * bounded-occupancy buckets) and single vs multi hit against the
    * exact top-5 (the recall: multi candidates ⊇ single, so
    * multi_hit can only improve). Query-side bounded (vec_id < 20)
    * like q34/q38 — at scale this runs per serving query, cost flat
    * in n under the masked key. Reference analogue: hw4's cosine
    * top-1 (hw4/hw4.py:102-117) as the exact scorer over probed
    * buckets.
    */
  private def q248MultiprobeLsh(s: SparkSession, d: String): DataFrame = {
    // the standing LSH index table ([[IndexStore.lshBuckets]]) now
    // stores the 16-plane CEILING key; every consumer masks to the
    // count-scaled r at read (the q34 rule, divisor 16) so the bucket
    // space scales with the corpus while the artifact format never
    // changes — the fixed 8-plane space was the serving family's last
    // fixed-resolution key (occupancy ∝ n ⇒ per-probe cost linear:
    // n_multi 8 → 245 across the shipped→sf1 span)
    val v = idVecs(s, d)
    val r = IndexStore.scaledBitsRow(v, 16, PLANES, "r").head().getInt(0)
    val bucketed = IndexStore.lshBuckets(v, DIM, KEY_PLANES)
      .select(col("vec_id"), col("v"), col("nrm"),
        (col("bkt") % (1L << r)).as("bkt"))
    val qs = bucketed.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("bkt").as("b0"))
    // the own bucket plus the margin-ranked single-bit flips over the r
    // MASKED planes, flip count COUNT-SCALED: max(2, r − 6) — 2 at the
    // r=8 floor, 5 at sf1's r=11, 10 at the 16-bit ceiling — so the
    // probe side grows with the key side. ServeOps ranks the flips on
    // the driver, exactly as a point query does.
    val probes = ServeOps.probeFrame(s, ServeOps.queryVectors(v, 20), r)
    val cands = probes
      .join(qs.select(col("qid"), col("qv"), col("qn"), col("b0")),
        Seq("qid"))
      .join(bucketed.select(col("vec_id").as("cid"), col("v").as("cv"),
        col("nrm").as("cn"), col("bkt")),
        col("bkt") === col("probe") && col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), cosCol.as("cos"),
        when(col("probe") === col("b0"), lit(1L)).otherwise(lit(0L))
          .as("own"))
    val counts = cands.groupBy(col("qid"))
      .agg(sum(col("own")).as("n_single"), count(lit(1)).as("n_multi"))
    val exact5 = TopKOps
      .topKPerGroup(scoredPairs(s, d, col("vec_id") < 20),
        Seq(col("qid")), Seq(col("cos").desc, col("cid").asc), 5)
      .select(col("qid"), col("cid"))
    def bestHit(pool: DataFrame, name: String) =
      exact5.join(
        TopKOps.topKPerGroup(pool, Seq(col("qid")),
          Seq(col("cos").desc, col("cid").asc), 1)
          .select(col("qid"), col("cid").as("best_cid")),
        Seq("qid"), "left")
        .groupBy(col("qid"))
        .agg(max(when(col("cid") === col("best_cid"), lit(1L))
          .otherwise(lit(0L))).as(name))
    qs.select(col("qid"))
      .join(counts, Seq("qid"), "left")
      .join(bestHit(cands.filter(col("own") === 1L), "single_hit"),
        Seq("qid"), "left")
      .join(bestHit(cands, "multi_hit"), Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_single"), lit(0L)).as("n_single"),
        coalesce(col("n_multi"), lit(0L)).as("n_multi"),
        coalesce(col("single_hit"), lit(0L)).as("single_hit"),
        coalesce(col("multi_hit"), lit(0L)).as("multi_hit"))
      .orderBy(col("qid"))
  }

  private val q248Sql = {
    val planeCols = (0 until KEY_PLANES)
      .map(j => s"${VectorOps.planeSql(j, DIM)} AS __pl$j")
      .mkString(", ")
    val pdArms = (0 until KEY_PLANES).map { j =>
      s"""SELECT qid, b0, CAST($j AS BIGINT) AS j,
            abs(round(${VectorOps.dotSql("qv", s"__pl$j")}, 6)) AS adj
          FROM qs CROSS JOIN planes
          WHERE $j < (SELECT r FROM rq248)"""
    }.mkString(" UNION ALL ")
    s"""WITH $vecsCte, $scoredCte,
       planes AS (SELECT $planeCols),
       rq248 AS (SELECT ${graft.ops.IndexStore.scaledBitsSql(16, PLANES)}
              AS r FROM n),
       bucketed AS (SELECT vec_id, v, nrm,
           ${VectorOps.lshBucketSql("v", DIM, KEY_PLANES)}
             % (CAST(1 AS BIGINT) << r) AS bkt
         FROM n CROSS JOIN planes CROSS JOIN rq248),
       qs AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, bkt AS b0
              FROM bucketed WHERE vec_id < 20),
       pd AS ($pdArms),
       flips AS (SELECT qid, xor(b0, (CAST(1 AS BIGINT) << j)) AS probe
         FROM (SELECT qid, b0, j,
                 RANK() OVER (PARTITION BY qid
                   ORDER BY adj ASC, j ASC) AS rnk
               FROM pd)
         WHERE rnk <= GREATEST(2, (SELECT r FROM rq248) - 6)),
       probes AS (SELECT qid, b0 AS probe FROM qs
                  UNION ALL SELECT qid, probe FROM flips),
       cands AS (SELECT q.qid, c.vec_id AS cid,
           round(${VectorOps.dotSql("q.qv", "c.v")} / (q.qn * c.nrm), 6)
             AS cos,
           CASE WHEN p.probe = q.b0 THEN 1 ELSE 0 END AS own
         FROM probes p JOIN qs q ON q.qid = p.qid
         JOIN bucketed c ON c.bkt = p.probe AND c.vec_id <> p.qid),
       counts AS (SELECT qid, CAST(SUM(own) AS BIGINT) AS n_single,
                    COUNT(*) AS n_multi
                  FROM cands GROUP BY 1),
       exact5 AS (SELECT qid, cid FROM (
         SELECT qid, cid,
           RANK() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC)
             AS rnk
         FROM scored) WHERE rnk <= 5),
       sbest AS (SELECT qid, cid AS best_cid FROM (
         SELECT qid, cid, RANK() OVER (PARTITION BY qid
           ORDER BY cos DESC, cid ASC) AS rnk
         FROM cands WHERE own = 1) WHERE rnk = 1),
       mbest AS (SELECT qid, cid AS best_cid FROM (
         SELECT qid, cid, RANK() OVER (PARTITION BY qid
           ORDER BY cos DESC, cid ASC) AS rnk
         FROM cands) WHERE rnk = 1),
       shit AS (SELECT e.qid, CAST(MAX(CASE WHEN e.cid = s.best_cid
             THEN 1 ELSE 0 END) AS BIGINT) AS single_hit
         FROM exact5 e LEFT JOIN sbest s ON s.qid = e.qid GROUP BY 1),
       mhit AS (SELECT e.qid, CAST(MAX(CASE WHEN e.cid = m.best_cid
             THEN 1 ELSE 0 END) AS BIGINT) AS multi_hit
         FROM exact5 e LEFT JOIN mbest m ON m.qid = e.qid GROUP BY 1)
       SELECT q.qid, COALESCE(c.n_single, 0) AS n_single,
         COALESCE(c.n_multi, 0) AS n_multi,
         COALESCE(sh.single_hit, 0) AS single_hit,
         COALESCE(mh.multi_hit, 0) AS multi_hit
       FROM qs q LEFT JOIN counts c ON c.qid = q.qid
       LEFT JOIN shit sh ON sh.qid = q.qid
       LEFT JOIN mhit mh ON mh.qid = q.qid
       ORDER BY q.qid"""
  }

  /** q249: ANN index HEALTH report — the per-cell dashboard an
    * operator reads before q244's compaction or a quantizer retrain:
    * membership, tightness (min and exact-integer-average
    * member→centroid cosine — a cell whose min_cos sags holds vectors
    * its centroid no longer represents, the routing-miss precursor)
    * and imbalance_e2 (cell size vs perfectly-balanced share, ×100 —
    * the skew number that decides whether one probe costs 1/|cells|
    * of the corpus or much more). The dedup family has had audits
    * since round 4 (q82/q89/q105-q108); this is the same
    * observability for the vector-serving family. Exactness: the
    * average is an e6 integer sum shifted nonnegative before the
    * floor division so Spark's `div` and DuckDB's `//` agree for any
    * sign; counts and shares are pure integer arithmetic. Scale: one
    * broadcast-centroid join + one groupBy — linear, no pairs.
    */
  private def q249IndexHealth(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    // health reads the SAME persisted quantizer the serving queries
    // route on — the dashboard observes the standing index, it never
    // rebuilds one
    val cents = IndexStore.labelCentroids(labelVecs(s, d), DIM)
    val scored = v.join(broadcast(cents), col("label") === col("clabel"))
      .select(col("clabel"),
        round(VectorOps.dot(col("v"), col("cv")) /
          (col("nrm") * col("cn")), 6).as("ccos"))
    val glob = v.agg(count(lit(1)).as("n_total"),
      countDistinct(col("label")).as("n_cells"))
    scored.groupBy(col("clabel"))
      .agg(count(lit(1)).as("n_members"),
        min(col("ccos")).as("min_cos"),
        sum(round(col("ccos") * lit(1000000L)).cast("long") +
          lit(1000000L)).as("sum_shift"))
      .crossJoin(broadcast(glob))
      .select(col("clabel"), col("n_members"), col("min_cos"),
        (expr("sum_shift div n_members") - lit(1000000L))
          .as("avg_cos_e6"),
        expr("(n_members * n_cells * 100) div n_total")
          .as("imbalance_e2"))
      .orderBy(col("clabel"))
  }

  private val q249Sql = {
    s"""WITH $vecsCte,
       ${labelCentsSql("vecs")},
       scored AS (SELECT n.label AS clabel,
           round(${VectorOps.dotSql("n.v", "c.cv")} / (n.nrm * c.cn), 6)
             AS ccos
         FROM n JOIN cents2 c ON c.clabel = n.label),
       gstats AS (SELECT COUNT(*) AS n_total,
                  CAST(COUNT(DISTINCT label) AS BIGINT) AS n_cells
                FROM n),
       per AS (SELECT clabel, COUNT(*) AS n_members,
                 MIN(ccos) AS min_cos,
                 CAST(SUM(CAST(ROUND(ccos * 1000000) AS BIGINT) + 1000000)
                   AS BIGINT) AS sum_shift
               FROM scored GROUP BY 1)
       SELECT p.clabel, p.n_members, p.min_cos,
         (p.sum_shift // p.n_members) - 1000000 AS avg_cos_e6,
         (p.n_members * g.n_cells * 100) // g.n_total AS imbalance_e2
       FROM per p CROSS JOIN gstats g ORDER BY p.clabel"""
  }

  /** q250: INCREMENTAL kNN-graph maintenance — how q247's graph
    * absorbs new vectors without a rebuild. The delta (vec_id%5=4,
    * q244's split) buckets under the index's EXISTING quantizer (k
    * derived from the base count — per-insert re-derivation is
    * q244-compaction's job, not ingestion's), then only three
    * delta-driven edge sets are scored: delta→(base∪delta) same-cell
    * (the new nodes' edges) and base→delta same-cell (the only new
    * candidates existing nodes can gain). Merging those with the
    * EXISTING base graph and re-ranking is provably the full rebuild:
    * adding candidates only pushes old ones down, so any rebuild
    * top-3 member is either a base vector already in the base top-3
    * or a delta vector the incremental pass scored. The query CARRIES
    * that proof as data — `in_rebuild` compares every merged edge
    * against an inline full rebuild under the same quantizer, and the
    * oracle hash pins the all-1s column at every SF. Incremental cost
    * is |delta|·cell-sized — the rebuild term exists here only as the
    * verdict's ground truth. `new_edge` marks edges a rebuild would
    * not have had before the delta arrived (either endpoint is
    * delta). Reference analogue: hw4's cosine top-1
    * (hw4/hw4.py:102-117) as the edge scorer.
    */
  private def q250KnnIncremental(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    val base = v.filter(col("vec_id") % 5 =!= 4)
    val delta = v.filter(col("vec_id") % 5 === 4)
    // the index's existing resolution: k from the BASE count
    // (IndexStore.scaledKRow = q247's rule, shared so the
    // rebuild-equivalence proof can never drift from the build), fixed
    // while the delta streams in
    val kRow = IndexStore.scaledKRow(base)
    def bucket(df: DataFrame): DataFrame = df
      .select(col("vec_id"), col("v"), col("nrm"),
        VectorOps.lshBucket(col("v"), DIM, KEY_PLANES).as("b16"))
      .crossJoin(broadcast(kRow))
      .select(col("vec_id"), col("v"), col("nrm"),
        (col("b16") % expr("shiftleft(CAST(1 AS BIGINT), k)")).as("cell"))
    val bb = bucket(base)
    val db = bucket(delta)
    def qside(df: DataFrame) = df.select(col("vec_id").as("qid"),
      col("v").as("qv"), col("nrm").as("qn"), col("cell"))
    def cside(df: DataFrame) = df.select(col("vec_id").as("cid"),
      col("v").as("cv"), col("nrm").as("cn"), col("cell").as("cell2"))
    def edges(q: DataFrame, c: DataFrame) = q
      .join(c, col("cell") === col("cell2") && col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosCol.as("cos"))
    // the EXISTING graph is the persisted base-snapshot artifact
    // (identical build rule to q247's full-corpus graph) — incremental
    // maintenance reads it back instead of re-deriving the base edges
    val baseGraph = IndexStore
      .knnGraph(base.select(col("vec_id"), col("v"), col("nrm")),
        DIM, KEY_PLANES)
      .select(col("qid"), col("cid"), col("cos"))
    val incr = baseGraph
      .unionByName(edges(qside(bb), cside(db)))  // base gains delta cands
      .unionByName(edges(qside(db), cside(bb.unionByName(db))))
    val merged = TopKOps.topKPerGroup(incr, Seq(col("qid")),
      Seq(col("cos").desc, col("cid").asc), 3)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("cid"),
        col("cos"))
    val rebuild = TopKOps.topKPerGroup(
      edges(qside(bb.unionByName(db)), cside(bb.unionByName(db))),
      Seq(col("qid")), Seq(col("cos").desc, col("cid").asc), 3)
      .select(col("qid"), col("cid").as("rcid"))
    merged.as("m")
      .join(rebuild.as("r"), col("m.qid") === col("r.qid") &&
        col("m.cid") === col("r.rcid"), "left")
      .select(col("m.qid").as("qid"), col("m.rnk").as("rnk"),
        col("m.cid").as("cid"), col("m.cos").as("cos"),
        when(col("m.qid") % 5 === 4 || col("m.cid") % 5 === 4, lit(1L))
          .otherwise(lit(0L)).as("new_edge"),
        when(col("r.rcid").isNotNull, lit(1L)).otherwise(lit(0L))
          .as("in_rebuild"))
      .orderBy(col("qid"), col("rnk"), col("cid"))
  }

  private val q250Sql = {
    val planeCols = (0 until KEY_PLANES)
      .map(j => s"${VectorOps.planeSql(j, DIM)} AS __pl$j")
      .mkString(", ")
    s"""WITH $vecsCte,
       planes AS (SELECT $planeCols),
       kk AS (SELECT $scaledKSql AS k FROM n WHERE vec_id % 5 <> 4),
       bucketed AS (SELECT vec_id, v, nrm,
           ${VectorOps.lshBucketSql("v", DIM, KEY_PLANES)}
             % (CAST(1 AS BIGINT) << k) AS cell,
           vec_id % 5 = 4 AS is_delta
         FROM n CROSS JOIN planes CROSS JOIN kk),
       bb AS (SELECT * FROM bucketed WHERE NOT is_delta),
       db AS (SELECT * FROM bucketed WHERE is_delta),
       bedges AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
           round(${VectorOps.dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6)
             AS cos
         FROM bb a JOIN bb b
           ON b.cell = a.cell AND b.vec_id <> a.vec_id),
       bgraph AS (SELECT qid, cid, cos FROM (
           SELECT qid, cid, cos, RANK() OVER (PARTITION BY qid
             ORDER BY cos DESC, cid ASC) AS rnk FROM bedges)
         WHERE rnk <= 3),
       incr AS (
         SELECT qid, cid, cos FROM bgraph
         UNION ALL
         SELECT a.vec_id, b.vec_id,
           round(${VectorOps.dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6)
         FROM bb a JOIN db b ON b.cell = a.cell
         UNION ALL
         SELECT a.vec_id, b.vec_id,
           round(${VectorOps.dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6)
         FROM db a JOIN bucketed b
           ON b.cell = a.cell AND b.vec_id <> a.vec_id),
       merged AS (SELECT qid, CAST(rnk AS BIGINT) AS rnk, cid, cos FROM (
           SELECT qid, cid, cos, RANK() OVER (PARTITION BY qid
             ORDER BY cos DESC, cid ASC) AS rnk FROM incr)
         WHERE rnk <= 3),
       rebuild AS (SELECT qid, cid AS rcid FROM (
           SELECT a.vec_id AS qid, b.vec_id AS cid,
             RANK() OVER (PARTITION BY a.vec_id ORDER BY
               round(${VectorOps.dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6)
                 DESC, b.vec_id ASC) AS rnk
           FROM bucketed a JOIN bucketed b
             ON b.cell = a.cell AND b.vec_id <> a.vec_id)
         WHERE rnk <= 3)
       SELECT m.qid, m.rnk, m.cid, m.cos,
         CASE WHEN m.qid % 5 = 4 OR m.cid % 5 = 4
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
           AS new_edge,
         CASE WHEN r.rcid IS NOT NULL
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
           AS in_rebuild
       FROM merged m LEFT JOIN rebuild r
         ON r.qid = m.qid AND r.rcid = m.cid
       ORDER BY m.qid, m.rnk, m.cid"""
  }

  // ---- IMI (inverted multi-index) shared machinery ---------------
  // The count-scaled coarse quantizer (q256) and everything composed
  // on top of it (q253 IVFPQ, q255 residual IVFPQ, ServeOps' point
  // serving, the AnnBench curve) share ONE quantizer
  // derivation so the trained artifacts are addressed by a single
  // canonical plan and the DuckDB mirrors replay a single CTE chain.

  /** Probe-rule divisor for the IMI serving family: probe 1/16 of the
    * composite cells (floor 2) — [[IndexStore.scaledProbes]]. At the
    * shipped SFs (16 cells) the floor keeps nprobe = 2, bit-identical
    * to the historical behavior; past ~32k vectors the probed SHARE
    * of the key space is pinned so recall stops falling with n.
    * Operating point picked from the measured recall-vs-nprobe curve
    * (RECALL_CURVE_r10.json): at the synthetic-sf1 point the flat
    * family's recall@5 is 0.27/0.37/0.52 at nprobe 8/16/32 against a
    * 0.34 sf0.1 baseline — divisor 16 is the knee that restores the
    * sf0.1 recall at HALF the fixed-16-cell index's per-query scan
    * (1258 vs 2493 candidates), while divisor 32 would leave recall
    * 20% below the baseline to save half the scan again.
    */
  private[graft] val IMI_PROBE_DIVISOR = 16

  /** Probe-count floor of the IMI probe rule — keeps the shipped-SF
    * regime (16 cells) at the historical nprobe=2.
    */
  private[graft] val IMI_PROBE_FLOOR = 2

  /** k1 — centroids per 32-dim half — of the count-scaled IMI
    * quantizer: 2^⌈b/2⌉ with b = [[IndexStore.scaledBitsRow]] at
    * divisor 128, floor 4 (composite cells = k1² ≈ n/128). 1-row
    * driver edge: a trainer resolves its k before launching Lloyd.
    */
  private[graft] def imiK1(s: SparkSession, d: String): Int = {
    val b = IndexStore.scaledBitsRow(emb(s, d), 128, 4, "b")
      .head().getInt(0)
    1 << ((b + 1) / 2)
  }

  /** The √n (SUBLINEAR-scan) IMI geometry knobs — see
    * [[IndexStore.sqrtCellK1]]/[[IndexStore.scanBudget]]. The k1
    * floor keeps the smallest shipped corpus (500 vectors) at a sane
    * 25-cell operating point; scan mult 4 (budget T = max(64,
    * 4·⌊√n⌋)) is the measured marginal-recall knee of the
    * clustered-arm curve at every swept SF (RECALL_CURVE_r11 +
    * ProbeLab r12: past ~4√n scanned each further cell buys < 0.05
    * recall — the own-cluster mass is usually covered by then).
    */
  private[graft] val SQRT_K1_FLOOR = 4
  private[graft] val SQRT_SCAN_MULT = 4
  private[graft] val SQRT_SCAN_FLOOR = 64

  /** Lloyd rounds for the √n family's half-space codebooks (round 12;
    * the share-pinned family keeps its historical 2 — zero output
    * churn there). Measured on the planted-cluster sf1 companion
    * (ProbeLab sweep, 20k vectors, k1=14): at an EQUAL ~480-candidate
    * scan, 2 rounds route to 0.67 recall@5, 4 rounds to 0.76 — the
    * router, not the probe budget, was the binding error, and extra
    * training is one-time build cost (n·k1·d per round) instead of
    * per-query scan cost. faiss trains IVF coarse quantizers with
    * niter=25 by default; 4 exact integer rounds is the same lever at
    * oracle-replayable cost (each round is one more unrolled CTE
    * block in the mirror).
    */
  private[graft] val SQRT_ROUNDS = 4

  /** (k1, scan budget) of the √n-cell IMI family — both derived from
    * ONE COUNT(*) (1-row driver edge): cells = k1² ∈ [√n, 2.9√n) via
    * the exact integer 4th root ([[IndexStore.sqrtCellK1]]), and the
    * per-query SCAN BUDGET T = max(64, 4·⌊√n⌋)
    * ([[IndexStore.scanBudget]]) that replaced round 11's fixed
    * nprobe: the router probes ranked cells until their cumulative
    * membership reaches T, so the scanned mass is pinned to 4√n at
    * every n (exactly √10 per decade) and the probe count grows
    * automatically as cells refine — the recall-targeted behavior the
    * floor-pinned nprobe lacked (clustered recall slid 0.94 → 0.67
    * across 100× under it, RECALL_r11). Valid where the corpus has
    * cluster structure to route into (the clustered arm validates it
    * against the q259 random-routing control).
    */
  private[graft] def imiSqrtGeom(s: SparkSession, d: String)
      : (Int, Long) = {
    val n = emb(s, d).count()
    val bits = math.max(1,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1)))
    (IndexStore.sqrtCellK1(bits.toInt, SQRT_K1_FLOOR),
      IndexStore.scanBudget(n, SQRT_SCAN_MULT, SQRT_SCAN_FLOOR))
  }

  /** COUNT-SCALED PQ code budget (round 11): centroids per subspace
    * k_pq = 2^b with b = [[IndexStore.scaledBitsRow]] at divisor 512,
    * clamped to [4, 8] bits — the one serving-stack resolution that
    * was still fixed while keys and probes count-scaled. 16 centroids
    * (4 bits/sub) is exactly the distortion floor behind the measured
    * 0.08 recall plateau of the composed IVFPQ arms
    * (RECALL_CURVE_r10: imi_pq ≤ 0.13 at ANY nprobe): past ~4 probes
    * the binding error is quantization, which no probe count buys
    * back, so the budget must grow with the corpus like every other
    * resolution. The rule keeps the shipped SFs (≤2000 vectors) at
    * the historical 16 (zero output churn), mints 64 centroids at the
    * synthetic-sf1 point, and lands on 256 (8-bit sub-codes — the
    * faiss production default) at ~131k vectors and beyond. Training
    * stays n·k_pq·DIM per Lloyd round (one `mapPartitions` + collect
    * against a driver-held codebook, [[VectorOps.pqQuantize]]);
    * the ADC table grows to nprobe·m·k_pq entries — still KBs.
    * 1-row driver edge, mirrored from COUNT(*) in the oracles
    * ([[pqKSqlCte]]).
    *
    * Measured effect (r11, sf1 uniform, nprobe=16): recall@5
    * 0.08 → 0.15 at k_pq=64, and SATURATED there — 128 and 256
    * centroids both measure 0.11 (noise-equivalent), because past
    * ~6 bits/sub the binding error is no longer codebook resolution
    * but the distance MARGINS between the 5th and 6th neighbor,
    * which 8 sub-code sums cannot resolve at any k. That remaining
    * gap is structural to ADC and is exactly what the q257
    * exact-refine stage recovers (0.32 uniform / 0.59+ clustered) —
    * so the rule stops at the measured saturation band instead of
    * burning train/serve cost on budget that buys nothing.
    */
  private[graft] val PQ_K_DIVISOR = 512
  private[graft] val PQ_BITS_LO = 4
  private[graft] val PQ_BITS_HI = 8

  private[graft] def pqK(s: SparkSession, d: String): Int =
    1 << IndexStore.scaledBitsRow(emb(s, d), PQ_K_DIVISOR, PQ_BITS_LO,
      "b", hi = PQ_BITS_HI).head().getInt(0)

  /** The `kpq` CTE every count-scaled-PQ oracle prepends: the DuckDB
    * twin of [[pqK]] over the mirrored COUNT(*).
    */
  private val pqKSqlCte =
    s"""kpq AS (SELECT (1 << ${IndexStore
         .scaledBitsSql(PQ_K_DIVISOR, PQ_BITS_LO, PQ_BITS_HI)}) AS kpq
       FROM embeddings)"""

  /** The trained IMI quantizer over the lifted e6 frame `x`:
    * (half-space codebook (sub ∈ {0,1}, c, j, v), composite-cell
    * membership (vec_id, cell = c_hi·k1 + c_lo)). Both halves train
    * from ONE k1-centroid Lloyd chain over the two-subspace frame —
    * machinery and oracle chain identical to q241's PQ.
    */
  private def imiQuantizer(x: DataFrame, k1: Int, rounds: Int = 2,
      trainNOverride: Long = -1L): (DataFrame, DataFrame) = {
    val xs2 = VectorOps.pqSubspaces(x, subDim = 32)
    (IndexStore.codebook(xs2, k = k1, rounds = rounds,
      trainNOverride = trainNOverride),
      IndexStore.compositeCells(xs2, k1, rounds, trainNOverride))
  }

  /** The bounded queries' (qid, cell) route under `probe` as one local
    * leaf: [[ServeOps]] routes the query vectors (vec_id < 20) of the
    * (vec_id, v, n2) frame `arrs` on the driver against the collected
    * half-space codebook `cent` — the router point serving uses. The
    * trained-IMI reports pass their pinned [[e6Arrays]], so the
    * collect reads the cached rows.
    */
  private def routeLeaf(arrs: DataFrame, cent: DataFrame, k1: Int,
      probe: ServeOps.Probe): DataFrame =
    ServeOps.routeFrame(arrs.sparkSession, ServeOps.imi(cent, k1, probe),
      ServeOps.queryVectors(arrs, 20))

  /** Releases the [[CacheScope]]; kept for the benchmark harness
    * (`perfbench/`), whose between-pass reset calls it.
    *
    * The report chains pin ([[CacheScope.pin]]) every relation they
    * reference more than once. Round-13 measurement (stage profile,
    * warm q260): every multiply-referenced frame in the serving tail —
    * the route, the ADC candidates, the ground-truth arrays — was
    * re-derived per AQE stage reference (the same 1.18 MB lifted-frame
    * scan appeared 14× in one query, 46× cold), because Spark only
    * reuses *exchanges*, not arbitrary subtrees. At 100 TB re-deriving
    * a routed scan per consumer is strictly worse than pinning a
    * bounded frame (these are all ≤ corpus-row-count, most are
    * queries×probes).
    */
  def release(): Unit = CacheScope.release()

  /** The lifted e6 frame, pinned — shared entry for the
    * trained-quantizer family (vec_id-partitioned by [[VectorOps
    * .liftE6]] itself, so training, membership and ground truth all
    * run at full parallelism and groupBy(vec_id) consumers reuse the
    * partitioning).
    */
  private def liftedX(s: SparkSession, d: String): DataFrame =
    CacheScope.pin(VectorOps.liftE6(emb(s, d), "vec_id", "embedding"))

  /** Reassembled double arrays + squared norms off the lifted frame —
    * the exact-ground-truth projection every trained-IVF report scans
    * (several times per report: query vectors, candidate members,
    * exact top-5 — pinned, see [[release]]).
    */
  private def e6Arrays(x: DataFrame): DataFrame =
    CacheScope.pin(IndexStore.vectorRows(x))

  /** The grading blocks every ANN recall report shares. The exact
    * side is one full scan of the bounded queries; the served side is
    * whatever the index scanned; both rank by (score, cid asc) — L2
    * reports by (dist asc, cid asc) ([[ServeOps.groundTruthL2]]),
    * inner-product and cosine reports by their score descending.
    *
    * n_hits per qid: |served top-5 ∩ exact top-5|, over two ranked
    * top-5 frames ([[ServeOps.top5]]).
    */
  private def hits(exactTop: DataFrame, servedTop: DataFrame): DataFrame =
    exactTop.select(col("qid"), col("cid"))
      .join(servedTop.select(col("qid"), col("cid").as("served_cid")),
        Seq("qid"))
      .groupBy(col("qid"))
      .agg(sum(when(col("cid") === col("served_cid"), lit(1L))
        .otherwise(lit(0L))).as("n_hits"))

  /** SQL twin of [[hits]]: `hits` (qid, n_hits) over the top-5 CTEs
    * `exactTop` and `servedTop` (qid, cid).
    */
  private def hitsSql(exactTop: String, servedTop: String): String =
    s"""hits AS (SELECT e.qid,
           CAST(SUM(CASE WHEN e.cid = s.cid THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hits
         FROM $exactTop e JOIN $servedTop s ON s.qid = e.qid GROUP BY 1)"""

  /** The (qid, n_scanned, n_hits) serving report: the served candidates
    * (`scored`: qid, cid, score) ranked by (`order`, cid asc) and graded
    * against `exactTop`; n_scanned counts the rows of `cost` (the
    * candidates themselves unless a shortlist re-ranks them) per qid.
    */
  private def ivfServingReport(scored: DataFrame, exactTop: DataFrame,
      order: org.apache.spark.sql.Column = col("dist").asc,
      cost: Option[DataFrame] = None): DataFrame = {
    val nScanned = cost.getOrElse(scored).groupBy(col("qid"))
      .agg(count(lit(1)).as("n_scanned"))
    hits(exactTop, ServeOps.top5(scored, order))
      .join(nScanned, Seq("qid"))
      .select(col("qid"), col("n_scanned"), col("n_hits"))
      .orderBy(col("qid"))
  }

  /** SQL twin of [[ivfServingReport]], graded against the caller's
    * exact top-5 CTE `et` (for L2, [[ServeOps.groundTruthL2Sql]]): the
    * CTE `served` ranked by (`order`, cid), n_scanned counted over
    * `cost` (default `served`), then the report's SELECT.
    */
  private def servingReportSql(served: String, order: String = "dist",
      cost: String = ""): String =
    s"""nsc AS (SELECT qid, COUNT(*) AS n_scanned
               FROM ${if (cost.isEmpty) served else cost} GROUP BY 1),
       ${ServeOps.top5Sql("it", served, order)},
       ${hitsSql("et", "it")}
       SELECT h.qid, n.n_scanned, h.n_hits
       FROM hits h JOIN nsc n ON n.qid = h.qid ORDER BY h.qid"""

  /** e6 inner-product scores (qid, cid, score) of the query rows `qs`
    * against every other (vec_id, v) row of `cands`.
    */
  private def ipScored(qs: DataFrame, cands: DataFrame): DataFrame =
    qs.join(cands.select(col("vec_id").as("cid"), col("v").as("cv")),
        col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        VectorOps.dot(col("qv"), col("cv")).cast("long").as("score"))

  /** SQL twin of [[ipScored]]: the CTE `name` (qid, cid, score) of the
    * query rows `qs` (qid, qv) against every other row of `cands`
    * (vec_id, v).
    */
  private def ipScoredSql(name: String, cands: String): String =
    s"""$name AS (SELECT q.qid, c.vec_id AS cid,
           CAST(${VectorOps.dotSql("q.qv", "c.v")} AS BIGINT) AS score
         FROM qs q JOIN $cands c ON c.vec_id <> q.qid)"""

  /** The routed-cell scan: route (qid, cell) ⋈ the query rows of `arrs`
    * ⋈ `members` (cid, cell, cv, cn2) on the cell key, each query's own
    * row excluded, scored by exact integer L2 → (qid, cid, dist).
    */
  private def cellScan(route: DataFrame, arrs: DataFrame,
      members: DataFrame): DataFrame =
    route.join(ServeOps.queryRows(arrs, 20), Seq("qid"))
      .join(members, Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        VectorOps.l2E6(col("qv"), col("qn2"), col("cv"), col("cn2"))
          .as("dist"))

  /** The bounded queries' subvectors (qid, sub, j, qx) of a
    * (vec_id, sub, j, x) subspace frame.
    */
  private def querySubs(xs: DataFrame): DataFrame =
    xs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("sub"), col("j"),
        col("x").as("qx"))

  /** The per-query ADC distance table: Σ(qx−v)² of each query
    * subvector (qid, [cell,] sub, j, qx) against every centroid of the
    * (sub, c, j, v) codebook `book`, per (qid, [cell,] sub, c). The
    * residual path keys it by the probed cell too, since the query's
    * residual differs per cell.
    */
  private def adcTable(qx: DataFrame, book: DataFrame): DataFrame = {
    val keys = qx.columns.filterNot(Set("sub", "j", "qx")) ++ Seq("sub", "c")
    qx.join(broadcast(book), Seq("sub", "j"))
      .groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(sum((col("qx") - col("v")) * (col("qx") - col("v"))).as("dd"))
  }

  /** SQL twin of [[adcTable]] without a cell key: the CTE `name`
    * (qid, sub, c, dd) of the bounded queries' rows of subspace CTE
    * `xs` against codebook CTE `book`.
    */
  private def adcTableSql(name: String, xs: String, book: String): String =
    s"""$name AS (SELECT vec_id AS qid, sub, c, dd FROM (
         ${VectorOps.subDistSql(xs, book, "WHERE q.vec_id < 20")}))"""

  /** ADC scores (qid, cid, dist) of the routed cells' members: each
    * member's codes (vec_id, sub, c) looked up in `tab` ([[adcTable]])
    * on its key columns and summed.
    */
  private def routedAdc(route: DataFrame, cells: DataFrame,
      codes: DataFrame, tab: DataFrame): DataFrame =
    route.join(cells, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("cell"), col("vec_id").as("cid"))
      .join(codes.withColumnRenamed("vec_id", "cid"), Seq("cid"))
      .join(broadcast(tab), tab.columns.filterNot(_ == "dd").toSeq)
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("dd")).as("dist"))

  /** q251: TRAINED-quantizer IVF serving — closes the one gap between
    * this pack's IVF family (q37/q85/q238/q243-q245 route on LABEL
    * cells, a partition the data happens to ship) and a real index:
    * the coarse quantizer here is TRAINED — k=16 full-space centroids
    * from 2 integer-exact Lloyd rounds ([[VectorOps.pqQuantize]] with
    * one subspace = plain k-means; hash-rank seeding, argmin
    * tie-breaks, shift-floor means — every step the q241 oracle
    * already replays). Queries route to their nprobe=2 nearest
    * trained centroids by exact integer L2 and scan only those
    * cells' members; report = n_scanned (the cost) and n_hits vs the
    * exact full-scan top-5 (the recall). This is faiss IndexIVFFlat
    * end to end: train → assign → route → scan → rank, every stage
    * DuckDB-replayed with the Lloyd rounds unrolled as CTEs. Scale
    * shape: each Lloyd round is one `mapPartitions` + collect against
    * a driver-held codebook; membership is one argmin per vector;
    * serving joins on the trained cell id — candidate-driven, never
    * queries×corpus.
    * Reference analogue: hw4's cosine top-1 (hw4/hw4.py:102-117)
    * behind a trained router.
    *
    * q251 DELIBERATELY keeps the fixed k=16 / nprobe=2 geometry: it
    * is the pack's fixed-index BASELINE arm — its scan fraction is a
    * constant 1/8 of the corpus, so its recall stays flat (~0.3-0.44
    * at every SF) while its per-query cost grows linearly with n
    * (RECALL_r{N}: n_scanned 63 → 2492 across the 1000× span). The
    * count-scaled IMI family (q256/q253/q255/q257) is measured
    * AGAINST this contrast; scaling q251's own nprobe on fixed cells
    * would only raise its cost without changing the trade it exists
    * to document.
    */
  private def q251TrainedIvf(s: SparkSession, d: String): DataFrame =
    trainedIvfReport(s, d, k = 16)

  /** The q251/q256 trained-IVF serving report, parameterized by the
    * coarse quantizer's cell count: train (or read back) the k-cell
    * codebook + membership, route queries to nprobe=2 trained cells,
    * exact integer-L2 inside those cells only, report n_scanned +
    * n_hits vs the full-scan top-5.
    */
  private def trainedIvfReport(s: SparkSession, d: String,
      k: Int): DataFrame = {
    val x = liftedX(s, d)
    val xs = VectorOps.pqSubspaces(x, subDim = DIM) // one subspace
    // the trained coarse quantizer and its membership table are
    // standing artifacts ([[IndexStore]]): Lloyd runs once per corpus
    // snapshot, every serving query after that routes off a file scan
    val cent = IndexStore.codebook(xs, k = k, rounds = 2)
    val cells = IndexStore.codes(xs, k = k, rounds = 2)
      .select(col("vec_id"), col("c").as("cell"))
    val route = TopKOps.topKPerGroup(adcTable(querySubs(xs), cent),
      Seq(col("qid")), Seq(col("dd").asc, col("c").asc), 2)
      .select(col("qid"), col("c").as("cell"))
    flatReport(route, cells, e6Arrays(x))
  }

  private val q251Sql = flatReportSql(
    s"""${VectorOps.liftE6Sql},
       ${VectorOps.pqSubspacesSql("xs", DIM)},
       ${VectorOps.seedRankSql},
       ${VectorOps.pqQuantizeSql("xs", "16", IndexStore.trainNSql("16"),
         rounds = 2)},
       cells AS (SELECT vec_id, c AS cell FROM codes),
       ${adcTableSql("qtab", "xs", "c2")},
       route AS (SELECT qid, c AS cell FROM (
           SELECT qid, c, RANK() OVER (PARTITION BY qid ORDER BY dd, c) AS rn
           FROM qtab) WHERE rn <= 2)""")

  /** q256: COUNT-SCALED coarse quantizer as an INVERTED MULTI-INDEX
    * (product cell space; Babenko & Lempitsky, CVPR'12) — closing the
    * serving layer's own instance of the fixed-resolution hazard the
    * round-9 key-space work retired everywhere else. With q251's
    * k=16 cells fixed, per-query scan cost is n·nprobe/16 — LINEAR
    * in the corpus (measured n_scanned 64 → 2493 across the 1000×
    * span). Scaling a SINGLE-level quantizer's k with the corpus is
    * the quadratic trap on the other side: Lloyd assignment is
    * n·k·dims, so k ∝ n makes TRAINING n²·dims/128 — measured 81× on
    * the 10× sf1 step before this shape. The multi-index squares a
    * cheap quantizer instead: the vector splits into TWO 32-dim
    * halves, ONE k1-centroid codebook is trained over the half-space
    * frame ([[VectorOps.pqQuantize]] with m=2 — machinery and oracle
    * chain identical to q241's PQ), and the serving cell is the
    * PRODUCT (c_hi·k1 + c_lo) — k1² cells for n·k1·dims train/encode
    * cost. k1 = 2^⌈b/2⌉ with b = [[IndexStore.scaledBitsRow]] at
    * divisor 128 (1-row driver edge — a trainer resolves its k before
    * launching Lloyd; the mirror derives the same k1 from COUNT(*)):
    * cells ≈ n/128 FOREVER at √-scaled training cost. At the shipped
    * SFs k1 = 4 ⇒ 16 composite cells (the same cell COUNT q251
    * trains); at synthetic sf1, k1 = 16 ⇒ 256 cells — the probe scans
    * ~1258 candidates instead of q251's 2493, at q251-like build
    * cost and with recall RESTORED to the sf0.1 baseline (0.37 vs
    * 0.34 — RECALL_CURVE_r10).
    * Routing scores each half against k1 centroids and ranks the k1²
    * composite sums (tie-break on cell id) — both engines rank the
    * identical integer sums. nprobe is COUNT-SCALED by the shared
    * probe rule ([[IndexStore.scaledProbes]]: max(2, cells/16),
    * mirrored from COUNT(*) in the oracle) — the round-9 version held
    * nprobe=2 while cells grew with n, so the scanned fraction and
    * recall fell toward zero (RECALL_r09 sf1: 0.06, one decade after
    * 0.34); with the probed share pinned at 1/16 past the floor,
    * recall is a property of the quantizer again, not of the corpus
    * size, and the trade is TRACKED in `RECALL_r{N}.json` +
    * `RECALL_CURVE_r{N}.json`.
    */
  private def q256ScaledIvf(s: SparkSession, d: String): DataFrame = {
    val k1 = imiK1(s, d)
    imiIvfReportAt(s, d, k1,
      IndexStore.scaledProbes(k1 * k1, IMI_PROBE_DIVISOR, 2))
  }

  /** The q256 serving report at an explicit (k1, nprobe) — the
    * AnnBench curve calls this directly to measure the
    * recall-vs-nprobe operating curve the shipped rule is picked
    * from.
    */
  private[graft] def imiIvfReportAt(s: SparkSession, d: String,
      k1: Int, nprobe: Int): DataFrame =
    imiIvfReportAtR(s, d, k1, nprobe, rounds = 2)

  /** [[imiIvfReportAt]] with an explicit Lloyd-round count — the
    * router-quality axis the round-12 probe-rule experiments sweep.
    */
  private[graft] def imiIvfReportAtR(s: SparkSession, d: String,
      k1: Int, nprobe: Int, rounds: Int): DataFrame = {
    val x = liftedX(s, d)
    val (cent, cells) = imiQuantizer(x, k1, rounds)
    val arrs = e6Arrays(x)
    flatReport(routeLeaf(arrs, cent, k1, ServeOps.NProbe(nprobe)),
      cells, arrs)
  }

  /** [[imiIvfReportAtR]] with the scan-BUDGET route — q258's shape
    * since round 12.
    */
  private[graft] def imiIvfReportBudget(s: SparkSession, d: String,
      k1: Int, budget: Long, rounds: Int,
      trainNOverride: Long = -1L): DataFrame = {
    val x = liftedX(s, d)
    // pinned: membership feeds the budget route's occupancy sizes AND
    // the member scan (see [[release]])
    val (cent, cellsRaw) = imiQuantizer(x, k1, rounds, trainNOverride)
    val cells = CacheScope.pin(cellsRaw)
    val arrs = e6Arrays(x)
    val route = routeLeaf(arrs, cent, k1,
      ServeOps.ScanBudget(budget, ServeOps.sizes(cells, "cell")))
    flatReport(route, cells, arrs)
  }

  /** Exact-L2 scan of the routed cells' members + the serving report
    * — the flat tail shared by q251's trained cells and the IMI
    * fixed-count and budget routes. `arrs` ([[e6Arrays]]) feeds the
    * query vectors, the member scan and the exact top-5.
    */
  private def flatReport(route: DataFrame, cells: DataFrame,
      arrs: DataFrame): DataFrame = {
    val members = cells.join(arrs, Seq("vec_id"))
      .select(col("vec_id").as("cid"), col("cell"), col("v").as("cv"),
        col("n2").as("cn2"))
    // pinned: the report ranks it AND counts it (see [[release]])
    ivfServingReport(CacheScope.pin(cellScan(route, arrs, members)),
      ServeOps.groundTruthL2(arrs, 20))
  }

  /** SQL twin of [[flatReport]] over `ctes`, which must define the
    * lifted `x`, `cells` (vec_id, cell) and `route` (qid, cell): exact
    * L2 over the routed cells' members, graded against the exact L2
    * top-5.
    */
  private def flatReportSql(ctes: String): String =
    s"""WITH $ctes,
       scanned AS (SELECT r.qid, m.vec_id AS cid,
             SUM((q.x - m2.x)*(q.x - m2.x)) AS dist
           FROM route r JOIN cells m ON m.cell = r.cell
           JOIN x q ON q.vec_id = r.qid
           JOIN x m2 ON m2.vec_id = m.vec_id AND m2.dim = q.dim
           WHERE m.vec_id <> r.qid
           GROUP BY 1, 2),
       ${ServeOps.groundTruthL2Sql(20)},
       ${servingReportSql("scanned")}"""

  /** Shared DuckDB CTE chain builder for the IMI family: the
    * geometry CTEs (`kkCtes` must define kk(k1); `geomCte` defines
    * the probe-side budget — np(nprobe) for the share-pinned family,
    * bgt(budget) for the √n family — both mirrored from COUNT(*)),
    * the lifted e6 frame, the two-half subspace frame, the k1-centroid
    * quantizer chain over `rounds` unrolled rounds (ic$rounds = trained
    * half codebook, icodes = every vector's half codes), trained on
    * `trainCut` rows of the shared `seedrank` ordering, the
    * composite-cell membership, the per-query half-distance table
    * `hdd`, and the caller-supplied `routeCte` (must emit route(qid,
    * cell)). The PQ chains cut their own count-scaled seeds from the
    * same `seedrank`. Two instances: [[imiCtes]] (share-pinned
    * geometry, rank route, 2 rounds — q256/q253/q255/q257) and
    * [[imiSqrtCtes]] (√n geometry, scan-budget route, [[SQRT_ROUNDS]]
    * rounds — q258/q260).
    */
  private def imiCtesWith(kkCtes: String, geomCte: String,
      routeCte: String, rounds: Int,
      trainCut: String = IndexStore.trainNSql("SELECT k1 FROM kk"))
      : String =
    s"""$kkCtes,
       $geomCte,
       ${VectorOps.liftE6Sql},
       ${VectorOps.pqSubspacesSql("xs2", 32)},
       ${VectorOps.seedRankSql},
       ${VectorOps.pqQuantizeSql("xs2", "SELECT k1 FROM kk", trainCut,
         rounds, p = "i")},
       cells AS (SELECT vec_id,
           MAX(CASE WHEN sub = 0 THEN c END) * (SELECT k1 FROM kk) +
           MAX(CASE WHEN sub = 1 THEN c END) AS cell
         FROM icodes GROUP BY 1),
       ${adcTableSql("hdd", "xs2", s"ic$rounds")},
       $routeCte"""

  /** The share-pinned instance: k1 from the ÷128 key rule, nprobe
    * from the shared probe rule at [[IMI_PROBE_DIVISOR]] (the
    * constants interpolated from the SAME vals the Spark side reads,
    * so engine and oracle can never desynchronize on a divisor edit),
    * top-nprobe rank route, historical 2 Lloyd rounds.
    */
  private val imiCtes = imiCtesWith(
    s"""kk AS (SELECT (CAST(1 AS BIGINT) <<
           ((${IndexStore.scaledBitsSql(128, 4)} + 1) // 2))
           AS k1 FROM embeddings)""",
    s"""np AS (SELECT ${IndexStore.scaledProbesSql("k1 * k1",
           IMI_PROBE_DIVISOR, IMI_PROBE_FLOOR)} AS nprobe FROM kk)""",
    """route AS (SELECT qid, cell FROM (
           SELECT a.qid,
             a.c * (SELECT k1 FROM kk) + b.c AS cell,
             RANK() OVER (PARTITION BY a.qid
               ORDER BY a.dd + b.dd,
                 a.c * (SELECT k1 FROM kk) + b.c) AS rn
           FROM hdd a JOIN hdd b ON b.qid = a.qid
           WHERE a.sub = 0 AND b.sub = 1)
         WHERE rn <= (SELECT nprobe FROM np))""",
    rounds = 2)

  /** The √n instance (q258/q260): k1 from the mirrored integer 4th
    * root ([[IndexStore.sqrtCellK1Sql]]), the probe side a SCAN
    * BUDGET ([[IndexStore.scanBudgetSql]] — the twin of the Spark
    * side's [[imiSqrtGeom]]) consumed by a cumulative-occupancy
    * prefix route over the multi-sequence order, and the trained
    * half codebooks at [[SQRT_ROUNDS]] unrolled Lloyd rounds.
    */
  private val sqrtKkCtes =
    s"""bb AS (SELECT ${IndexStore.bitLenSql} AS bits FROM embeddings),
       kk AS (SELECT CAST(${IndexStore
           .sqrtCellK1Sql("bits", SQRT_K1_FLOOR)} AS BIGINT)
           AS k1 FROM bb)"""

  private val sqrtGeomCte =
    s"""bgt AS (SELECT ${IndexStore.scanBudgetSql(
           "SELECT COUNT(*) FROM embeddings",
           SQRT_SCAN_MULT, SQRT_SCAN_FLOOR)} AS budget)"""

  private val sqrtRouteCte =
    s"""comp AS (SELECT a.qid,
             a.c * (SELECT k1 FROM kk) + b.c AS cell,
             a.dd + b.dd AS dd
           FROM hdd a JOIN hdd b ON b.qid = a.qid
           WHERE a.sub = 0 AND b.sub = 1),
       ${ServeOps.scanBudgetSql("comp", "w.dd, w.cell")}"""

  private val imiSqrtCtes = imiCtesWith(sqrtKkCtes, sqrtGeomCte,
    sqrtRouteCte, rounds = SQRT_ROUNDS)

  private val q256Sql = flatReportSql(imiCtes)

  /** q258: √n-CELL IMI serving — the SUBLINEAR-scan operating point
    * (round 11). q256 pins the probed SHARE of the key space at
    * 1/16, which holds recall on structureless vectors but makes
    * per-query scan Θ(n/16) — linear (SERVE_r10 n_scanned 63 → 1259
    * across the 1000× span). Real embedding corpora cluster, and on
    * clustered data recall comes from ROUTING INTO the structure,
    * not from scanned share — the standard IVF sizing for that
    * regime is cells ≈ √n with a bounded per-query scan at the knee.
    * Here: k1 = [[IndexStore.sqrtCellK1]] (composite cells = k1² ∈
    * [√n, 2.9√n)), and since round 12 the probe side is a SCAN
    * BUDGET ([[IndexStore.scanBudget]]: T = max(64, 4·⌊√n⌋), the
    * measured clustered-arm knee): the router probes cells in
    * multi-sequence order until their cumulative membership reaches
    * T — BOTH rules from one COUNT(*), mirrored in the oracle, so
    * per-query scan is pinned to ~4√n (exactly √10 per decade; the
    * round-11 fixed nprobe=4 both let recall slide with scale —
    * 0.94 → 0.67 across 100× as 4 probes covered a shrinking share
    * of the refining cell space — and inherited the ±2.9× cell-count
    * jitter of the integer 4th root into the scan trend). The
    * half-space codebooks train [[SQRT_ROUNDS]] = 4 Lloyd rounds
    * (measured: +0.09 recall at equal scan vs 2 rounds at the sf1
    * point — router quality bought at one-time build cost).
    * Machinery otherwise identical to q256 (one trained half-space
    * Lloyd chain, multi-sequence ranking, exact integer L2 in the
    * probed cells); only the geometry derivation differs. The recall
    * claim is made PER CORPUS ARM: on the planted-cluster arm the
    * trained router must beat the q259 random-partition control at
    * equal n_scanned (the AnnBench recall gate checks it); on the
    * isotropic arm this sizing honestly reports recall ≈ scanned
    * share — the documented floor no quantizer can beat there — and
    * q256 remains the shipped fallback for structureless corpora.
    */
  private def q258ImiSqrt(s: SparkSession, d: String): DataFrame = {
    val (k1, budget) = imiSqrtGeom(s, d)
    imiIvfReportBudget(s, d, k1, budget, SQRT_ROUNDS)
  }

  private val q258Sql = flatReportSql(imiSqrtCtes)

  /** q261: SAMPLED-training √n IMI serving (round 13) — q258's exact
    * machinery (√n composite cells, scan-budget route, SQRT_ROUNDS
    * Lloyd rounds) with ONE axis changed: the half-space codebooks
    * train on a deterministic hash-rank SAMPLE instead of the full
    * corpus — the faiss `max_points_per_centroid` recipe that makes
    * quantizer training corpus-size-independent
    * ([[IndexStore.trainN]]; the measured motivation is the sf10
    * probe: full-corpus Lloyd at the count-scaled budgets is a
    * ~3.3 B-row assignment join, > 65 min at just 200k vectors —
    * O(n^1.5) total with k ≈ √n, the pipeline's one remaining 100 TB
    * blocker). The production families adopt the same rule at its
    * shipped constants (max(100k, 256·k) — a deliberate no-op below
    * 100k vectors, so no committed artifact moves); THIS query pins
    * the rule where it BITES at every gate SF: trainN = max(64,
    * ⌊n/4⌋), so even the 500-vector corpus trains on a quarter of its
    * rows and the driver's hash gate proves the sampled chain's
    * DuckDB twin (the `tsam`/`xst` cut over the shared seedrank
    * ordering) value-for-value — the same one-axis-differs
    * relationship q256→q258 and q257→q260 use. Sample determinism:
    * the cut is a rank predicate over the SAME md5 "pqseed:"
    * ordering the seeds already use, so seeds ⊂ sample by
    * construction in both engines.
    */
  private def q261ImiSqrtSampled(s: SparkSession,
      d: String): DataFrame = {
    val (k1, budget) = imiSqrtGeom(s, d)
    val tN = math.max(64L, emb(s, d).count() / 4)
    imiIvfReportBudget(s, d, k1, budget, SQRT_ROUNDS,
      trainNOverride = tN)
  }

  private val q261Sql = flatReportSql(imiCtesWith(sqrtKkCtes, sqrtGeomCte,
    sqrtRouteCte, rounds = SQRT_ROUNDS,
    trainCut = "GREATEST(64, (SELECT COUNT(*) FROM embeddings) // 4)"))

  /** q259: RANDOM-PARTITION ROUTING CONTROL at q258's exact geometry
    * — the falsifier that makes the √n family's "structure is
    * exploited" claim measurable (without it, a recall number can't
    * distinguish a trained quantizer from any partition of the same
    * occupancy): members land in cell = md5-hash(vec_id) mod k1²
    * (uniform, data-blind) and each query probes consecutive hash
    * cells from its own id's seed until the SAME scan budget is
    * reached — identical cell count, identical expected occupancy,
    * identical scanned mass, but ZERO use of vector geometry. Expected
    * recall is exactly the scanned share on ANY corpus; q258 must
    * beat it wherever structure exists (the clustered-arm recall
    * gate), and matching it is the proof a corpus is structureless.
    * Both engines derive the same hash cells (the house md5-prefix64),
    * so the control is hash-gated like any other query.
    */
  private def q259RandomRoute(s: SparkSession, d: String): DataFrame = {
    val (k1, budget) = imiSqrtGeom(s, d)
    val cells = (k1 * k1).toLong
    val x = liftedX(s, d)
    val n = x.select(col("vec_id")).distinct().count()
    // walk-length cap (round 13): the control's probe walk no longer
    // explodes all k1² cells per query (quadratic-in-k1 routing work
    // at the 1024 clamp) — it stops at 64·(1 + ⌊budget·cells/n⌋)
    // consecutive hash cells, a ≥ 64× margin over the expected number
    // needed to reach the budget under the hash-uniform placement.
    // MIRRORED in the oracle (identical integer arithmetic), so the
    // two engines agree even in the astronomically unlikely tail
    // where the cap undercuts the budget. No-op at every committed
    // gate SF (cap ≥ cells there).
    val walkCap = math.min(cells, 64L * (1L + budget * cells / n))
    val arrs = e6Arrays(x)
    def cellOf(tag: String, id: org.apache.spark.sql.Column) =
      pmod(graft.ops.TextOps.tokenHash(
        concat(lit(tag + ":"), id.cast("string"))), lit(cells))
    val members = arrs.select(col("vec_id").as("cid"),
      cellOf("ctrlcell", col("vec_id")).as("cell"),
      col("v").as("cv"), col("n2").as("cn2"))
    // budget-matched control (round 12, tracking q258's probe rule):
    // consecutive hash cells from the query's own hash seed until
    // their cumulative membership reaches the SAME scan budget —
    // identical cell count, identical expected occupancy, identical
    // scanned mass, zero use of vector geometry
    val sizes = members.groupBy(col("cell")).agg(count(lit(1)).as("sz"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("i").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val route = arrs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"),
        explode(sequence(lit(0L), lit(walkCap - 1L))).as("i"))
      .select(col("qid"), col("i"),
        pmod(cellOf("ctrlprobe", col("qid")) + col("i"), lit(cells))
          .as("cell"))
      .join(sizes, Seq("cell"), "left")
      .withColumn("sz", coalesce(col("sz"), lit(0L)))
      .withColumn("cum", sum(col("sz")).over(w))
      .filter(col("cum") - col("sz") < budget)
      .select(col("qid"), col("cell"))
    // pinned: the report ranks it AND counts it (see [[release]])
    ivfServingReport(CacheScope.pin(cellScan(route, arrs, members)),
      ServeOps.groundTruthL2(arrs, 20))
  }

  private val q259Sql = {
    def cellOf(tag: String, id: String) =
      s"""(${graft.ops.TextOps.tokenHashSql(s"'$tag:' || $id")} %
         (SELECT k1 * k1 FROM kk))"""
    flatReportSql(s"""$sqrtKkCtes,
       $sqrtGeomCte,
       ${VectorOps.liftE6Sql},
       cells AS (SELECT vec_id, ${cellOf("ctrlcell", "vec_id")} AS cell
         FROM (SELECT DISTINCT vec_id FROM x)),
       walk AS (SELECT q.vec_id AS qid, i.i,
           (${cellOf("ctrlprobe", "q.vec_id")} + i.i)
             % (SELECT k1 * k1 FROM kk) AS cell
         FROM (SELECT DISTINCT vec_id FROM x) q
         CROSS JOIN (SELECT unnest(range(0,
           LEAST((SELECT k1 * k1 FROM kk),
             64 * (1 + ((SELECT budget FROM bgt) *
               (SELECT k1 * k1 FROM kk))
               // (SELECT COUNT(*) FROM embeddings))))) AS i) i
         WHERE q.vec_id < 20),
       ${ServeOps.scanBudgetSql("walk", "w.i")}""")
  }

  /** q253: composed IndexIVFPQ serving — the production shape faiss
    * ships as its default large-scale index, assembled from two
    * independently-audited trained halves: the COUNT-SCALED IMI
    * coarse quantizer (q256's composite cells — the round-9 version
    * hung off the fixed 16-cell index, whose per-probe scan grew
    * linearly with the corpus: 64 → 2493 candidates across a 1000×
    * span) ROUTES each query to its nprobe nearest composite cells
    * (nprobe from the shared probe rule, [[IndexStore.scaledProbes]]),
    * and q241's m=8 PQ codebook ADC-SCORES only those cells' members —
    * each candidate's distance is 8 table lookups summed, no
    * raw-vector arithmetic per candidate at all. Report per query:
    * n_scanned (the cost claim — occupancy·nprobe ≈ n/16, bounded
    * share of the key space) and n_hits vs the exact integer-L2
    * full-scan top-5 (the recall claim — compounding BOTH
    * approximations: routing misses and PQ distortion). Every table
    * is a standing [[IndexStore]] artifact: half-space codebook,
    * composite membership, PQ codebook, PQ codes — train once, serve
    * many. Determinism: hash-rank seeding, argmin tie-breaks,
    * shift-floor means, integer sums end to end, so the DuckDB oracle
    * replays BOTH Lloyd chains (half-space and per-subspace) as
    * unrolled CTEs and then route→encode→table→lookup→rank
    * value-for-value. Scale shape: codebooks broadcast (k·m·subDim
    * rows); routing is 2·k1 centroid scores + a k1² rank per query;
    * the ADC join is cells⋈codes⋈table on equi keys —
    * candidate-driven, never queries×corpus×dims; the one full scan
    * is the deliberate ground-truth pass that defines recall.
    * Reference analogue: hw4's brute-force cosine top-1
    * (hw4/hw4.py:102-117) in the memory-bounded routed+compressed
    * form a 10 B-vector store actually serves.
    */
  private def q253IvfPqServing(s: SparkSession, d: String): DataFrame = {
    val k1 = imiK1(s, d)
    imiPqReportAt(s, d, k1,
      IndexStore.scaledProbes(k1 * k1, IMI_PROBE_DIVISOR, 2))
  }

  /** The q253 serving report at an explicit (k1, nprobe) — also the
    * AnnBench curve's IVFPQ family.
    */
  private[graft] def imiPqReportAt(s: SparkSession, d: String,
      k1: Int, nprobe: Int): DataFrame = {
    val x = liftedX(s, d)
    // the four standing index artifacts (all IndexStore-persisted);
    // the PQ code budget is COUNT-SCALED ([[pqK]]: 16 at the shipped
    // SFs, 64 at synthetic sf1, 256 past ~131k vectors)
    val kq = pqK(s, d)
    val (cent, cells) = imiQuantizer(x, k1)
    val xsp = VectorOps.pqSubspaces(x, subDim = 8) // PQ frame
    val pqCent = IndexStore.codebook(xsp, k = kq, rounds = 2)
    val pqCodes = IndexStore.codes(xsp, k = kq, rounds = 2)
    val arrs = e6Arrays(x)
    val route = routeLeaf(arrs, cent, k1, ServeOps.NProbe(nprobe))
    // candidates = members of the probed cells only; ADC = m lookups
    // in the per-query table over the PQ codebook (q241's rule)
    val adc = routedAdc(route, cells, pqCodes,
      adcTable(querySubs(xsp), pqCent))
    // pinned: the report ranks it AND counts it (see [[release]])
    ivfServingReport(CacheScope.pin(adc), ServeOps.groundTruthL2(arrs, 20))
  }

  /** The count-scaled m=8 PQ quantizer chain of the q253/q255/q257
    * oracles over subspace CTE `$xp` (raw subspaces for q253, residual
    * subspaces for q255/q257), emitting `${p}c2` (trained codebook) and
    * `${p}codes`; its k_pq is the `kpq` CTE ([[pqKSqlCte]], the twin of
    * [[pqK]]).
    */
  private def pqChainSql(xp: String, p: String): String =
    VectorOps.pqQuantizeSql(xp, "SELECT kpq FROM kpq",
      IndexStore.trainNSql("SELECT kpq FROM kpq"), rounds = 2, p = p)

  private val q253Sql =
    s"""WITH $imiCtes,
       $pqKSqlCte,
       ${VectorOps.pqSubspacesSql("xp", 8)},
       ${pqChainSql("xp", "p")},
       ${adcTableSql("tab", "xp", "pc2")},
       cand AS (SELECT r.qid, m.vec_id AS cid
             FROM route r JOIN cells m ON m.cell = r.cell
             WHERE m.vec_id <> r.qid),
       adc AS (SELECT cd.qid, cd.cid, SUM(t.dd) AS dist
             FROM cand cd JOIN pcodes k ON k.vec_id = cd.cid
             JOIN tab t ON t.qid = cd.qid AND t.sub = k.sub
               AND t.c = k.c
             GROUP BY 1, 2),
       ${ServeOps.groundTruthL2Sql(20)},
       ${servingReportSql("adc")}"""

  /** q255: RESIDUAL-encoded IndexIVFPQ — the refinement that makes
    * q253 faiss's actual default (`by_residual=true`): PQ is trained
    * and applied on RESIDUALS x − centroid(cell(x)) instead of raw
    * vectors, because within a cell the residuals occupy a much
    * smaller box than the raw corpus, so the same 16-centroid budget
    * quantizes far finer exactly where the search happens. The ADC
    * consequence is structural: the query's residual DIFFERS PER
    * PROBED CELL, so the distance table is keyed (query, cell, sub,
    * centroid) and each candidate's 8 lookups resolve through its own
    * cell's table — the per-probe table faiss builds per inverted
    * list. Same report as q253 (n_scanned identical by construction —
    * same count-scaled IMI route, same composite cells; n_hits
    * measures what residual encoding buys). Residual safety: e6
    * unit-vector components and their cell means are each in
    * [−10⁶, 10⁶], so residuals are ≥ −2·10⁶ and the shift-floor mean
    * update in [[VectorOps.pqQuantize]] keeps its
    * non-negative-numerator contract unchanged. Every table
    * (half-space codebook, composite cells, residual codebook,
    * residual codes) is a standing [[IndexStore]] artifact; the
    * oracle unrolls BOTH Lloyd chains — the IMI half-space one over
    * raw vectors and the PQ one over the DERIVED residual frame —
    * and replays route→residualize→table→lookup→rank
    * value-for-value. Scale shape identical to q253 plus one
    * broadcast centroid join to form residuals.
    */
  /** The residual PQ subspace frame q255 trains and encodes on —
    * every vector minus ITS OWN composite cell's centroid (= the
    * concatenation of its two trained half-space centroids — the IMI
    * makes the residual a per-HALF subtraction, no k1²-row centroid
    * table ever materializes), split into m=8 subspaces. ONE
    * construction path (also used by [[prebuildIndexArtifacts]] and
    * AnnBench's timed serve builds) so the residual codebook/code
    * artifacts are addressed by a single canonical plan.
    */
  private[graft] def imiResidualSubspaces(s: SparkSession, d: String,
      k1: Int, rounds: Int = 2): DataFrame = {
    val x = VectorOps.liftE6(emb(s, d), "vec_id", "embedding")
    val xs2 = VectorOps.pqSubspaces(x, subDim = 32)
    val halfCodes = IndexStore.codes(xs2, k = k1, rounds = rounds)
    val cent = IndexStore.codebook(xs2, k = k1, rounds = rounds)
    val rx = x
      .withColumn("sub", expr("dim div 32"))
      .withColumn("j", col("dim") % 32)
      .join(halfCodes, Seq("vec_id", "sub"))
      .join(broadcast(cent.withColumnRenamed("v", "cv")),
        Seq("sub", "c", "j"))
      .select(col("vec_id"), col("dim"), (col("x") - col("cv")).as("x"))
    VectorOps.pqSubspaces(rx, subDim = 8)
  }

  private def q255IvfPqResidual(s: SparkSession, d: String): DataFrame = {
    val k1 = imiK1(s, d)
    imiResidualReportAt(s, d, k1,
      IndexStore.scaledProbes(k1 * k1, IMI_PROBE_DIVISOR, 2))
  }

  /** The q255 serving report at an explicit (k1, nprobe) — also the
    * AnnBench curve's residual-IVFPQ family.
    */
  private[graft] def imiResidualReportAt(s: SparkSession, d: String,
      k1: Int, nprobe: Int): DataFrame = {
    val (adc, arrs) = imiResidualAdc(s, d, k1, nprobe)
    ivfServingReport(adc, ServeOps.groundTruthL2(arrs, 20))
  }

  /** The residual-ADC candidate frame (qid, cid, ADC dist) plus the
    * ground-truth arrays — q255 ranks it directly; q257 re-ranks its
    * shortlist exactly.
    */
  private def imiResidualAdc(s: SparkSession, d: String,
      k1: Int, nprobe: Int): (DataFrame, DataFrame) =
    imiResidualAdcWith(s, d, k1, rounds = 2, _ => ServeOps.NProbe(nprobe))

  /** [[imiResidualAdc]] generalized over the coarse geometry: Lloyd
    * `rounds` for the half-space quantizer and the route's probe rule
    * given the cell membership (fixed-count for the share-pinned
    * family, scan-budget for the √n family — q260).
    */
  private def imiResidualAdcWith(s: SparkSession, d: String, k1: Int,
      rounds: Int, probeOf: DataFrame => ServeOps.Probe)
      : (DataFrame, DataFrame) = {
    val x = liftedX(s, d)
    val kq = pqK(s, d) // count-scaled PQ code budget
    val (cent, cellsRaw) = imiQuantizer(x, k1, rounds)
    // pinned: membership feeds the route's occupancy sizes AND the
    // candidate join (see [[release]] — each reference re-derived the
    // whole trained chain before round 13)
    val cells = CacheScope.pin(cellsRaw)
    val rxs = imiResidualSubspaces(s, d, k1, rounds)
    val rCent = IndexStore.codebook(rxs, k = kq, rounds = 2)
    val rCodes = IndexStore.codes(rxs, k = kq, rounds = 2)
    val arrs = e6Arrays(x)
    val route = routeLeaf(arrs, cent, k1, probeOf(cells))
    // per-(query, probed cell) residual → per-cell ADC table: the
    // probed composite cell decomposes into its two half codes
    // (cell div k1, cell mod k1), each resolving its own half-space
    // centroid component
    val qr = x.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("dim"), col("x").as("qx"))
      .join(route, Seq("qid"))
      .withColumn("hsub", expr("dim div 32"))
      .withColumn("hj", col("dim") % 32)
      .withColumn("hc", when(col("hsub") === 0,
        expr(s"cell div $k1")).otherwise(col("cell") % k1))
      .join(broadcast(cent.select(col("sub").as("hsub"),
        col("c").as("hc"), col("j").as("hj"), col("v").as("cv"))),
        Seq("hsub", "hc", "hj"))
      .select(col("qid"), col("cell"), expr("dim div 8").as("sub"),
        (col("dim") % 8).as("j"), (col("qx") - col("cv")).as("qx"))
    val adc = routedAdc(route, cells, rCodes, adcTable(qr, rCent))
    // pinned: q255 ranks it AND counts it; q257/q260 shortlist it AND
    // count it (queries × scanned rows — bounded)
    (CacheScope.pin(adc), arrs)
  }

  /** Exact-refine shortlist size for q257: the top-R ADC candidates
    * re-ranked with true distances — faiss IndexRefineFlat's
    * k_factor·k reranking budget (R is a per-query constant: the
    * refine cost is R raw-vector reads regardless of corpus size).
    */
  private val REFINE_R = 32

  /** q257: IVFPQ + exact REFINE — the production recipe for the PQ
    * recall ceiling (faiss `IndexRefineFlat`): the measured curve
    * (RECALL_CURVE_r10) shows q253/q255's recall PLATEAUS at ~0.08
    * as nprobe grows — past ~4 probes the binding error is PQ
    * DISTORTION (8 sub-codes × 16 centroids for 64 dims), which no
    * probe count can buy back. The fix every deployment ships: rank
    * candidates by cheap ADC, then re-rank only the top-R=32 with
    * EXACT distances (R raw-vector reads per query — corpus-size-
    * independent), recovering the flat family's recall at ADC scan
    * cost plus a constant. Same report shape; n_scanned stays the
    * ADC candidate count (the probe cost — the refine adds R exact
    * scores on top, a constant documented here, not a scan). The
    * oracle replays ADC → shortlist → exact re-rank value-for-value.
    */
  private def q257IvfPqRefine(s: SparkSession, d: String): DataFrame = {
    val k1 = imiK1(s, d)
    imiRefineReportAt(s, d, k1,
      IndexStore.scaledProbes(k1 * k1, IMI_PROBE_DIVISOR, 2))
  }

  /** The q257 serving report at an explicit (k1, nprobe) — also the
    * AnnBench curve's refined-IVFPQ family.
    */
  private[graft] def imiRefineReportAt(s: SparkSession, d: String,
      k1: Int, nprobe: Int): DataFrame =
    refineReport(imiResidualAdc(s, d, k1, nprobe))

  /** ADC shortlist → exact top-R re-rank → serving report: the refine
    * tail shared by q257 (share-pinned route) and q260 (scan-budget
    * route on the √n cells).
    */
  private def refineReport(adcArrs: (DataFrame, DataFrame)): DataFrame = {
    val (adc, arrs) = adcArrs
    val shortlist = TopKOps.topKPerGroup(adc, Seq(col("qid")),
      Seq(col("dist").asc, col("cid").asc), REFINE_R)
      .select(col("qid"), col("cid"))
    // BOUNDED-GATHER refine (round 14, closing the r12/r13 verdict
    // item): the shortlist is ≤ 20 queries × R rows BY CONSTRUCTION
    // (a per-query top-R over the pinned adc frame), so its candidate
    // ids are collected — a bounded, documented driver edge, exactly
    // the shortlist a serving client holds — and pushed into the ONE
    // member-array scan as an In filter. The round-13 shape broadcast
    // the shortlist but still HASH-JOINED it against a full scan of
    // the array table; now the scan itself reads only shortlisted
    // rows (row-group/batch stats prune what they can, the predicate
    // drops the rest before any join machinery), and the (qid, cid)
    // attach plus the ≤ 20 query vectors stay broadcast.
    val cids = shortlist.select(col("cid")).distinct().collect()
      .map(_.getLong(0)).sorted
    val refined = broadcast(shortlist)
      .join(arrs.filter(col("vec_id").isin(cids: _*))
        .select(col("vec_id").as("cid"), col("v").as("cv"),
          col("n2").as("cn2")), Seq("cid"))
      .join(broadcast(ServeOps.queryRows(arrs, 20)), Seq("qid"))
      .select(col("qid"), col("cid"),
        VectorOps.l2E6(col("qv"), col("qn2"), col("cv"), col("cn2"))
          .as("dist"))
    ivfServingReport(refined, ServeOps.groundTruthL2(arrs, 20),
      cost = Some(adc))
  }

  /** The residual-PQ CTE block shared by every residual/refine oracle
    * at ANY coarse geometry: residualize against the chain's trained
    * half-space centroids (`ic2`/`icodes` from [[imiCtesWith]]), train
    * the count-scaled residual PQ chain, build the per-(query, probed
    * cell) ADC tables and score the probed cells' members — emits
    * `radc` (qid, cid, ADC dist).
    */
  private def residualAdcCtes(icN: String) =
    s"""rx AS (SELECT x.vec_id, x.dim, x.x - cv.v AS x
              FROM x JOIN icodes hc ON hc.vec_id = x.vec_id
                AND hc.sub = x.dim // 32
              JOIN $icN cv ON cv.sub = hc.sub AND cv.c = hc.c
                AND cv.j = x.dim % 32),
       ${VectorOps.pqSubspacesSql("rxs", 8, src = "rx")},
       ${pqChainSql("rxs", "r")},
       qr AS (SELECT q.vec_id AS qid, r.cell,
                q.dim // 8 AS sub, q.dim % 8 AS j, q.x - cv.v AS qx
              FROM x q JOIN route r ON r.qid = q.vec_id
              JOIN $icN cv ON cv.sub = q.dim // 32
                AND cv.c = CASE WHEN q.dim // 32 = 0
                  THEN r.cell // (SELECT k1 FROM kk)
                  ELSE r.cell % (SELECT k1 FROM kk) END
                AND cv.j = q.dim % 32
              WHERE q.vec_id < 20),
       rtab AS (SELECT qr.qid, qr.cell, qr.sub, c.c,
                SUM((qr.qx - c.v)*(qr.qx - c.v)) AS dd
              FROM qr JOIN rc2 c ON c.sub = qr.sub AND c.j = qr.j
              GROUP BY 1, 2, 3, 4),
       cand AS (SELECT r.qid, r.cell, m.vec_id AS cid
              FROM route r JOIN cells m ON m.cell = r.cell
              WHERE m.vec_id <> r.qid),
       radc AS (SELECT cd.qid, cd.cid, SUM(t.dd) AS dist
              FROM cand cd JOIN rcodes k ON k.vec_id = cd.cid
              JOIN rtab t ON t.qid = cd.qid AND t.cell = cd.cell
                AND t.sub = k.sub AND t.c = k.c
              GROUP BY 1, 2)"""

  /** The residual-IVFPQ + exact-refine oracle at a given geometry-CTE
    * chain — q257 (share-pinned) and q260 (√n) differ ONLY in how
    * kk/np are derived, exactly like q256/q258.
    */
  private def imiRefineSql(ctes: String, icN: String): String =
    s"""WITH $ctes,
       $pqKSqlCte,
       ${residualAdcCtes(icN)},
       short AS (SELECT qid, cid FROM (
           SELECT qid, cid, RANK() OVER (PARTITION BY qid
             ORDER BY dist, cid) AS rn FROM radc)
         WHERE rn <= $REFINE_R),
       refined AS (SELECT s.qid, s.cid,
               SUM((q.x - c.x)*(q.x - c.x)) AS dist
             FROM short s JOIN x q ON q.vec_id = s.qid
             JOIN x c ON c.vec_id = s.cid AND c.dim = q.dim
             GROUP BY 1, 2),
       ${ServeOps.groundTruthL2Sql(20)},
       ${servingReportSql("refined", cost = "radc")}"""

  private val q257Sql = imiRefineSql(imiCtes, "ic2")

  /** q260: the PRODUCTION serving stack COMPOSED — residual IVFPQ +
    * exact refine (q257's machinery) over the √n-cell geometry
    * (q258's [[imiSqrtGeom]]: cells ≈ √n, scan budget 4√n) instead of
    * the share-pinned cells. Round 11 shipped both halves separately
    * and measured the gap that leaves (SERVE_r11 sf1-clustered: the
    * refine family scanned 1364.75 candidates at p50 556 ms over the
    * share-pinned route where ivf_sqrt scanned 483.5 at 71 ms for
    * comparable recall); this query is the multiplication — faiss's
    * actual large-scale recipe is IVFPQ(by_residual) + IndexRefineFlat
    * over √n-sized inverted lists, i.e. compressed Θ(√n·log n) scan +
    * constant-R exact re-rank, sublinear end to end. Machinery is
    * identical to q257 (residuals against the trained half-space
    * centroids, count-scaled k_pq codebook, per-(query, cell) ADC
    * tables, top-R exact refine); ONLY the kk/np geometry derivation
    * differs — exactly the q256 → q258 relationship, so the oracle is
    * [[imiRefineSql]] over [[imiSqrtCtes]]. Same recall caveat as
    * every √n-family member: the sublinear sizing presumes cluster
    * structure to route into (gated on the clustered arm vs the q259
    * control); on isotropic corpora the share-pinned q257 remains the
    * documented fallback.
    */
  private def q260IvfPqSqrtRefine(s: SparkSession, d: String): DataFrame = {
    val (k1, budget) = imiSqrtGeom(s, d)
    refineReport(imiResidualAdcWith(s, d, k1, rounds = SQRT_ROUNDS,
      cells => ServeOps.ScanBudget(budget, ServeOps.sizes(cells, "cell"))))
  }

  private val q260Sql = imiRefineSql(imiSqrtCtes, s"ic$SQRT_ROUNDS")

  private val q255Sql =
    s"""WITH $imiCtes,
       $pqKSqlCte,
       ${residualAdcCtes("ic2")},
       ${ServeOps.groundTruthL2Sql(20)},
       ${servingReportSql("radc")}"""

  override val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q261_imi_sqrt_sampled" -> q261ImiSqrtSampled,
    "q260_ivfpq_sqrt_refine" -> q260IvfPqSqrtRefine,
    "q259_random_route" -> q259RandomRoute,
    "q258_imi_sqrt" -> q258ImiSqrt,
    "q257_ivfpq_refine" -> q257IvfPqRefine,
    "q255_ivfpq_residual" -> q255IvfPqResidual,
    "q253_ivfpq_serving" -> q253IvfPqServing,
    "q251_trained_ivf" -> q251TrainedIvf,
    "q256_scaled_ivf" -> q256ScaledIvf,
    "q250_knn_incremental" -> q250KnnIncremental,
    "q249_index_health" -> q249IndexHealth,
    "q248_multiprobe_lsh" -> q248MultiprobeLsh,
    "q247_knn_graph" -> q247KnnGraph,
    "q245_filtered_ann" -> q245FilteredAnn,
    "q244_index_compaction" -> q244IndexCompaction,
    "q243_stream_ann_delta" -> q243StreamAnnDelta,
    "q241_pq_adc_recall" -> q241PqAdcRecall,
    "q227_sq8_adc_recall" -> q227Sq8AdcRecall,
    "q238_ivf_sq8_serving" -> q238IvfSq8Serving,
    "q226_scalar_quantization" -> q226ScalarQuantization,
    "q200_kcenter_coreset" -> q200KcenterCoreset,
    "q201_coreset_cells" -> q201CoresetCells,
    "q32_cosine_topk" -> q32CosineTopk,
    "q191_centroid_outliers" -> q191CentroidOutliers,
    "q129_mmr_rerank" -> q129MmrRerank,
    "q33_embedding_neardup" -> q33EmbeddingNeardup,
    "q112_semantic_dedup" -> q112SemanticDedup,
    "q208_semantic_incremental" -> q208SemanticIncremental,
    "q209_semantic_best_of_cluster" -> q209SemanticBestOfCluster,
    "q34_lsh_ann" -> q34LshAnn,
    "q38_ann_recall" -> q38AnnRecall,
    "q78_ann_recall_summary" -> q78AnnRecallSummary,
    "q35_knn_classify" -> q35KnnClassify,
    "q36_label_centroids" -> q36LabelCentroids,
    "q37_ivf_ann" -> q37IvfAnn,
    "q85_ivf_nprobe" -> q85IvfNprobe)

  /** Force every CTE of an IMI-family oracle MATERIALIZED: DuckDB 1.0
    * inlines CTEs aggressively, and the q255/q257 chains — two
    * unrolled Lloyd trainings whose stages are each referenced by
    * assignment, routing, residualization AND the report tail —
    * explode combinatorially when re-derived per reference (measured:
    * the un-hinted q255 mirror at the 20k-vector sf1 point spilled
    * >70 GB of DuckDB temp and died; materialized it completes in
    * 25 s). Same results, evaluation order pinned. Safe here because
    * none of these oracles uses a `WINDOW w AS (...)` clause (the one
    * other `name AS (` SQL form).
    */
  private def materialized(sql: String): String = {
    // enforce the documented precondition instead of silently
    // corrupting a future `WINDOW w AS (...)` clause (the one other
    // `name AS (` SQL form) into invalid SQL far from the cause
    require(!sql.contains("WINDOW"),
      "materialized() rewrites every `name AS (` — a WINDOW clause " +
        "would be corrupted; restructure the oracle or extend the " +
        "rewrite before adding one to the IMI family")
    sql.replaceAll("""(\w+) AS \(""", "$1 AS MATERIALIZED (")
  }

  override val oracle: Map[String, String] = Map(
    "q261_imi_sqrt_sampled" -> materialized(q261Sql),
    "q260_ivfpq_sqrt_refine" -> materialized(q260Sql),
    "q259_random_route" -> materialized(q259Sql),
    "q258_imi_sqrt" -> materialized(q258Sql),
    "q257_ivfpq_refine" -> materialized(q257Sql),
    "q255_ivfpq_residual" -> materialized(q255Sql),
    "q253_ivfpq_serving" -> materialized(q253Sql),
    "q251_trained_ivf" -> q251Sql,
    "q256_scaled_ivf" -> materialized(q256Sql),
    "q250_knn_incremental" -> q250Sql,
    "q249_index_health" -> q249Sql,
    "q248_multiprobe_lsh" -> q248Sql,
    "q247_knn_graph" -> q247Sql,
    "q245_filtered_ann" -> materialized(q245Sql),
    "q244_index_compaction" -> q244Sql,
    "q243_stream_ann_delta" -> q243Sql,
    "q241_pq_adc_recall" -> q241Sql,
    "q227_sq8_adc_recall" -> q227Sql,
    "q238_ivf_sq8_serving" -> q238Sql,
    "q226_scalar_quantization" -> q226Sql,
    "q200_kcenter_coreset" -> q200Sql,
    "q201_coreset_cells" -> q201Sql,
    "q191_centroid_outliers" -> q191Sql,
    "q129_mmr_rerank" -> q129Sql,
    "q37_ivf_ann" -> q37Sql,
    "q85_ivf_nprobe" -> q85Sql,
    "q32_cosine_topk" -> q32Sql,
    "q33_embedding_neardup" -> q33Sql,
    "q112_semantic_dedup" -> q112Sql,
    "q208_semantic_incremental" -> q208Sql,
    "q209_semantic_best_of_cluster" -> q209Sql,
    "q34_lsh_ann" -> q34Sql,
    "q38_ann_recall" -> q38Sql,
    "q78_ann_recall_summary" -> q78Sql,
    "q35_knn_classify" -> q35Sql,
    "q36_label_centroids" -> q36Sql)
}
