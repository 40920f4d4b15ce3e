package graft

import graft.core.GraftSession
import graft.ops.{IndexStore, VectorOps}
import graft.queries.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-query serving-latency harness: the claim a vector store makes
  * is milliseconds-per-query against a STANDING index, not seconds per
  * batch job. With the ANN index family persisted through
  * [[graft.ops.IndexStore]], this measures all three serving paths a
  * deployment actually runs, per scale factor:
  *
  *   - `ivf_flat` — route to the nprobe nearest COMPOSITE cells of the
  *     count-scaled IMI quantizer (q256's index: k1² ≈ n/128 cells
  *     from two trained half-space codebooks), exact integer-L2 over
  *     ONLY those cells' members. The member table is PARTITIONED BY
  *     composite cell, so the probe is a partition-pruned scan of
  *     nprobe directories whose occupancy is BOUNDED at any corpus
  *     size — the round-9 version served a fixed 16-cell index whose
  *     per-probe scan grew linearly with n (n_scanned 64 → 2493
  *     across the 1000× span).
  *   - `ivfpq_refine` — the production recipe (faiss IndexRefineFlat,
  *     the q257 shape): the route's ADC scan feeds a top-32 shortlist
  *     whose ids are then exactly re-ranked by ONE join-free gather
  *     over the member table (cell-pruned scan + In filter on the 32
  *     ids — round 14), recovering the flat family's recall at
  *     ADC-dominated cost. This is the family that answers the PQ
  *     distortion plateau the recall curve exposes. (The ADC-ONLY
  *     family — q253/q255's shape — was demoted in round 14 per the
  *     r12/r13 verdicts: RECALL pins it at 0.15-0.22 clustered recall
  *     vs the refined stack's 0.44 at equal-or-less scan, so it is a
  *     calibration/contrast arm, not a serving recipe. Its queries
  *     and oracle gates remain; this harness no longer times it, and
  *     the standing residual-PQ index build it shared now reports
  *     under ivfpq_refine.)
  *   - `lsh_multiprobe` — the query's own count-scaled sign bucket
  *     (the 16-plane ceiling key masked to r) plus its max(2, r−6)
  *     lowest-margin bit flips against the standing LSH bucket table
  *     (Lv et al. multi-probe, the q248 shape), cosine-ranked.
  *   - `ivf_sqrt` (round 11; budget-routed since round 12) — the
  *     SUBLINEAR operating point (q258's geometry): k1 = exact
  *     integer 4th root of 2^bits (composite cells ≈ √n), probe side
  *     a SCAN BUDGET T = max(64, 4·⌊√n⌋) consumed in multi-sequence
  *     order — per-query scan pinned to ~4√n (exactly √10 per 10×
  *     step) with the probe count emergent. Its recall claim is made
  *     per corpus ARM: real on the planted-cluster companions (where
  *     the trained router must beat the q259 random-partition control
  *     — RecallBench gates it), honest noise-floor on the isotropic
  *     arm.
  *   - `ivfpq_refine_sqrt` (round 12, q260's shape) — the COMPOSED
  *     production stack: budget route over √n cells → pruned ADC over
  *     residual-PQ inverted lists built per √n cell → exact top-32
  *     refine. The faiss IVFPQ+RefineFlat recipe at sublinear scan.
  *
  * Round 14: dirs listed in `SPARK_GRAFT_SERVE_SQRT_ONLY_SFS`
  * (default: the sf10-clustered decade) time ONLY the two √n families
  * at base repeats — the r13 run showed the full 6-family timed block
  * at 200k rows alone exceeds 70 min, and the share-pinned families'
  * scaling is already pinned by the sf0.001→sf1 span (constant scan
  * share by construction). The √n families are the ones whose deepest-
  * decade behavior is the open question; they get the budget.
  *
  * Since round 11 the sweep carries a CORPUS dimension (`uniform` —
  * the driver's isotropic embeddings; `clustered` — the planted
  * mixture-of-Gaussians companions), and the PQ code budget is
  * count-scaled ([[graft.queries.Similarity.pqK]]: 16 at shipped SFs,
  * 64 at the synthetic sf1 point).
  *
  * nprobe is COUNT-SCALED by the shared probe rule
  * ([[IndexStore.scaledProbes]]: max(2, cells/16) — the same rule the
  * batch queries ship), so the probed SHARE of the key space is
  * pinned and recall stops falling with the corpus; the measured
  * recall/cost trade per nprobe is in `RECALL_CURVE_r{N}.json`.
  *
  * Serving discipline: the trained codebooks (2·k1×32 half-space,
  * 8×16×8 residual — a few KB) and the 21 query vectors are collected
  * to the driver ONCE per SF (bounded, documented API edges: a serving
  * client holds its own query vector, and a store keeps its
  * quantizers resident), so each point query ROUTES driver-side and
  * issues exactly ONE Spark job over the probed partitions/buckets.
  * Per family we report build_sec (the one-time batch cost a
  * deployment schedules), min/p50/max wall-clock per query (min-of-N
  * repeats per query, over qids 0-19; qid 20 is the untimed codegen
  * warm-up so no timed query double-serves as the warm-up), mean
  * n_scanned (candidates actually read — the cost claim) and
  * recall@5 against the exact ground truth under the family's own
  * metric (integer L2 for the IVF paths, cosine for LSH — the recall
  * claim, computed in one untimed batch pass per SF). p50 over the 20
  * sorted mins is the MEAN OF THE TWO MIDDLE order statistics (9th
  * and 10th, 0-based). The numbers that should stay FLAT as the
  * corpus grows are p50 and the per-DIRECTORY occupancy behind each
  * probe; n_scanned = occupancy · nprobe ≈ n/16 once past the
  * rule's floor — the bounded-share scan the recall floor costs.
  * One JSON line to stdout (also written to the output file).
  * Caveat: with `spark.graft.artifactDir` pinned to a cache that
  * already holds this corpus's committed index, build_sec measures
  * the (cheap) artifact readback, not training.
  */
object ServeBench {
  private val DIM = 64
  /** The standing lshBuckets CEILING width (q248's format since round
    * 10); serving masks the key to the count-scaled r ∈ [8, 16].
    */
  private val KEY_PLANES = 16
  private val QIDS = 0L until 20L
  private val WARM_QID = 20L

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Hyperplane component k of plane j — the driver-side twin of
    * [[VectorOps.plane]] (identical integer arithmetic).
    */
  private def planeComp(j: Int, k: Int): Double = {
    val (aj, bj) = (2 * j + 3, 7 * j + 1)
    (java.lang.Math.floorMod((k + 1) * aj + bj, 97) - 48).toDouble / 48.0
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("SERVE_LOCAL.json")
    val sfDirs = sys.env.getOrElse("SPARK_GRAFT_SERVE_SFS",
      "/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // the planted-cluster corpus arm (round 11): the regime where the
    // √n-cell family's sublinear n_scanned trend and its recall are
    // both REAL claims (on the isotropic arm recall ≈ scanned share
    // for any router — the documented noise floor)
    val clusteredDirs = sys.env.getOrElse("SPARK_GRAFT_SERVE_CLUSTERED_SFS",
      "/root/repo/testdata-sf0.01-clustered," +
        "/root/repo/testdata-sf0.1-clustered," +
        "/root/repo/testdata-sf1-clustered," +
        "/root/repo/testdata-sf10-clustered")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // √n-ONLY dirs (round 14, the r13 budget finding): at sf10 the
    // full 6-family timed block alone exceeded 70 min, so the deepest
    // decade serves ONLY the families whose sf10 behavior is the open
    // question — the scan-budget √n router and the composed
    // √n+refine stack — at base repeats. Every share-pinned family's
    // scaling is already pinned by the sf0.001→sf1 span (their scan
    // share is constant by construction); re-timing them at 200k rows
    // answers nothing new and costs the wall-clock budget.
    val sqrtOnlyDirs = sys.env.getOrElse("SPARK_GRAFT_SERVE_SQRT_ONLY_SFS",
      "/root/repo/testdata-sf10-clustered")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val repeats = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt)
    val spark = GraftSession.local("graft-servebench")
    spark.range(1000000L).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()

    def f(d: Double) = f"$d%.3f"

    /** Time serve() per qid (min over repeats, after one untimed
      * WARM_QID call), return (min, p50, max, recall@5, meanScanned).
      */
    def family(serve: Long => Array[Long], truth: Map[Long, Seq[Long]],
        scanned: Long => Long, reps: Int = repeats)
        : (Double, Double, Double, Double, Double) = {
      serve(WARM_QID) // codegen/exchange warm-up OUTSIDE the timed set
      val perQid = QIDS.map { qid =>
        val lat = (1 to reps).map { _ =>
          val t = System.nanoTime()
          val got = serve(qid)
          val ms = (System.nanoTime() - t) / 1e6
          require(got.nonEmpty, s"empty serve result for qid $qid")
          (ms, got)
        }.minBy(_._1)
        (lat._1, truth(qid).toSet.intersect(lat._2.toSet).size / 5.0,
          scanned(qid))
      }
      val lats = perQid.map(_._1).sorted
      val p50 = (lats(lats.size / 2 - 1) + lats(lats.size / 2)) / 2.0
      (lats.head, p50, lats.last,
        perQid.map(_._2).sum / perQid.size,
        perQid.map(_._3.toDouble).sum / perQid.size)
    }

    def familyJson(name: String, buildSec: Double,
        r: (Double, Double, Double, Double, Double)): String =
      s""""$name":{"build_sec":${f(buildSec)},"n_queries":${QIDS.size},""" +
        s""""min_ms":${f(r._1)},"p50_ms":${f(r._2)},"max_ms":${f(r._3)},""" +
        s""""recall_at_5":${f(r._4)},"n_scanned_avg":${f(r._5)}}"""

    def sfJson(arm: String, dir: String): String = {
      val sqrtOnly = sqrtOnlyDirs.contains(dir)
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val x = VectorOps.liftE6(emb, "vec_id", "embedding")
      // the count-scaled IMI geometry: k1 centroids per half, k1²
      // composite cells, nprobe from the shared probe rule — all
      // resolved driver-side before any serving job, like a store
      // reading its index header. The √n family resolves ITS header
      // the same way (k1 = integer 4th root, nprobe ≈ log₄ n), and
      // the PQ code budget count-scales ([[Similarity.pqK]]).
      val k1 = Similarity.imiK1(spark, dir)
      val cells = k1 * k1
      val nprobe = IndexStore.scaledProbes(cells,
        Similarity.IMI_PROBE_DIVISOR, Similarity.IMI_PROBE_FLOOR)
      val (k1s, budgetS) = Similarity.imiSqrtGeom(spark, dir)
      val roundsS = Similarity.SQRT_ROUNDS
      val kPq = Similarity.pqK(spark, dir)
      val xs2 = VectorOps.pqSubspaces(x, subDim = DIM / 2)

      // ---- fit once per family: train + encode + lay out the tables
      // (share-pinned builds are skipped entirely in √n-only mode —
      // the lazy vals below are never forced there)
      val buildIvfSec =
        if (sqrtOnly) 0.0
        else {
          val t0 = System.nanoTime()
          IndexStore.codebook(xs2, k = k1, rounds = 2).count()
          IndexStore.imiMembers(x, k1 = k1, rounds = 2, dim = DIM).count()
          (System.nanoTime() - t0) / 1e9
        }
      lazy val cb = IndexStore.codebook(xs2, k = k1, rounds = 2)
      lazy val members = IndexStore.imiMembers(x, k1 = k1, rounds = 2,
        dim = DIM)

      // the √n-cell index (q258's geometry): its own trained
      // half-space codebook + composite member table, trained at the
      // family's SQRT_ROUNDS Lloyd rounds (round 12 — router quality
      // bought at build time; the share-pinned family keeps 2)
      val tS = System.nanoTime()
      IndexStore.codebook(xs2, k = k1s, rounds = roundsS).count()
      IndexStore.imiMembers(x, k1 = k1s, rounds = roundsS, dim = DIM)
        .count()
      val buildSqrtSec = (System.nanoTime() - tS) / 1e9
      val cbS = IndexStore.codebook(xs2, k = k1s, rounds = roundsS)
      val membersS = IndexStore.imiMembers(x, k1 = k1s, rounds = roundsS,
        dim = DIM)

      // residual PQ index on top of the trained IMI quantizer (the
      // q255 derivation — ONE construction path, Similarity's), code
      // budget count-scaled (16 at shipped SFs, 64 at sf1)
      def residualCells(k1x: Int, r: Int) =
        IndexStore.codes(xs2, k = k1x, rounds = r)
          .groupBy(col("vec_id"))
          .agg((max(when(col("sub") === 0, col("c"))) * k1x +
            max(when(col("sub") === 1, col("c")))).as("cell"))
      lazy val rxs = Similarity.imiResidualSubspaces(spark, dir, k1)
      val buildPqSec =
        if (sqrtOnly) 0.0
        else {
          val t1 = System.nanoTime()
          val cellsTbl = residualCells(k1, 2)
          IndexStore.codebook(rxs, k = kPq, rounds = 2).count()
          IndexStore.pqLists(rxs, cellsTbl, k = kPq, rounds = 2, m = 8)
            .count()
          (System.nanoTime() - t1) / 1e9
        }
      lazy val rCent = IndexStore.codebook(rxs, k = kPq, rounds = 2)
      lazy val pqLists = IndexStore.pqLists(rxs, residualCells(k1, 2),
        k = kPq, rounds = 2, m = 8)

      // the COMPOSED production stack (round 12, q260's geometry):
      // the same residual-PQ + refine machinery multiplied onto the
      // √n cells — residuals against the k1s half-space centroids
      // (trained at SQRT_ROUNDS), inverted lists laid out per √n
      // composite cell.
      val tPS = System.nanoTime()
      val cellsTblS = residualCells(k1s, roundsS)
      val rxsS = Similarity.imiResidualSubspaces(spark, dir, k1s, roundsS)
      IndexStore.codebook(rxsS, k = kPq, rounds = 2).count()
      IndexStore.pqLists(rxsS, cellsTblS, k = kPq, rounds = 2, m = 8)
        .count()
      val buildPqSqrtSec = (System.nanoTime() - tPS) / 1e9
      val rCentS = IndexStore.codebook(rxsS, k = kPq, rounds = 2)
      val pqListsS = IndexStore.pqLists(rxsS, cellsTblS, k = kPq,
        rounds = 2, m = 8)

      // standing LSH bucket table (the q248 index format: 16-plane
      // ceiling key, masked to the count-scaled r at read)
      val idVecs = emb.select(col("vec_id"),
          VectorOps.toDouble(col("embedding")).as("v"))
        .select(col("vec_id"), col("v"), VectorOps.norm(col("v")).as("nrm"))
      val buildLshSec =
        if (sqrtOnly) 0.0
        else {
          val t2 = System.nanoTime()
          IndexStore.lshBuckets(idVecs, DIM, KEY_PLANES).count()
          (System.nanoTime() - t2) / 1e9
        }
      lazy val rBits = IndexStore.scaledBitsRow(idVecs, 16, 8, "r")
        .head().getInt(0)
      lazy val lshFlips = math.max(2, rBits - 6)
      lazy val buckets = IndexStore.lshBuckets(idVecs, DIM, KEY_PLANES)
        .select(col("vec_id"), col("v"), col("nrm"),
          (col("bkt") % (1L << rBits)).as("bkt"))

      // ---- driver-resident serving state (bounded, documented):
      // the half-space codebook (2·k1×32 longs), the residual
      // codebook (8×16×8 longs), the 21 query vectors, and the
      // per-cell / per-bucket size histograms for the n_scanned report
      lazy val cbLocal = {
        val a = Array.ofDim[Long](2, k1, DIM / 2)
        cb.collect().foreach(r => a(r.getAs[Long]("sub").toInt)(
          r.getAs[Long]("c").toInt)(r.getAs[Long]("j").toInt) =
            r.getAs[Long]("v"))
        a
      }
      val cbSLocal = Array.ofDim[Long](2, k1s, DIM / 2)
      cbS.collect().foreach(r => cbSLocal(r.getAs[Long]("sub").toInt)(
        r.getAs[Long]("c").toInt)(r.getAs[Long]("j").toInt) =
          r.getAs[Long]("v"))
      lazy val rCentLocal = {
        val a = Array.ofDim[Long](8, kPq, 8)
        rCent.collect().foreach(r => a(r.getAs[Long]("sub").toInt)(
          r.getAs[Long]("c").toInt)(r.getAs[Long]("j").toInt) =
            r.getAs[Long]("v"))
        a
      }
      val rCentSLocal = Array.ofDim[Long](8, kPq, 8)
      rCentS.collect().foreach(r =>
        rCentSLocal(r.getAs[Long]("sub").toInt)(
          r.getAs[Long]("c").toInt)(r.getAs[Long]("j").toInt) =
            r.getAs[Long]("v"))
      val qe6: Map[Long, Array[Long]] = x
        .filter(col("vec_id") <= WARM_QID)
        .groupBy(col("vec_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("x")))),
          t => t.getField("x")).as("xs"))
        .collect()
        .map(r => r.getAs[Long]("vec_id") ->
          r.getSeq[Long](1).toArray).toMap
      val qf: Map[Long, Array[Double]] = emb
        .filter(col("vec_id") <= WARM_QID)
        .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        .collect()
        .map(r => r.getAs[Long]("vec_id") ->
          r.getSeq[Double](1).toArray).toMap
      lazy val cellSizes: Map[Int, Long] = members.groupBy(col("cell"))
        .count().collect()
        .map(r => r.getInt(0) -> r.getAs[Long]("count")).toMap
      val cellSizesS: Map[Int, Long] = membersS.groupBy(col("cell"))
        .count().collect()
        .map(r => r.getInt(0) -> r.getAs[Long]("count")).toMap
      lazy val bucketSizes: Map[Long, Long] = buckets.groupBy(col("bkt"))
        .count().collect()
        .map(r => r.getAs[Long]("bkt") -> r.getAs[Long]("count")).toMap

      // sanity: the driver-resident routers must agree with the
      // standing artifacts ON THE QUERY POINTS THEMSELVES — a query
      // that is also a corpus member routes (top-1) to its own
      // composite cell and its own sign bucket, or the driver-side
      // plane/round/argmin arithmetic has drifted from the engine's
      lazy val artCell: Map[Long, Int] = members
        .filter(col("vec_id") <= WARM_QID)
        .select(col("vec_id"), col("cell")).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
      val artCellS: Map[Long, Int] = membersS
        .filter(col("vec_id") <= WARM_QID)
        .select(col("vec_id"), col("cell")).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
      lazy val artBkt: Map[Long, Long] = buckets
        .filter(col("vec_id") <= WARM_QID)
        .select(col("vec_id"), col("bkt")).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bkt")).toMap

      // driver-side route: nprobe nearest composite cells by the
      // multi-sequence rule — per-half exact integer L2 against the
      // geometry's k1 centroids, k1² composite sums ranked (dd, cell)
      // — identical to q256/q258's imiRoute. Parameterized over the
      // resident codebook so the share-pinned and √n families share
      // one router.
      def rankedCells(k1x: Int, cbL: Array[Array[Array[Long]]])(
          qid: Long): Seq[Int] = {
        val q = qe6(qid)
        val half = Array.ofDim[Long](2, k1x)
        var sub = 0
        while (sub < 2) {
          var c = 0
          while (c < k1x) {
            var dd = 0L
            var j = 0
            while (j < DIM / 2) {
              val d = q(sub * (DIM / 2) + j) - cbL(sub)(c)(j)
              dd += d * d; j += 1
            }
            half(sub)(c) = dd; c += 1
          }
          sub += 1
        }
        (for (c0 <- 0 until k1x; c1 <- 0 until k1x)
          yield (half(0)(c0) + half(1)(c1), c0 * k1x + c1))
          .sorted.map(_._2)
      }
      def route(qid: Long): Seq[Int] =
        rankedCells(k1, cbLocal)(qid).take(nprobe)
      // the √n family's SCAN-BUDGET route (q258/q260's rule): probe
      // ranked cells until their cumulative membership reaches the
      // budget — the probe count is emergent, the scanned mass pinned
      def routeS(qid: Long): Seq[Int] = {
        val buf = Seq.newBuilder[Int]
        var cum = 0L
        val it = rankedCells(k1s, cbSLocal)(qid).iterator
        while (cum < budgetS && it.hasNext) {
          val cell = it.next()
          buf += cell
          cum += cellSizesS.getOrElse(cell, 0L)
        }
        buf.result()
      }

      // driver-side LSH probes: own masked bucket + the count-scaled
      // max(2, r−6) lowest-margin flips over the r masked planes
      // (margin = |round-6dp plane dot| — VectorOps.lshBucket's rule)
      def lshProbes(qid: Long): (Seq[Long], Double) = {
        val v = qf(qid)
        val dots = (0 until rBits).map { j =>
          var s = 0.0; var k = 0
          while (k < DIM) { s += v(k) * planeComp(j, k); k += 1 }
          round6(s)
        }
        val b0 = dots.zipWithIndex
          .map { case (dj, j) => if (dj > 0) 1L << j else 0L }.sum
        val flips = dots.zipWithIndex
          .map { case (dj, j) => (math.abs(dj), j) }
          .sorted.take(lshFlips).map { case (_, j) => b0 ^ (1L << j) }
        val qn = math.sqrt(v.map(d => d * d).sum)
        (b0 +: flips, qn)
      }

      (0L to WARM_QID).foreach { qid =>
        require(routeS(qid).head == artCellS(qid),
          s"driver sqrt-IMI route drifted from the artifact for qid " +
            s"$qid: ${routeS(qid).head} != ${artCellS(qid)}")
        if (!sqrtOnly) {
          require(route(qid).head == artCell(qid),
            s"driver IMI route drifted from the artifact for qid $qid: " +
              s"${route(qid).head} != ${artCell(qid)}")
          require(lshProbes(qid)._1.head == artBkt(qid),
            s"driver LSH bucket drifted from the artifact for qid $qid: " +
              s"${lshProbes(qid)._1.head} != ${artBkt(qid)}")
        }
      }

      // ---- exact ground truth, ONE untimed batch pass per metric
      // (the member tables carry identical (vec_id, v, n2) rows — only
      // the cell layout differs — so √n-only mode reads the √n table)
      val arrs = (if (sqrtOnly) membersS else members)
        .select(col("vec_id"), col("v"), col("n2"))
      val qvL2 = arrs.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("n2").as("qn2"))
      val truthL2: Map[Long, Seq[Long]] = qvL2
        .join(arrs.select(col("vec_id").as("cid"), col("v").as("cv"),
          col("n2").as("cn2")), col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          (col("qn2") + col("cn2") -
            lit(2L) * VectorOps.dot(col("qv"), col("cv")).cast("long"))
            .as("dist"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("dist"), col("cid"))))
        .filter(col("rn") <= 5).select(col("qid"), col("cid"))
        .collect().groupBy(_.getAs[Long]("qid"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("cid")).toSeq }
      lazy val qvCos = buckets.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn"))
      lazy val truthCos: Map[Long, Seq[Long]] = qvCos
        .join(buckets.select(col("vec_id").as("cid"), col("v").as("cv"),
          col("nrm").as("cn")), col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          round(VectorOps.dot(col("qv"), col("cv")) /
            (col("qn") * col("cn")), 6).as("cos"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("cos").desc, col("cid"))))
        .filter(col("rn") <= 5).select(col("qid"), col("cid"))
        .collect().groupBy(_.getAs[Long]("qid"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("cid")).toSeq }

      // ---- the point-serving paths: ONE job per query each. The
      // flat scan is shared by the share-pinned and √n families —
      // only the router and the (partitioned) member table differ.
      def serveFlat(routeFn: Long => Seq[Int],
          membersTbl: org.apache.spark.sql.DataFrame)(
          qid: Long): Array[Long] = {
        val probed = routeFn(qid)
        val qv = qe6(qid).map(_.toDouble)
        val qn2 = qe6(qid).map(v => v * v).sum
        membersTbl
          .filter(col("cell").isin(probed: _*) &&
            col("vec_id") =!= lit(qid))
          .select(col("vec_id"),
            (lit(qn2) + col("n2") -
              lit(2L) * VectorOps.dot(typedlit(qv.toSeq), col("v"))
                .cast("long")).as("dist"))
          .orderBy(col("dist"), col("vec_id")).limit(5)
          .collect().map(_.getAs[Long]("vec_id"))
      }
      def serveIvf(qid: Long): Array[Long] =
        serveFlat(route, members)(qid)
      def serveSqrt(qid: Long): Array[Long] =
        serveFlat(routeS, membersS)(qid)

      // per-(cell, sub, code) ADC table from the resident codebooks:
      // the query's residual against each probed COMPOSITE cell (its
      // two half centroids), scored against every residual centroid —
      // nprobe×8×kPq entries, key cell·(8·kPq) + sub·kPq + code (kPq
      // is the count-scaled code budget), so the probe is one pruned
      // scan of the inverted list with 8 table lookups per candidate
      // per-(cell, sub, code) ADC table + pruned scan, parameterized
      // over the coarse geometry (share-pinned or √n) — the route is
      // resolved ONCE per query and passed through (round-11 ADVICE:
      // the per-call route recomputation ran inside the timed window)
      def adcTableFor(probed: Seq[Int], k1x: Int,
          cbL: Array[Array[Array[Long]]],
          rcL: Array[Array[Array[Long]]])(qid: Long): Map[Long, Long] = {
        val q = qe6(qid)
        (for {
          cell <- probed; sub <- 0 until 8; code <- 0 until kPq
        } yield {
          var dd = 0L
          var j = 0
          while (j < 8) {
            val dim = sub * 8 + j
            val hsub = dim / (DIM / 2)
            val hc = if (hsub == 0) cell / k1x else cell % k1x
            val r = q(dim) - cbL(hsub)(hc)(dim % (DIM / 2)) -
              rcL(sub)(code)(j)
            dd += r * r; j += 1
          }
          (cell.toLong * (8L * kPq) + sub.toLong * kPq + code) -> dd
        }).toMap
      }
      // ROUND 14 (lesson 43's plan-size trap in point-serving form):
      // the table used to be a typedlit MAP LITERAL referenced once
      // per subspace — nprobe·8·kPq entries analyzed and codegen'd
      // PER QUERY (≈5k entries at the sf1 point, ≈13k at sf10), and
      // at a few-hundred-row pruned scan the job's latency was plan
      // time, not data. The table now ships as a broadcast variable
      // consulted by ONE scala UDF — identical integer arithmetic
      // (exact long adds, same keys), constant-size plan per query.
      def adcScanFor(lists: DataFrame, probed: Seq[Int],
          tab: Map[Long, Long], qid: Long) = {
        val bcTab = spark.sparkContext.broadcast(tab)
        val kPqL = kPq.toLong
        val adcOf = udf((cell: Long, codes: Seq[Long]) => {
          val t = bcTab.value
          var s = 0L
          var sub = 0
          while (sub < 8) {
            s += t(cell * (8L * kPqL) + sub * kPqL + codes(sub))
            sub += 1
          }
          s
        })
        lists
          .filter(col("cell").isin(probed: _*) &&
            col("vec_id") =!= lit(qid))
          .select(col("vec_id"),
            adcOf(col("cell").cast("long"),
              array((0 until 8).map(s => col(s"c$s").cast("long")): _*))
              .as("adc"))
      }

      // (the ADC-only serving family was DEMOTED in round 14 — r12/r13
      // verdicts: RECALL pins q253/q255 at 0.15/0.22 clustered recall
      // vs q260's 0.44 at equal-or-less scan, so ADC-only is a
      // CALIBRATION arm, not a serving recipe; its queries and oracle
      // gates stay, ServeBench stops timing it. The refine family
      // serves the same standing pqLists index, so nothing it needs
      // was removed — the index build cost now reports under
      // ivfpq_refine.)

      // ADC shortlist → exact refine as a BOUNDED GATHER (round 14,
      // closing the r12/r13 verdict item): the 32-id shortlist is
      // collected (it is the result of its own TakeOrdered job — the
      // round-13 broadcast-join shape ran the identical collect inside
      // a BroadcastExchange and then still paid a hash join over the
      // cell-pruned member scan), and the exact re-rank is ONE
      // join-free job: the members scan pruned by cell AND filtered to
      // the 32 shortlisted ids, a per-row exact distance, a top-5.
      def serveRefineWith(routeFn: Long => Seq[Int], k1x: Int,
          cbL: Array[Array[Array[Long]]],
          rcL: Array[Array[Array[Long]]], lists: DataFrame,
          membersTbl: DataFrame)(qid: Long): Array[Long] = {
        val probed = routeFn(qid)
        val shortIds = adcScanFor(lists, probed,
            adcTableFor(probed, k1x, cbL, rcL)(qid), qid)
          .orderBy(col("adc"), col("vec_id")).limit(32)
          .select(col("vec_id"))
          .collect().map(_.getAs[Long]("vec_id"))
        val qv = qe6(qid).map(_.toDouble)
        val qn2 = qe6(qid).map(v => v * v).sum
        membersTbl
          .filter(col("cell").isin(probed: _*) &&
            col("vec_id").isin(shortIds: _*))
          .select(col("vec_id"),
            (lit(qn2) + col("n2") -
              lit(2L) * VectorOps.dot(typedlit(qv.toSeq), col("v"))
                .cast("long")).as("dist"))
          .orderBy(col("dist"), col("vec_id")).limit(5)
          .collect().map(_.getAs[Long]("vec_id"))
      }
      def serveRefine(qid: Long): Array[Long] =
        serveRefineWith(route, k1, cbLocal, rCentLocal, pqLists,
          members)(qid)
      // the COMPOSED family (q260's shape): budget route over √n
      // cells → pruned ADC over the sqrt residual lists → exact
      // refine against the sqrt member table
      def serveRefineSqrt(qid: Long): Array[Long] =
        serveRefineWith(routeS, k1s, cbSLocal, rCentSLocal, pqListsS,
          membersS)(qid)

      def serveLsh(qid: Long): Array[Long] = {
        val (probes, qn) = lshProbes(qid)
        val qv = qf(qid)
        buckets
          .filter(col("bkt").isin(probes: _*) &&
            col("vec_id") =!= lit(qid))
          .select(col("vec_id"),
            round(VectorOps.dot(typedlit(qv.toSeq), col("v")) /
              (lit(qn) * col("nrm")), 6).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(5)
          .collect().map(_.getAs[Long]("vec_id"))
      }

      def scannedIvf(qid: Long): Long =
        route(qid).map(c => cellSizes.getOrElse(c, 0L)).sum
      def scannedSqrt(qid: Long): Long =
        routeS(qid).map(c => cellSizesS.getOrElse(c, 0L)).sum
      def scannedLsh(qid: Long): Long =
        lshProbes(qid)._1.map(b => bucketSizes.getOrElse(b, 0L)).sum

      // the refine families run extra repeats (round 13): their
      // two-stage job is the longest serving path, so a single
      // straggler repeat polluted the p50 trend read (SERVE_r12's
      // non-monotone 310 ms sf0.1-uniform spike). √n-only mode (the
      // sf10 budget block) runs base repeats — the r13 budget finding.
      val refReps = if (sqrtOnly) repeats else math.max(repeats, 5)
      val rSqrt = family(serveSqrt, truthL2, scannedSqrt)
      val rRefS = family(serveRefineSqrt, truthL2, scannedSqrt, refReps)
      val sqrtJson =
        s"""${familyJson("ivf_sqrt", buildSqrtSec, rSqrt)},""" +
          // the composed production stack (q260): its sqrt residual
          // lists are its OWN one-time build (nothing else serves them)
          s"""${familyJson("ivfpq_refine_sqrt", buildPqSqrtSec, rRefS)}"""
      val restJson =
        if (sqrtOnly) ""
        else {
          val rIvf = family(serveIvf, truthL2, scannedIvf)
          val rRef = family(serveRefine, truthL2, scannedIvf, refReps)
          val rLsh = family(serveLsh, truthCos, scannedLsh)
          System.err.println(s"[serve] $arm $dir " +
            s"ivf p50=${f(rIvf._2)}ms r@5=${f(rIvf._4)} " +
            s"refine p50=${f(rRef._2)}ms r@5=${f(rRef._4)} " +
            s"lsh p50=${f(rLsh._2)}ms r@5=${f(rLsh._4)}")
          s""",${familyJson("ivf_flat", buildIvfSec, rIvf)},""" +
            // the refine family serves the standing residual-PQ index
            // (codebooks + pqLists), so since the ADC-only family's
            // demotion ITS row carries that one-time build cost
            s"""${familyJson("ivfpq_refine", buildPqSec, rRef)},""" +
            s"""${familyJson("lsh_multiprobe", buildLshSec, rLsh)}"""
        }
      System.err.println(s"[serve] $arm $dir k1=$k1 nprobe=$nprobe " +
        s"k1s=$k1s budgetS=$budgetS kpq=$kPq sqrtOnly=$sqrtOnly " +
        s"sqrt p50=${f(rSqrt._2)}ms r@5=${f(rSqrt._4)} " +
        s"n=${f(rSqrt._5)} " +
        s"refineS p50=${f(rRefS._2)}ms r@5=${f(rRefS._4)} " +
        s"n=${f(rRefS._5)}")
      s""""$dir":{"k1":$k1,"cells":$cells,"nprobe":$nprobe,""" +
        s""""k1_sqrt":$k1s,"scan_budget_sqrt":$budgetS,"kpq":$kPq,""" +
        s""""sqrt_only":$sqrtOnly,""" +
        sqrtJson + restJson + "}"
    }
    val perCorpus = Seq("uniform" -> sfDirs, "clustered" -> clusteredDirs)
      .filter(_._2.nonEmpty)
      .map { case (arm, dirs) =>
        s""""$arm":{${dirs.map(d => sfJson(arm, d)).mkString(",")}}"""
      }
    val json =
      s"""{"metric":"serve_latency","repeats":$repeats,"per_corpus":{${perCorpus.mkString(",")}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(json)
    spark.stop()
  }
}
