package graft

import graft.core.{GraftSession, Tables}
import graft.ops.{IndexStore, VectorOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANN recall-regression artifact: one row per (corpus arm, SF,
  * serving family) with the family's recall against its exact ground
  * truth and its measured candidate cost (n_scanned) — so a future
  * routing, banding-resolution or compression change can never
  * silently trade recall for speed: the round artifact
  * (RECALL_r{N}.json) makes the trade a diffable number. Since round
  * 11 the sweep carries a CORPUS dimension: `uniform` (the driver's
  * isotropic embeddings — the adversarial floor where recall is
  * information-theoretically ≈ scanned share for ANY quantizer) and
  * `clustered` (planted mixture-of-Gaussians companions — where
  * recall measures routing QUALITY and the structure-exploitation
  * gate compares the trained √n router q258 against the
  * random-partition control q259 at equal scan).
  *
  * Families and their metrics (each family's queries already carry
  * the hit/score columns, gate-verified against DuckDB — this main
  * only AGGREGATES them):
  *   - q34 (count-scaled LSH bucket ANN, via q38's audit): top-1
  *     served vs exact top-5 → `top1_in_exact5`; n_scanned is the
  *     exact mean same-bucket candidate count (Σ sz·(sz−1) / n over
  *     the count-scaled buckets).
  *   - q85 (label-cell IVF, nprobe=2): top-1 (rnk=1) vs q32's exact
  *     top-5 → `top1_in_exact5`.
  *   - q248 (multi-probe LSH): multi_hit (and single_hit for the
  *     single-probe reference) → `top1_in_exact5`; n_scanned =
  *     mean n_multi.
  *   - q238 (SQ8 ADC serving), q251 (trained IVF), q256
  *     (count-scaled trained IVF — the flat-cost point whose recall
  *     trade this artifact exists to track), q253 (IVFPQ), q255
  *     (residual IVFPQ): n_hits of the served top-5 inside the exact
  *     top-5 → `overlap_at_5` (recall@5); n_scanned as emitted.
  */
object RecallBench {

  /** Per-(family, corpus-arm) recall FLOORS — the artifact is a GATE,
    * not a log: a family measuring below its floor at ANY swept SF
    * (including the synthetic sf1 point) fails the run with exit 2,
    * so an index or probe-rule change can never silently trade recall
    * away again (round 9 shipped exactly that: count-scaled key
    * spaces at frozen probe counts took q256 from 0.34 to 0.06 across
    * one decade and only the artifact's JSON knew). Floors are keyed
    * by corpus arm since round 11: the `uniform` (isotropic) arm's
    * floors are the information-theoretic noise regime (recall ≈
    * scanned share — every quantizer measures the same there); the
    * `clustered` (planted-mixture) arm's floors are MUCH higher for
    * the trained families, because there recall measures routing
    * quality — floors fitted to the uniform arm would be vacuous on
    * it. Uniform floors: round-10 measured mins less ~0.05 sample
    * noise (q253/q255 raised after the round-11 count-scaled PQ
    * budget lifted their sf1 plateau). Clustered floors: round-11
    * measured mins less margin; trained families ≥ 2× their uniform
    * floors. Families structurally noisy at 20 queries (single-probe
    * LSH — a deliberately unboosted reference arm) carry floor 0.
    */
  private val FLOORS: Map[(String, String), Double] = Map(
    // uniform arm — measured mins across sf0.001..synthetic sf1
    // (RECALL_r10/r11): q34 .30, q85 .65, q248m .10, q238 .20,
    // q251 .30, q256 .24, q253 .07→(scaled-PQ), q255 .08→, q257 .20
    ("q34_lsh_ann", "uniform") -> 0.20,
    ("q85_ivf_nprobe", "uniform") -> 0.50,
    ("q248_multiprobe_lsh", "uniform") -> 0.05,
    ("q248_single_probe", "uniform") -> 0.0,
    ("q238_ivf_sq8_serving", "uniform") -> 0.15,
    ("q251_trained_ivf", "uniform") -> 0.25,
    ("q256_scaled_ivf", "uniform") -> 0.19,
    // raised 0.04 → 0.05 in round 11: the count-scaled PQ budget
    // lifted the sf1 plateau 0.08 → 0.15 (k_pq=64; measured to
    // SATURATE there — 128/256 centroids buy nothing, the binding
    // error is distance-margin resolution, which is the refine
    // stage's job). The binding min is now the 500-vector point
    // (q253 0.07, k_pq=16 — tiny-corpus hash-seed luck, unchanged by
    // the budget rule), so the floor sits under THAT, not under sf1.
    ("q253_ivfpq_serving", "uniform") -> 0.05,
    ("q255_ivfpq_residual", "uniform") -> 0.05,
    ("q257_ivfpq_refine", "uniform") -> 0.15,
    // the √n family scans ~√n/n of a structureless corpus — its
    // uniform floor is honesty about the noise regime, not quality
    ("q258_imi_sqrt", "uniform") -> 0.0,
    ("q259_random_route", "uniform") -> 0.0,
    // clustered arm — where recall measures ROUTING QUALITY; floors
    // from the round-11 measured mins less margin (set after the
    // first clustered sweep; trained families ≥ 2× uniform)
    // measured mins (r11 curve/probe): q258 .67 (sf1, nprobe=4),
    // q256 .71, q257 .59, q253/q255 .13/.15 at the sf1 point
    // raised 0.40 → 0.50 in round 12: the scan-budget route +
    // 4-round codebooks hold the clustered operating point at
    // 0.94/0.88/0.80 across the 100× span where the fixed-nprobe
    // rule slid to 0.67 at sf1. A decade PAST sf1 (sf10-clustered,
    // 200k vectors — measured builder-side via ProbeLab; the artifact
    // sweep stops at sf1 because the PQ families' full-corpus
    // k_pq=256 training is a multi-hour job there) the point is
    // 0.59: the binding limit is the product quantizer's n^(1/4)
    // per-half centroid count falling behind the ~√n planted
    // clusters (the measured curve stays √-shaped — 0.71 at 1.6×
    // budget, 0.78 at 3×), i.e. a COARSE-QUANTIZER limit, not a
    // probe-rule defect. The floor sits under that measured sf10
    // point; the structural fix (full-space SAMPLED-training coarse
    // quantizer at k ≈ √n — which also retires the training-cost
    // blocker above) is the next round's job.
    ("q258_imi_sqrt", "clustered") -> 0.50,
    ("q259_random_route", "clustered") -> 0.0,
    // q260 (round 12): the composed IVFPQ+refine on the √n geometry —
    // clustered 0.94/0.85/0.68 across the swept sf0.01→sf1 span, 0.42
    // at the builder-measured sf10 point (≥ q257's share-pinned
    // recall at ~2.2× less scan at sf1); uniform floor is the honest
    // noise regime (a ~4√n/n share)
    ("q260_ivfpq_sqrt_refine", "clustered") -> 0.35,
    ("q260_ivfpq_sqrt_refine", "uniform") -> 0.0,
    ("q256_scaled_ivf", "clustered") -> 0.40,
    ("q257_ivfpq_refine", "clustered") -> 0.30,
    ("q253_ivfpq_serving", "clustered") -> 0.08,
    ("q255_ivfpq_residual", "clustered") -> 0.08,
    // round 12: the remaining ANN families gated on the clustered arm
    // too (they were measured there since r11 but unfloored, so a
    // structured-data regression in e.g. the multiprobe path would
    // have passed). Floors from the r11 measured mins (q34 .75,
    // q85 .60, q248m .65, q251 .76, q238 .15 across sf0.01→sf1) with
    // margin kept wide for regime shifts past the swept range —
    // q85/q238 route on label cells, which are id-hash partitions on
    // the embeddings-only companions (≈ random routing: their
    // clustered recall is scanned-share physics and DECLINES as the
    // fixed cell count coarsens, so their floors are deliberately
    // near that regime); q248_single stays 0 (deliberately unboosted
    // reference arm, structurally noisy at 20 queries).
    // round 13 relaxed this 0.50 → 0.40 globally when the clustered
    // sweep first reached sf10 (measured 0.45 there — the documented
    // declining-share physics of the fixed flip budget); round 14
    // (ADVICE) re-keys the relaxation to the sf10 decade ONLY via
    // [[FLOORS_SF]], restoring 0.50 at sf0.01–sf1 where the family
    // measures ≥ 0.75 — a future regression to ~0.45 at a
    // previously-protected SF fails again.
    ("q34_lsh_ann", "clustered") -> 0.50,
    ("q85_ivf_nprobe", "clustered") -> 0.25,
    ("q248_multiprobe_lsh", "clustered") -> 0.40,
    ("q248_single_probe", "clustered") -> 0.0,
    ("q238_ivf_sq8_serving", "clustered") -> 0.05,
    ("q251_trained_ivf", "clustered") -> 0.50)

  /** Per-SF floor OVERRIDES, keyed (family, arm, sf-tag) — consulted
    * before [[FLOORS]]. A new decade whose physics genuinely differ
    * (sf10's 0.13%-share multiprobe scan) gets ITS OWN floor instead
    * of relaxing the whole arm (round-13 ADVICE: the global 0.40
    * refit left sf0.01–sf1, which measure ≥ 0.75, protected only to
    * 0.40). The sf tag is the `sfN` token of the corpus dir name.
    */
  private val FLOORS_SF: Map[(String, String, String), Double] = Map(
    // r13 measured 0.45 at sf10-clustered (260-candidate scan, 0.13%
    // share — fixed flip budget's share declines with n); path
    // untouched since r11
    ("q34_lsh_ann", "clustered", "sf10") -> 0.40)

  /** The `sfN` token of a corpus dir ("/root/testdata/sf0.1",
    * "testdata-sf10-clustered" → "sf0.1", "sf10").
    */
  private def sfTag(dir: String): String =
    "sf[0-9]+(\\.[0-9]+)?".r.findFirstIn(
      dir.split('/').last).getOrElse("")

  /** Clustered-arm STRUCTURE-EXPLOITATION gate: the trained √n router
    * (q258) must beat the random-partition control (q259) — which has
    * the identical cell count, probe count and expected occupancy —
    * by at least this recall RATIO on the planted-cluster corpus, or
    * the quantizer is not using the structure the sizing depends on.
    */
  private val STRUCTURE_RATIO = 2.0

  /** Absolute minimum trained-arm recall for the structure gate: the
    * ratio alone would pass vacuously when both arms measure ~0 (the
    * keyed 0.40 clustered floor backstops q258 today, but the gate
    * should not depend on a separate table entry staying in place).
    */
  private val STRUCTURE_MIN_TRAINED = 0.40

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("RECALL_LOCAL.json")
    val sfDirs = sys.env.getOrElse("SPARK_GRAFT_RECALL_SFS",
      "/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // the planted-cluster corpus arm (embeddings-only companion dirs,
    // graft.SynthData `clustered`): where routing quality is
    // measurable and the structure-exploitation gate runs
    val clusteredDirs = sys.env.getOrElse("SPARK_GRAFT_RECALL_CLUSTERED_SFS",
      "/root/repo/testdata-sf0.01-clustered," +
        "/root/repo/testdata-sf0.1-clustered," +
        "/root/repo/testdata-sf1-clustered")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = GraftSession.local("graft-recallbench")

    def f(d: Double) = f"$d%.4f"
    val violations = scala.collection.mutable.ArrayBuffer[String]()

    def perSfJson(arm: String, dir: String): String = {
      def run(name: String): DataFrame =
        SparkEntry.queries(name)(spark, dir)

      def fam(name: String, kind: String, recall: Double,
          nQueries: Long, nScanned: Option[Double]): String = {
        FLOORS_SF.get((name, arm, sfTag(dir)))
          .orElse(FLOORS.get((name, arm)))
          .filter(recall < _).foreach { floor =>
          violations += s"$name [$arm] at $dir: recall ${f(recall)} " +
            s"< floor ${f(floor)}"
        }
        s""""$name":{"metric_kind":"$kind","recall":${f(recall)},""" +
          s""""n_queries":$nQueries,"n_scanned_avg":${
            nScanned.map(f).getOrElse("null")}}"""
      }

      // q34 family: q38's per-query hit bit + the exact mean
      // multi-probed candidate count under the count-scaled mask
      // (own bucket + all r Hamming-1 flips, q34's probe set)
      val q38 = run("q38_ann_recall").agg(
        avg(col("hit")).as("r"), count(lit(1)).as("n")).head()
      val v = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      val bucketed = v
        .select(col("vec_id"), VectorOps.lshBucket(col("v"), 64, 16)
          .as("b16"))
        .crossJoin(broadcast(IndexStore.scaledBitsRow(v, 16, 8, "r")))
        .select(col("vec_id"),
          (col("b16") % expr("shiftleft(CAST(1 AS BIGINT), r)"))
            .as("bkt"), col("r"))
      val sizes = bucketed.groupBy(col("bkt")).count()
      val scan34 = bucketed
        .select(col("vec_id"), col("bkt"),
          explode(sequence(lit(-1), col("r") - 1)).as("fj"))
        .select(col("vec_id"),
          expr("""CASE WHEN fj = -1 THEN bkt
                  ELSE bkt ^ shiftleft(CAST(1 AS BIGINT), fj) END""")
            .as("probe"))
        .join(sizes, col("probe") === col("bkt"), "left")
        .groupBy(col("vec_id"))
        .agg((sum(coalesce(col("count"), lit(0L))) - 1L).as("cands"))
        .agg(avg(col("cands"))).head().getDouble(0)
      val f34 = fam("q34_lsh_ann", "top1_in_exact5",
        q38.getAs[Double]("r"), q38.getAs[Long]("n"), Some(scan34))

      // q85 family: rnk=1 serving row vs q32's exact top-5
      val exact5 = run("q32_cosine_topk").select(col("qid"), col("cid"))
      val best85 = run("q85_ivf_nprobe").filter(col("rnk") === 1)
        .select(col("qid"), col("cid").as("acid"))
      val r85 = exact5.join(best85, Seq("qid"), "left")
        .groupBy(col("qid"))
        .agg(max(when(col("cid") === col("acid"), 1.0).otherwise(0.0))
          .as("hit"))
        .agg(avg(col("hit")).as("r"), count(lit(1)).as("n")).head()
      val f85 = fam("q85_ivf_nprobe", "top1_in_exact5",
        r85.getAs[Double]("r"), r85.getAs[Long]("n"), None)

      // q248: multi-probe hit + candidate cost straight off the gate
      // columns (single-probe reference folded in as its own family)
      val r248 = run("q248_multiprobe_lsh").agg(
        avg(col("multi_hit")).as("rm"), avg(col("single_hit")).as("rs"),
        avg(col("n_multi")).as("sm"), avg(col("n_single")).as("ss"),
        count(lit(1)).as("n")).head()
      val f248 = fam("q248_multiprobe_lsh", "top1_in_exact5",
        r248.getAs[Double]("rm"), r248.getAs[Long]("n"),
        Some(r248.getAs[Double]("sm")))
      val f248s = fam("q248_single_probe", "top1_in_exact5",
        r248.getAs[Double]("rs"), r248.getAs[Long]("n"),
        Some(r248.getAs[Double]("ss")))

      // the (qid, n_scanned, n_hits) families: recall@5 = n_hits/5
      val overlapR = Seq("q238_ivf_sq8_serving", "q251_trained_ivf",
        "q256_scaled_ivf", "q253_ivfpq_serving",
        "q255_ivfpq_residual", "q257_ivfpq_refine",
        "q258_imi_sqrt", "q259_random_route",
        "q260_ivfpq_sqrt_refine").map { name =>
        val r = run(name).agg(
          (avg(col("n_hits")) / 5.0).as("r"),
          avg(col("n_scanned")).as("s"), count(lit(1)).as("n")).head()
        (name, r.getAs[Double]("r"),
          fam(name, "overlap_at_5", r.getAs[Double]("r"),
            r.getAs[Long]("n"), Some(r.getAs[Double]("s"))))
      }

      // structure-exploitation gate: on the planted-cluster arm the
      // trained √n router must beat the random-partition control
      // (same cells, same nprobe, same expected n_scanned) by the
      // required ratio — otherwise the quantizer is not exploiting
      // the structure the sublinear sizing depends on
      if (arm == "clustered") {
        // a missing family is itself a violation (a list edit must
        // not silently disarm the gate), and the ratio alone passes
        // vacuously at 0 vs 0 — so the trained arm must ALSO clear an
        // absolute minimum here, independent of the keyed floors
        (overlapR.find(_._1 == "q258_imi_sqrt"),
          overlapR.find(_._1 == "q259_random_route")) match {
          case (Some((_, r258, _)), Some((_, r259, _))) =>
            if (r258 < STRUCTURE_RATIO * r259)
              violations += s"structure not exploited at $dir: " +
                s"trained ${f(r258)} < ${STRUCTURE_RATIO} x control " +
                s"${f(r259)}"
            if (r258 < STRUCTURE_MIN_TRAINED)
              violations += s"structure gate vacuous at $dir: " +
                s"trained recall ${f(r258)} < ${STRUCTURE_MIN_TRAINED}"
          case (a, b) =>
            violations += s"structure gate families missing at $dir: " +
              s"q258=${a.isDefined} q259=${b.isDefined}"
        }
      }

      val fams = (Seq(f34, f85, f248, f248s) ++ overlapR.map(_._3))
        .mkString(",")
      // between-corpora hygiene (round 14): drop this corpus's pinned
      // ANN frames before the next dir's sweep — the 13-family × 8-dir
      // session otherwise accumulates every route/cells/adc pin
      graft.core.CacheScope.release()
      System.err.println(s"[recall] $arm $dir done")
      s""""$dir":{$fams}"""
    }
    val perCorpus = Seq("uniform" -> sfDirs, "clustered" -> clusteredDirs)
      .filter(_._2.nonEmpty)
      .map { case (arm, dirs) =>
        s""""$arm":{${dirs.map(d => perSfJson(arm, d)).mkString(",")}}"""
      }
    val vjson = violations.map(v => s""""$v"""").mkString(",")
    val json =
      s"""{"metric":"ann_recall","floors_enforced":true,""" +
        s""""violations":[$vjson],""" +
        s""""per_corpus":{${perCorpus.mkString(",")}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(json)
    spark.stop()
    if (violations.nonEmpty) {
      violations.foreach(v => System.err.println(s"[recall-floor] $v"))
      sys.exit(2)
    }
  }
}
