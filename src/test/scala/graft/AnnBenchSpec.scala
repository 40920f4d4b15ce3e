package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.{CacheScope, GraftSession}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The ANN sweep's recall gate as a pure function of (arm, dir,
  * recalls), and one small end-to-end sweep: all three blocks are
  * written, the recall block holds every family, and nothing stays
  * cached afterwards.
  */
class AnnBenchSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("graft-test", cores = 4)

  private val families = Seq("q34_lsh_ann", "q85_ivf_nprobe",
    "q248_multiprobe_lsh", "q248_single_probe", "q238_ivf_sq8_serving",
    "q251_trained_ivf", "q256_scaled_ivf", "q253_ivfpq_serving",
    "q255_ivfpq_residual", "q257_ivfpq_refine", "q258_imi_sqrt",
    "q259_random_route", "q260_ivfpq_sqrt_refine")

  /** Every family at recall 1.0 and the random-routing control at 0,
    * then `overrides`.
    */
  private def recalls(overrides: (String, Double)*): Seq[(String, Double)] =
    families.map(f => f -> (Map("q259_random_route" -> 0.0) ++ overrides)
      .getOrElse(f, 1.0))

  private val cl = "/data/testdata-sf1-clustered"

  test("a FLOORS_SF entry applies at its sf only") {
    val r = recalls("q34_lsh_ann" -> 0.45)
    assert(AnnBench.violations("clustered",
      "/data/testdata-sf10-clustered", r).isEmpty)
    assert(AnnBench.violations("clustered", cl, r) === Seq(
      s"q34_lsh_ann [clustered] at $cl: recall 0.4500 < floor 0.5000"))
  }

  test("a recall below its floor is a violation") {
    val dir = "/data/sf0.01"
    assert(AnnBench.violations("uniform", dir, recalls()).isEmpty)
    assert(AnnBench.violations("uniform", dir,
      recalls("q85_ivf_nprobe" -> 0.50)).isEmpty)
    assert(AnnBench.violations("uniform", dir,
      recalls("q85_ivf_nprobe" -> 0.49)) === Seq(
      s"q85_ivf_nprobe [uniform] at $dir: recall 0.4900 < floor 0.5000"))
  }

  test("structure gate: the trained router must reach 2x the control") {
    assert(AnnBench.violations("clustered", cl,
      recalls("q258_imi_sqrt" -> 0.80, "q259_random_route" -> 0.40))
      .isEmpty)
    assert(AnnBench.violations("clustered", cl,
      recalls("q258_imi_sqrt" -> 0.79, "q259_random_route" -> 0.40)) ===
      Seq(s"structure not exploited at $cl: trained 0.7900 < 2.0 x " +
        "control 0.4000"))
    // the uniform arm has no structure gate
    assert(AnnBench.violations("uniform", "/data/sf0.01",
      recalls("q258_imi_sqrt" -> 0.1, "q259_random_route" -> 0.1))
      .isEmpty)
  }

  test("structure gate: the trained router must clear its minimum") {
    val r258 = AnnBench.STRUCTURE_MIN_TRAINED - 0.01
    assert(AnnBench.violations("clustered", cl,
      recalls("q258_imi_sqrt" -> r258, "q259_random_route" -> 0.0))
      .exists(_.startsWith(s"structure gate vacuous at $cl")))
  }

  test("structure gate: a missing q258 or q259 family is a violation") {
    for (gone <- Seq("q258_imi_sqrt", "q259_random_route")) {
      val v = AnnBench.violations("clustered", cl,
        recalls().filterNot(_._1 == gone))
      assert(v.exists(_.startsWith(
        s"structure gate families missing at $cl")), gone)
    }
  }

  test("one-dir sweep writes serve, recall and curve and caches nothing") {
    val dir = "/root/testdata/sf0.001"
    val (json, found) = AnnBench.sweep(spark, Seq("uniform" -> Seq(dir),
      "clustered" -> Nil), repeats = 1)
    val rec = new ObjectMapper().readTree(json)
    assert(rec.get("metric").asText === "ann")
    assert(rec.get("violations").size === found.size)
    assert(rec.get("per_corpus").fieldNames.asScala.toSeq === Seq("uniform"))
    val d = rec.get("per_corpus").get("uniform").get(dir)
    assert(d.fieldNames.asScala.toSeq === Seq("serve", "recall", "curve"))
    assert(d.get("recall").fieldNames.asScala.toSeq === families)
    assert(d.get("serve").has("ivf_sqrt") && d.get("serve").has("ivf_flat"))
    assert(d.get("curve").get("points").size > 0)
    assert(CacheScope.size === 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "the sweep left cached frames behind")
  }
}
