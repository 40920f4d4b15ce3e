package graft

import graft.core.{CacheScope, GraftSession}
import graft.ops.{ArtifactStore, SemanticOps, VectorOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SemanticOpsSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("graft-test", cores = 4)

  // 8-dim fixture: two tight clusters (ids 0-2 near u, ids 10-11 near
  // w) and one isolated vector — deterministic, no RNG
  private def embDf = {
    val sq = spark
    import sq.implicits._
    def v(base: Seq[Float], eps: Float): Seq[Float] =
      base.zipWithIndex.map { case (x, i) => x + (if (i == 0) eps else 0f) }
    val u = Seq(1f, 2f, 3f, 4f, 5f, 6f, 7f, 8f)
    val w = Seq(-8f, 7f, -6f, 5f, -4f, 3f, -2f, 1f)
    // negative cosine against BOTH cluster directions — truly isolated
    val iso = Seq(9f, -9f, 9f, -9f, 9f, -9f, 9f, -9f)
    Seq(
      (0L, v(u, 0f)), (1L, v(u, 0.01f)), (2L, v(u, 0.02f)),
      (10L, v(w, 0f)), (11L, v(w, 0.01f)),
      (20L, iso)
    ).toDF("vec_id", "embedding")
  }

  test("neardupPairs ⊆ exact all-pairs at the threshold; clusters pair") {
    val sq = spark
    import sq.implicits._
    val n = SemanticOps.normalized(embDf)
    // brute-force ground truth at the same rounding
    val a = n.select(col("vec_id").as("d1"), col("v").as("qv"),
      col("nrm").as("qn"))
    val b = n.select(col("vec_id").as("d2"), col("v").as("cv"),
      col("nrm").as("cn"))
    val brute = a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        round(VectorOps.dot(col("qv"), col("cv")) /
          (col("qn") * col("cn")), 6).as("cos"))
      .filter(col("cos") >= 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = SemanticOps.neardupPairs(embDf, threshold = 0.45, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(brute), s"LSH must never invent pairs: " +
      s"${got.diff(brute)}")
    // near-identical vectors always share every band ⇒ within-cluster
    // pairs are guaranteed candidates
    assert(got.contains((0L, 1L)) && got.contains((0L, 2L)) &&
      got.contains((10L, 11L)), s"tight clusters must pair: $got")
    CacheScope.release()
  }

  test("semanticLabels is a total assignment with min-id clusters; " +
    "labelsTable equals it and replans as a bare scan") {
    val live = SemanticOps.semanticLabels(embDf, dim = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(live.keySet === Set(0L, 1L, 2L, 10L, 11L, 20L),
      "every input row must be assigned")
    assert(live(0L) === 0L && live(1L) === 0L && live(2L) === 0L)
    assert(live(10L) === 10L && live(11L) === 10L)
    assert(live(20L) === 20L, "singleton keeps its own id")
    val t1 = SemanticOps.labelsTable(embDf, dim = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t1 === live, "artifact must equal the recompute path")
    val again = SemanticOps.labelsTable(embDf, dim = 8)
    val plan = again.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Aggregate"),
      s"second labelsTable call must read the artifact:\n$plan")
    // registry shared with the text chain: one clear resets both
    ArtifactStore.clear()
    CacheScope.release()
  }

  test("capped pairing stars a duplicated-embedding bucket, is the " +
    "identity when inactive") {
    val sq = spark
    import sq.implicits._
    // 30 copies of one embedding (every band bucket hot) + the base
    // fixture's clusters
    val dup = Seq(2f, -1f, 3f, -2f, 4f, -3f, 5f, -4f)
    val docs = ((500 until 530).map(i => (i.toLong, dup)) ++
      Seq((900L, Seq(1f, 2f, 3f, 4f, 5f, 6f, 7f, 8f)))).toDF(
      "vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val un = pairs(SemanticOps.neardupPairs(docs, dim = 8))
    assert(un.count(_._2 < 900) === 435, "clique = C(30,2)")
    val capped = pairs(SemanticOps.neardupPairsCapped(docs,
      bucketCap = 8, dim = 8))
    assert(capped.filter(_._2 < 900) ===
      (501 until 530).map(i => (500L, i.toLong)).toSet,
      "hot bucket must star to the minimum vec id")
    val wide = pairs(SemanticOps.neardupPairsCapped(docs,
      bucketCap = 1000, dim = 8))
    assert(wide === un, "inactive cap must be the identity")
    // star + verify reaches the same components
    val lu = graft.ops.GraphOps.connectedComponents(
      SemanticOps.neardupPairs(docs, dim = 8), "d1", "d2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lc = graft.ops.GraphOps.connectedComponents(
      SemanticOps.neardupPairsCapped(docs, bucketCap = 8, dim = 8),
      "d1", "d2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lu === lc, "capped chain must reach the same components")
    CacheScope.release()
  }

  test("incremental probe is new-side-restricted and orientation-safe") {
    val full = SemanticOps.neardupPairs(embDf, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // "new" = ids 2 and 11 (one member of each cluster)
    val isNew = col("vec_id").isin(2L, 11L)
    val inc = SemanticOps.neardupPairsIncremental(embDf, isNew, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter(p => Set(2L, 11L)(p._1) || Set(2L, 11L)(p._2))
    assert(inc === expected,
      s"incremental = full pairs touching a new id: inc=$inc exp=$expected")
    // orientation safety: new id 2 is LARGER than its dups (0, 1) but
    // must still be flagged — normalized pairs put it at d2
    assert(inc.contains((0L, 2L)) && inc.contains((1L, 2L)))
    // old-old pairs never form
    assert(!inc.contains((0L, 1L)), "corpus-internal pair must not form")
    CacheScope.release()
  }
}
