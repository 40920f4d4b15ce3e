package graft

import graft.core.{CacheScope, GraftSession}
import graft.ops.CorpusOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Library-level contracts for [[graft.ops.CorpusOps]] on hand-computed
  * fixtures (the q96-q98 gate queries delegate here; these pin the
  * semantics independent of the synthetic corpus).
  */
class CorpusOpsSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("graft-test", cores = 4)

  test("segmentArray splits into fixed-width windows incl. short tail") {
    val sq = spark
    import sq.implicits._
    val out = Seq("a b c d e f g", "a b", "")
      .toDF("text")
      .select(CorpusOps.segmentArray(
        filter(split(col("text"), " "), w => w =!= ""), 3).as("segs"))
      .as[Seq[String]].collect()
    assert(out(0) === Seq("a b c", "d e f", "g"))
    assert(out(1) === Seq("a b"))
    assert(out(2) === Seq.empty)
  }

  test("lineDedup drops exactly the segments shared by >= minDocs docs") {
    val sq = spark
    import sq.implicits._
    // "x y" is chrome in docs 1,2,3; "k l" only in 1,2 (< minDocs=3)
    val docs = Seq(
      (1L, Seq("x y", "a b", "k l")),
      (2L, Seq("c d", "x y", "k l")),
      (3L, Seq("x y", "e f")),
      (4L, Seq("g h"))
    ).toDF("doc_id", "segs")
    val out = CorpusOps.lineDedup(docs, "doc_id", "segs", 3)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) === ((1L, 3L, 2L, "a b k l")))
    assert(out(1) === ((2L, 3L, 2L, "c d k l")))
    assert(out(2) === ((3L, 2L, 1L, "e f")))
    assert(out(3) === ((4L, 1L, 1L, "g h")))
  }

  test("lineDedup pins its segment cache and release() unpersists it") {
    val sq = spark
    import sq.implicits._
    val docs = Seq((1L, Seq("x y")), (2L, Seq("a b"))).toDF("doc_id", "segs")
    CacheScope.release()
    val before = CacheScope.size
    CorpusOps.lineDedup(docs, "doc_id", "segs", 3).collect()
    assert(CacheScope.size === before + 1)
    CacheScope.release()
    assert(CacheScope.size === 0)
  }

  test("lineDedup yields NULL text when every segment is boilerplate") {
    val sq = spark
    import sq.implicits._
    val docs = Seq(
      (1L, Seq("x y")), (2L, Seq("x y")), (3L, Seq("x y"))
    ).toDF("doc_id", "segs")
    val out = CorpusOps.lineDedup(docs, "doc_id", "segs", 3).collect()
    assert(out.forall(r => r.getLong(2) == 0L && r.isNullAt(3)))
  }

  test("sourceCap keeps at most cap docs per source, deterministically") {
    val sq = spark
    import sq.implicits._
    val docs = (1L to 20L).map(i => (i, s"src${i % 2}")).toDF("doc_id", "source")
    val once = CorpusOps.sourceCap(docs, "doc_id", "source", 3)
    assert(once.groupBy("source").count().collect()
      .forall(_.getLong(1) == 3L))
    // deterministic: same subset under a shuffled input order
    val again = CorpusOps
      .sourceCap(docs.orderBy(col("doc_id").desc), "doc_id", "source", 3)
    assert(once.select("doc_id").collect().map(_.getLong(0)).sorted
      === again.select("doc_id").collect().map(_.getLong(0)).sorted)
  }

  test("mixtureEpochs repeat counts follow the per-source weight") {
    val sq = spark
    import sq.implicits._
    val docs = (1L to 30L).map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    val reps = CorpusOps.mixtureEpochs(docs, "doc_id", "source")
      .groupBy("source", "doc_id").count()
    // src0 → w2=2 → exactly 1 epoch; src2 → w2=4 → exactly 2
    assert(reps.filter(col("source") === "src0").collect()
      .forall(_.getLong(2) == 1L))
    assert(reps.filter(col("source") === "src2").collect()
      .forall(_.getLong(2) == 2L))
    // src1 → w2=3 → 1 or 2 by stable hash; average strictly between
    val s1 = reps.filter(col("source") === "src1")
      .collect().map(_.getLong(2))
    assert(s1.forall(n => n == 1L || n == 2L))
  }

  test("bm25TopK ranks rare-term docs above common-term docs") {
    val sq = spark
    import sq.implicits._
    // 'zebra' appears in one doc, 'data' in all four; equal tf — the
    // rare term's idf must dominate. Doc 4 is a long document stuffed
    // with one 'data': length normalization must rank it below doc 2's
    // short 'data' doc.
    val docs = Seq(
      (1L, "zebra data words words words"),
      (2L, "data words words words words"),
      (3L, "data other things entirely here"),
      (4L, "data " + Seq.fill(40)("filler").mkString(" "))
    ).toDF("doc_id", "text")
    val out = CorpusOps.bm25TopK(docs, Seq("zebra", "data"), topK = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.head._1 === 1L, s"the zebra doc must rank first: ${out.toSeq}")
    assert(out.head._2 === 2L, "it hits both query terms")
    val byDoc = out.map(r => r._1 -> r._3).toMap
    assert(byDoc(2L) > byDoc(4L),
      s"short doc must outscore the long stuffed doc: ${out.toSeq}")
    // determinism: same input, same scores
    val again = CorpusOps.bm25TopK(docs, Seq("zebra", "data"), topK = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === out.toSeq)
  }

  test("tfidfTopK has no length normalization and idf-weights rare terms") {
    val sq = spark
    import sq.implicits._
    // zebra df=1 → idf 4e6; data df=4 → idf 1e6. Doc 4 stuffs six
    // 'data' (6e6) and must outrank the zebra doc (4e6 + 1e6 = 5e6) —
    // the behavior BM25's tf saturation would prevent.
    val docs = Seq(
      (1L, "zebra data words words words"),
      (2L, "data words words words words"),
      (3L, "data other things entirely here"),
      (4L, "data data data data data data " +
        Seq.fill(40)("filler").mkString(" "))
    ).toDF("doc_id", "text")
    val out = CorpusOps.tfidfTopK(docs, Seq("zebra", "data"), topK = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.map(_._1).toSeq === Seq(4L, 1L, 2L, 3L), s"got ${out.toSeq}")
    assert(out.head._2 === 6000000L)
    assert(out(1)._2 === 5000000L)
  }

  test("bordaFuse awards depth+1-rank points and zeroes absentees") {
    val sq = spark
    import sq.implicits._
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rnk")
    val b = Seq((2L, 1L), (4L, 2L)).toDF("doc_id", "rnk")
    val out = CorpusOps.bordaFuse(a, b, depth = 3)
      .orderBy(col("fused_pts").desc, col("doc_id").asc)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (2L, 2L, 1L, 5L),  // 2 pts from a + 3 pts from b
      (1L, 1L, 0L, 3L),  // a-only
      (4L, 0L, 2L, 2L),  // b-only
      (3L, 3L, 0L, 1L)))
  }

  test("packSequences addresses are consistent with in-shard running sums") {
    val sq = spark
    import sq.implicits._
    val docs = ((1L to 40L).map(i => (i, "alpha beta gamma delta epsilon" +
      (" extra" * (i % 4).toInt))) :+ (41L, "")).toDF("doc_id", "text")
    val out = CorpusOps
      .packSequences(docs, nShards = 4, seed = "p1", budget = 7)
      .orderBy(col("shard"), col("pos"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.length === 41)
    out.groupBy(_._1).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._2).foreach { case (_, _, dl, pack, off, nb) =>
        val start = cum
        cum += dl
        assert(pack === start / 7 && off === start % 7)
        val expectNb = if (dl == 0L) 0L else (cum - 1) / 7 - start / 7
        assert(nb === expectNb, s"boundaries at start=$start dl=$dl")
      }
    }
    // the empty doc crosses no boundary and consumes no tokens
    val empty = out.find(_._3 == 0L).get
    assert(empty._6 === 0L)
  }

  test("importanceWeights separates on-domain from off-domain documents") {
    val sq = spark
    import sq.implicits._
    // target domain speaks vocabulary A; the raw pool speaks B; one
    // probe doc per vocabulary — the A-probe must outscore the B-probe
    val target = (1L to 20L).map(i =>
      (i, s"alpha beta gamma delta alpha beta gamma delta", true))
    val raw = (21L to 60L).map(i =>
      (i, s"omega sigma tau rho omega sigma tau rho", false))
    val probes = Seq(
      (100L, "alpha beta gamma delta alpha beta", false),
      (101L, "omega sigma tau rho omega sigma", false))
    val docs = (target ++ raw ++ probes)
      .toDF("doc_id", "text", "is_target")
    val w = CorpusOps.importanceWeights(docs, "doc_id",
      split(col("text"), " "), col("is_target"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w(100L) > w(101L),
      s"on-domain probe must outscore off-domain: $w")
    // deterministic: a second run returns identical scores
    val w2 = CorpusOps.importanceWeights(docs, "doc_id",
      split(col("text"), " "), col("is_target"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w2 === w)
  }

  test("q229 flattened quotas sum exactly and compress the source spread") {
    val rows = graft.queries.Corpus.all("q229_flattened_quotas")(
      spark, "/root/testdata/sf0.001").collect()
    val quotas = rows.map(_.getAs[Long]("quota"))
    val toks = rows.map(_.getAs[Long]("tok"))
    assert(quotas.sum === 100000L, "Hamilton quotas must sum to T exactly")
    // α=0.5 flattening: the quota spread must be strictly narrower
    // than the raw token spread (that's the point of the temperature)
    val quotaSpread = quotas.max.toDouble / quotas.min
    val tokSpread = toks.max.toDouble / toks.min
    assert(quotaSpread < tokSpread,
      s"flattening failed: quota spread $quotaSpread !< tok $tokSpread")
  }

  test("q223 importance weighting enriches the target domain in the selection") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.core.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("lang"))
    val selected = graft.queries.Corpus.all("q223_importance_weights")(
      spark, sf)
    val langs = selected.join(docs, Seq("doc_id"))
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = langs.values.sum.toDouble
    val nBase = base.values.sum.toDouble
    val enrichment =
      (langs.getOrElse("en", 0L) / n) / (base("en") / nBase)
    // top-100 must be substantially more English than the corpus —
    // the whole point of the importance weights (measured ~2.25×)
    assert(enrichment >= 1.5,
      s"en share enrichment $enrichment < 1.5 (sel=$langs base=$base)")
  }

  test("trainingShards is a seeded permutation: total, stable, seed-sensitive") {
    val sq = spark
    import sq.implicits._
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val a = CorpusOps.trainingShards(docs, nShards = 8, seed = "s1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // total assignment: every doc exactly once, positions contiguous 1..n
    assert(a.length === 200 && a.map(_._1).distinct.length === 200)
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq,
        "in-shard positions must be 1..n with no gaps")
    }
    assert(a.map(_._2).distinct.length === 8, "all shards populated")
    // reproducible under the same seed, different under another
    val b = CorpusOps.trainingShards(docs, nShards = 8, seed = "s1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(b.toSet === a.toSet)
    val c = CorpusOps.trainingShards(docs, nShards = 8, seed = "s2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(c.toSet !== a.toSet, "a new seed must reshuffle")
  }
}
