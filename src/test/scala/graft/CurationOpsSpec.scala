package graft

import graft.core.{CacheScope, GraftSession}
import graft.ops.{ArtifactStore, CurationOps}
import org.scalatest.funsuite.AnyFunSuite

class CurationOpsSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("graft-test", cores = 4)

  // a corpus with a known near-dup pair (1 ≈ 2), a chained third copy
  // (3 ≈ 2, transitively ≈ 1), and two singletons — long enough texts
  // that trigram shingles discriminate
  private val base = "the quick brown fox jumps over the lazy dog " +
    "while the cat watches from the tall fence near the old barn"
  private def docsDf = {
    val sq = spark
    import sq.implicits._
    Seq(
      (1L, base),
      (2L, base + " today"),
      (3L, base + " today again"),
      (4L, "completely different text about spark engines and " +
        "distributed query processing at large scale with many words"),
      (5L, "short text")
    ).toDF("doc_id", "text")
  }

  test("verifiedPairs finds exactly the near-dup pairs above threshold") {
    val pairs = CurationOps.verifiedPairs(docsDf, threshold = 0.5)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"1-2 must verify: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "the unrelated doc must not pair")
  }

  test("clusterLabels groups the chain into one cluster, others alone") {
    val labels = CurationOps.clusterLabels(docsDf, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L) === 1L && labels(2L) === 1L,
      s"1 and 2 must share cluster 1: $labels")
    assert(labels(3L) === 1L,
      s"the chained third copy must land in cluster 1: $labels")
    assert(labels(4L) === 4L && labels(5L) === 5L,
      "singletons keep their own id")
  }

  test("labelsTable equals clusterLabels and reuses the written artifact") {
    val live = CurationOps.clusterLabels(docsDf, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val t1 = CurationOps.labelsTable(docsDf, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t1 === live, "artifact labels must equal the recompute path")
    // second call must be served from the parquet artifact: its plan
    // is a bare file scan (no joins, no aggregates — the derivation
    // chain has at least one of each)
    val again = CurationOps.labelsTable(docsDf, threshold = 0.5)
    val plan = again.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Aggregate"),
      s"second labelsTable call must read the artifact, not re-derive:\n$plan")
    assert(again.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === live)
    // pairsTable was materialized as a byproduct and agrees too
    val pt = CurationOps.pairsTable(docsDf, threshold = 0.5)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val vp = CurationOps.verifiedPairs(docsDf, threshold = 0.5)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pt === vp)
    ArtifactStore.clear()
  }

  test("same-schema local corpora never share an artifact key") {
    val sq = spark
    import sq.implicits._
    val other = Seq(
      (1L, "totally unrelated first document with plenty of words here"),
      (2L, "second unrelated document that shares nothing with the rest"),
      (3L, "third standalone text different from everything else around")
    ).toDF("doc_id", "text")
    val a = CurationOps.labelsTable(docsDf, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = CurationOps.labelsTable(other, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a(2L) === 1L, "near-dup corpus keeps its clustering")
    assert(b === Map(1L -> 1L, 2L -> 2L, 3L -> 3L),
      s"all-singleton corpus must not inherit the other corpus's labels: $b")
    ArtifactStore.clear()
  }

  test("empty-shingle docs pair as candidates but never crash or verify") {
    val sq = spark
    import sq.implicits._
    // two sub-3-token docs: empty shingle sets BUT identical sentinel
    // minhash signatures → they DO meet in an LSH bucket, and the
    // exact verification's 0/0 must yield a dropped pair (null), not
    // an ANSI DIVIDE_BY_ZERO crash
    val tiny = Seq((1L, "hello world"), (2L, "tiny doc"), (3L, base))
      .toDF("doc_id", "text")
    val cands = CurationOps.lshCandidatePairs(tiny)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)),
      "sentinel signatures must collide into a candidate pair")
    assert(CurationOps.verifiedPairs(tiny).count() === 0L,
      "an empty-vs-empty candidate must verify to no pair")
    assert(CurationOps.exactJaccardPairs(tiny).count() === 0L)
  }

  test("verifiedPairsIncremental equals full pairs with >=1 new side") {
    val sq = spark
    import sq.implicits._
    val full = CurationOps.verifiedPairs(docsDf, threshold = 0.5)
      .filter($"d1" >= 3L || $"d2" >= 3L)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = CurationOps
      .verifiedPairsIncremental(docsDf, $"doc_id" >= 3L, threshold = 0.5)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc === full,
      "restricting candidates before verification must not change rows")
    assert(inc.nonEmpty, "the fixture must exercise a cross-batch pair")
  }

  test("incremental admission is orientation-safe (non-monotone ingest)") {
    val sq = spark
    import sq.implicits._
    // the NEW doc (id 1) has a SMALLER id than its existing near-dups —
    // a d2-only restriction would silently admit it; the both-sides
    // probe must flag it against docs 2 and 3
    val inc = CurationOps
      .verifiedPairsIncremental(docsDf, $"doc_id" === 1L, threshold = 0.5)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc.contains((1L, 2L)),
      s"new doc must pair against a larger-id existing near-dup: $inc")
    assert(inc.forall(p => p._1 == 1L || p._2 == 1L),
      s"old-old pairs must never form on the incremental path: $inc")
  }

  test("release unpersists exactly the frames this API pinned") {
    CacheScope.release()
    assert(CacheScope.size === 0)
    CurationOps.verifiedPairs(docsDf, threshold = 0.5).count()
    assert(CacheScope.size > 0,
      "the pipeline must register its cached frames")
    // the band relation is one of the pinned frames — visible through
    // the cache manager via a plan-identical probe
    assert(CurationOps.bandKeys(docsDf).storageLevel.useMemory,
      "band keys must be cached while retained")
    CacheScope.release()
    assert(CacheScope.size === 0)
    assert(!CurationOps.bandKeys(docsDf).storageLevel.useMemory,
      "release must unpersist the band relation")
  }

  test("survivors keeps one canonical doc per cluster with its size") {
    val surv = CurationOps.survivors(docsDf, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!surv.contains(2L), "a non-canonical member must be purged")
    assert(surv(1L) >= 2L, "the canonical row carries the cluster size")
    assert(surv(4L) === 1L && surv(5L) === 1L)
  }

  test("candidateJaccard keeps sub-threshold and null-jaccard pairs") {
    val sq = spark
    import sq.implicits._
    val tiny = Seq((1L, "hello world"), (2L, "tiny doc"), (3L, base),
      (4L, base + " today")).toDF("doc_id", "text")
    val cj = CurationOps.candidateJaccard(tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> Option(r.get(5))).toMap
    assert(cj.contains((1L, 2L)) && cj((1L, 2L)).isEmpty,
      s"the empty-vs-empty candidate must surface with null jaccard: $cj")
    assert(cj.get((3L, 4L)).exists(_.isDefined),
      s"the near-dup candidate must carry its exact jaccard: $cj")
    // filtering these rows at a threshold IS verifiedPairs — the sweep
    // contract that q106 relies on
    val fromSweep = cj.collect {
      case (p, Some(j: java.lang.Double)) if j >= 0.5 => p
    }.toSet
    val direct = CurationOps.verifiedPairs(tiny, threshold = 0.5)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromSweep === direct,
      "thresholding candidateJaccard must equal verifiedPairs")
  }

  test("duplicatedSpans finds the shared block, merges adjacent k-grams") {
    val sq = spark
    import sq.implicits._
    // a 10-token block pasted into two otherwise-different docs: with
    // k=4 its 7 k-gram hits must merge into ONE maximal span of 10
    // tokens per doc; the unique remainders must produce no span
    val block = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = Seq(
      (1L, s"unique opening words here $block and some trailing text"),
      (2L, s"$block totally different continuation of the second doc"),
      (3L, "nothing shared with anything else at all in this one")
    ).toDF("doc_id", "text")
    val spans = CurationOps.duplicatedSpans(d, k = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(spans.length === 2, s"one maximal span per doc: ${spans.toSeq}")
    val byDoc = spans.map(s => s._1 -> s).toMap
    assert(byDoc(1L) === (1L, 4L, 13L, 10L),
      s"doc 1 span must cover exactly the pasted block: ${spans.toSeq}")
    assert(byDoc(2L) === (2L, 0L, 9L, 10L),
      s"doc 2 span starts at token 0: ${spans.toSeq}")
    assert(!byDoc.contains(3L), "the unshared doc must have no span")
  }

  test("duplicatedSpans ignores intra-doc repeats and short docs") {
    val sq = spark
    import sq.implicits._
    val d = Seq(
      // the same 4-gram twice WITHIN one doc — distinct-doc frequency
      // is 1, so no span
      (1L, "alpha beta gamma delta padding words alpha beta gamma delta"),
      (2L, "three short tokens"), // < k tokens: empty k-gram range
      (3L, "wholly unrelated content sits here")
    ).toDF("doc_id", "text")
    assert(CurationOps.duplicatedSpans(d, k = 4).count() === 0L)
  }

  test("purgeSpans removes foreign copies, keeps the owner's, is idempotent") {
    val sq = spark
    import sq.implicits._
    val block = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = Seq(
      (1L, s"unique opening words here $block and some trailing text"),
      (2L, s"$block totally different continuation of the second doc"),
      (3L, "nothing shared with anything else at all in this one")
    ).toDF("doc_id", "text")
    val out = CurationOps.purgeSpans(d, k = 4)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // owner (min doc_id containing the block) keeps its text whole
    assert(out(1L)._2 === 0L, s"owner must purge nothing: $out")
    assert(out(1L)._3.contains("alpha beta gamma delta"))
    // the foreign copy loses exactly the 10 block tokens
    assert(out(2L) === (17L, 10L,
      "totally different continuation of the second doc"),
      s"foreign copy must lose the pasted block only: $out")
    assert(out(3L)._2 === 0L)
    // idempotent: purging the purged corpus changes nothing
    val again = CurationOps
      .purgeSpans(
        CurationOps.purgeSpans(d, k = 4)
          .select($"doc_id", $"text_clean".as("text")), k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again.values.forall(_ === 0L),
      s"second purge must remove nothing: $again")
  }

  test("exactPrefixJoin equals brute-force pairs — no false negatives") {
    // threshold 1/2 on the chained corpus: the prefix filter must
    // reproduce the brute-force pair set EXACTLY, d1 < d2 normalized
    val brute = CurationOps.exactJaccardPairs(docsDf, threshold = 0.5)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pref = CurationOps.exactPrefixJoin(docsDf,
        thresholdNum = 1, thresholdDen = 2)
      .collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(pref === brute,
      s"prefix-filtered join must be exact: pref=$pref brute=$brute")
    assert(pref.nonEmpty, "fixture must produce at least one pair")
    CacheScope.release()
  }

  test("exactPrefixJoin prefix math is exact at boundary sizes") {
    val sq = spark
    import sq.implicits._
    // identical docs (J = 1.0) at token counts where ceil(t·n) hits an
    // integer exactly — the case an FP ceil could round up and lose
    val words = (1 to 15).map(i => s"w$i").mkString(" ")
    val twins = Seq((1L, words), (2L, words),
      (3L, (1 to 15).map(i => s"v$i").mkString(" "))).toDF("doc_id", "text")
    val out = CurationOps.exactPrefixJoin(twins,
        thresholdNum = 4, thresholdDen = 5)
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(out === Set((1L, 2L)),
      s"exact twins must pair, disjoint doc must not: $out")
    CacheScope.release()
  }

  test("exactSegmentJoin equals brute-force pairs — pigeonhole is exact") {
    val brute = CurationOps.exactJaccardPairs(docsDf, threshold = 0.5)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val seg = CurationOps.exactSegmentJoin(docsDf,
        thresholdNum = 1, thresholdDen = 2)
      .collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(seg === brute,
      s"segment join must be exact: seg=$seg brute=$brute")
    assert(seg.nonEmpty, "fixture must produce at least one pair")
    CacheScope.release()
  }

  test("exactSegmentJoin boundary sizes and empty-segment coverage") {
    val sq = spark
    import sq.implicits._
    // identical docs at the prefix test's boundary count, PLUS a tiny
    // doc pair whose shingle sets are so small that most universe
    // segments are EMPTY on both sides — the case a naive segment
    // signature join drops or pairs virally; the 1-deletion budget
    // halves K so both-empty stays a valid (and rare) 0-diff match
    val words = (1 to 15).map(i => s"w$i").mkString(" ")
    val tiny = "alpha beta gamma delta epsilon"
    val d = Seq((1L, words), (2L, words),
      (3L, (1 to 15).map(i => s"v$i").mkString(" ")),
      (4L, tiny), (5L, tiny)).toDF("doc_id", "text")
    val out = CurationOps.exactSegmentJoin(d,
        thresholdNum = 4, thresholdDen = 5)
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(out === Set((1L, 2L), (4L, 5L)),
      s"twins (incl. tiny docs) must pair, disjoint doc must not: $out")
    CacheScope.release()
  }

  test("exactSimilarityJoin cost probe: both routes return the exact answer") {
    val brute = CurationOps.exactJaccardPairs(docsDf, threshold = 0.5)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // budget 0 forces the segment route; a huge budget forces prefix
    val viaSegment = CurationOps.exactSimilarityJoin(docsDf,
        thresholdNum = 1, thresholdDen = 2, candidateBudgetPerDoc = 0)
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    val viaPrefix = CurationOps.exactSimilarityJoin(docsDf,
        thresholdNum = 1, thresholdDen = 2,
        candidateBudgetPerDoc = Int.MaxValue)
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(viaSegment === brute && viaPrefix === brute,
      s"both physical routes must be exact: seg=$viaSegment " +
        s"pref=$viaPrefix brute=$brute")
    CacheScope.release()
  }

  test("curate drops non-canonical dups AND low-quality docs, keeps schema") {
    val out = CurationOps.curate(docsDf, threshold = 0.5, minQuality = 0.1)
    assert(out.columns.toSet === Set("doc_id", "quality"),
      "output = input columns minus text, plus quality")
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(2L), "near-dup of a canonical doc must be gone")
    assert(ids.contains(4L), "unique doc above the cut survives")
    // a harsh quality cut also removes the short doc (its score is
    // ~0.31: all-unique tokens but a tiny length component)
    val strict = CurationOps.curate(docsDf, threshold = 0.5, minQuality = 0.35)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!strict.contains(5L), "short low-quality doc must be cut")
  }

  /** A viral corpus: one boilerplate text duplicated across `nViral`
    * docs (all land in the same LSH buckets) plus distinct fillers.
    */
  private def viralDf(nViral: Int) = {
    val sq = spark
    import sq.implicits._
    val boiler = "subscribe to our newsletter for updates about the " +
      "product and follow us on social media for the latest news today"
    val viral = (0 until nViral).map(i => (i.toLong, boiler))
    val fillers = Seq(
      (900L, base),
      (901L, base + " today"),
      (902L, "completely different text about spark engines and " +
        "distributed query processing at large scale with many words"))
    (viral ++ fillers).toDF("doc_id", "text")
  }

  test("capped pairing equals the uncapped form when no bucket is hot") {
    val a = CurationOps.lshCandidatePairs(docsDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = CurationOps.lshCandidatePairsCapped(docsDf, bucketCap = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b, "cap above every bucket size must change nothing")
    CacheScope.release()
  }

  test("hot bucket emits a star: O(B) candidates, same components") {
    val n = 40
    val docs = viralDf(n)
    val uncapped = CurationOps.lshCandidatePairs(docs)
    val capped = CurationOps.lshCandidatePairsCapped(docs, bucketCap = 8)
    // clique C(40,2) = 780 viral pairs uncapped; star = 39
    val viralUn = uncapped.filter("d2 < 900").count()
    val viralCap = capped.filter("d2 < 900").count()
    assert(viralUn === 780L, s"clique must be quadratic: $viralUn")
    assert(viralCap === (n - 1).toLong, s"star must be linear: $viralCap")
    // star pairs all verify (identical texts) ⇒ identical clusters
    def labelsVia(pairs: org.apache.spark.sql.DataFrame) =
      graft.ops.GraphOps.connectedComponents(pairs, "d1", "d2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lu = labelsVia(CurationOps.verifiedPairs(docs, threshold = 0.8))
    val lc = labelsVia(
      CurationOps.verifiedPairsCapped(docs, threshold = 0.8, bucketCap = 8))
    assert(lu === lc,
      "capped chain must reach the same connected components")
    assert(lc.filter(_._1 < 900).values.toSet === Set(0L),
      "all viral docs collapse to the minimum id")
    CacheScope.release()
  }

  test("degenerate corpora: empty, single-doc, and all-identical inputs") {
    val sq = spark
    import sq.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(CurationOps.verifiedPairs(empty).count() === 0L)
    assert(CurationOps.lshCandidatePairsCapped(empty, 4).count() === 0L)
    assert(CurationOps.clusterLabels(empty).count() === 0L)
    val one = Seq((7L, base)).toDF("doc_id", "text")
    assert(CurationOps.verifiedPairs(one).count() === 0L)
    val labels1 = CurationOps.clusterLabels(one).collect()
    assert(labels1.length === 1 && labels1.head.getLong(1) === 7L,
      "a singleton is its own cluster")
    // all-identical corpus: uncapped = full clique, capped = star,
    // both collapse to one cluster rooted at the minimum id
    val same = (0L until 10L).map(i => (i, base)).toDF("doc_id", "text")
    assert(CurationOps.verifiedPairs(same).count() === 45L)
    assert(CurationOps
      .verifiedPairsCapped(same, bucketCap = 4).count() === 9L)
    val lab = CurationOps.clusterLabels(same)
      .collect().map(r => r.getLong(1)).toSet
    assert(lab === Set(0L))
    CacheScope.release()
  }

  test("capped incremental probe: linear per new doc in a viral bucket, " +
    "equal to the uncapped form when inactive") {
    val sq = spark
    import sq.implicits._
    // history: 20 viral copies (ids 0-19) + one singleton; batch: 5
    // more viral copies (ids 100-104)
    val boiler = "subscribe to our newsletter for updates about the " +
      "product and follow us on social media for the latest news today"
    val docs = ((0 until 20).map(i => (i.toLong, boiler)) ++
      Seq((30L, base)) ++
      (100 until 105).map(i => (i.toLong, boiler))).toDF("doc_id", "text")
    val isNew = org.apache.spark.sql.functions.col("doc_id") >= 100L
    val un = CurationOps.verifiedPairsIncremental(docs, isNew)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: each new viral doc pairs with all 19+ bucket members
    assert(un.size >= 5 * 20, s"uncapped probe is bucket-quadratic: $un")
    val cap = CurationOps.verifiedPairsIncrementalCapped(docs, isNew,
        bucketCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // star: each new viral doc carries exactly its representative edge
    assert(cap === (100 until 105).map(i => (0L, i.toLong)).toSet,
      s"capped probe must be one representative edge per new doc: $cap")
    // cap above every bucket ⇒ identical to the uncapped probe
    val wide = CurationOps.verifiedPairsIncrementalCapped(docs, isNew,
        bucketCap = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide === un, "inactive cap must change nothing")
    CacheScope.release()
  }
}
