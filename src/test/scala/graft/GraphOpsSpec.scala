package graft

import graft.core.{CacheScope, GraftSession}
import graft.ops.GraphOps
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

class GraphOpsSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("graft-test", cores = 4)

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val sq = spark
    import sq.implicits._
    GraphOps.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Test-only reference: sequential union-find (fine on a driver in a
    * TEST; the production operator must not do this).
    */
  private def ufRef(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // roots are already minima because unions always point max -> min
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("chain collapses to one component labeled by its minimum") {
    assert(cc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("disjoint components keep separate minimum labels") {
    assert(cc(Seq((10L, 20L), (2L, 7L), (7L, 5L))) ===
      Map(10L -> 10L, 20L -> 10L, 2L -> 2L, 5L -> 2L, 7L -> 2L))
  }

  test("self-loops, duplicates and reversed edges are normalized away") {
    assert(cc(Seq((3L, 3L), (1L, 2L), (2L, 1L), (1L, 2L))) ===
      Map(1L -> 1L, 2L -> 1L))
  }

  test("empty edge list yields empty labels") {
    assert(cc(Seq.empty) === Map.empty[Long, Long])
  }

  test("matches a union-find reference on a randomized graph") {
    // deterministic seed: the gate must not flake
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    assert(cc(edges) === ufRef(edges))
  }

  test("long path needs multiple star rounds but stays under maxIter") {
    // a 64-node path is the worst diameter-per-node shape
    val edges = (0L until 63L).map(i => (i, i + 1))
    val got = cc(edges)
    assert(got.size === 64 && got.values.forall(_ == 0L))
  }

  test("hub-heavy graph (boilerplate duplicated widely) converges fast") {
    // the shape a viral near-dup produces: one hub connected to 100
    // docs, chained to a second hub's star — a high-degree node must
    // not break the groupBy-min contraction (combiner handles it)
    val star1 = (1L to 100L).map(i => (500L, 500L + i))
    val star2 = (1L to 100L).map(i => (700L, 700L + i))
    val bridge = Seq((600L, 700L), (500L, 600L))
    val got = cc(star1 ++ star2 ++ bridge)
    // distinct nodes: hub 500, leaves 501-600 (100, incl. bridge node
    // 600), hub 700, leaves 701-800 (100) = 202
    assert(got.size === 202 && got.values.forall(_ == 500L))
  }

  test("weightedPageRank matches hand-computed exact fixed-point scores") {
    val sq = spark
    import sq.implicits._
    // path a-b-c, unit weights. wdeg: a=1, b=2, c=1; s0 = 1e9 each.
    // iter1: a and c each receive (1e9*1) div 2 = 5e8 from b
    //        → 150000000 + (85*500000000) div 100 = 575000000
    //        b receives 1e9 from a + 1e9 from c = 2e9
    //        → 150000000 + (85*2000000000) div 100 = 1850000000
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L)).toDF("s", "d", "w")
    val got = GraphOps.weightedPageRank(edges, "s", "d", "w", iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 575000000L, "b" -> 1850000000L,
      "c" -> 575000000L))
  }

  test("weightedPageRank favors the weighted hub and is run-stable") {
    val sq = spark
    import sq.implicits._
    // hub h strongly tied to x,y,z; peripheral pair p-q weakly tied
    val edges = Seq(("h", "x", 10L), ("h", "y", 10L), ("h", "z", 10L),
      ("p", "q", 1L)).toDF("s", "d", "w")
    def run() = GraphOps.weightedPageRank(edges, "s", "d", "w", iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val a = run()
    assert(a("h") > a("x") && a("x") == a("y") && a("y") == a("z"))
    // exact integer arithmetic ⇒ bit-identical across runs
    assert(a === run())
  }

  test("triangles enumerates each triangle once, any orientation/dups") {
    val sq = spark
    import sq.implicits._
    // square 1-2-3-4 plus diagonal 1-3 → triangles (1,2,3) and (1,3,4);
    // edges deliberately reversed/duplicated to exercise normalization
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 2L), (3L, 4L), (4L, 1L),
      (1L, 3L), (3L, 1L)).toDF("u", "v")
    val out = GraphOps.triangles(edges, "u", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(out === Seq((1L, 2L, 3L), (1L, 3L, 4L)))
  }

  test("triangles on a triangle-free graph is empty; works on strings") {
    val sq = spark
    import sq.implicits._
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("u", "v")
    assert(GraphOps.triangles(path, "u", "v").count() === 0L)
    val tri = Seq(("b", "a"), ("c", "b"), ("a", "c")).toDF("u", "v")
    assert(GraphOps.triangles(tri, "u", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq === Seq(("a", "b", "c")))
  }

  private def kcore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val sq = spark
    import sq.implicits._
    GraphOps.kCore(edges.toDF("a", "b"), "a", "b", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("kCore keeps the triangle, peels the pendant and the chain") {
    // triangle {1,2,3} + pendant 4 + disjoint chain 5-6-7
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (5L, 6L), (6L, 7L))
    assert(kcore(edges, 2) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      "2-core = the triangle with in-core degrees 2")
    // k=1 keeps everything that has any edge
    assert(kcore(edges, 1).keySet === Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("kCore peeling cascades: a path empties, duplicates don't inflate") {
    // path 1-2-3-4: endpoint removal re-exposes new endpoints until empty
    assert(kcore(Seq((1L, 2L), (2L, 3L), (3L, 4L)), 2) === Map.empty)
    // duplicate + reversed edges and a self-loop must not fake degree 2
    assert(kcore(Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L)), 2)
      === Map.empty)
  }

  test("round-reporting variants agree with the plain ops; rounds track " +
    "structure, not graph size") {
    val sq = spark
    import sq.implicits._
    // 4 disjoint paths of 16 nodes vs 16 of the same shape: labels per
    // node identical in structure, ROUNDS identical in count — the
    // IterScale flat-rounds claim in miniature
    def paths(n: Int): Seq[(Long, Long)] =
      (0L until n * 16L).filter(i => (i + 1) % 16 != 0).map(i => (i, i + 1))
    val (lab4, r4) = GraphOps.connectedComponentsRounds(
      paths(4).toDF("a", "b"), "a", "b")
    val (lab16, r16) = GraphOps.connectedComponentsRounds(
      paths(16).toDF("a", "b"), "a", "b")
    assert(lab4.count() === 64L && lab16.count() === 256L)
    assert(r4 === r16, "4x more same-diameter paths must not add rounds")
    assert(r4 >= 1 && r4 <= 10)
    // label equality with the plain entry point
    assert(lab4.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === cc(paths(4)))
    // kCore: chain cascade depth fixed ⇒ rounds fixed as chain count 4x
    val (core2, kr2) = GraphOps.kCoreRounds(
      paths(2).toDF("a", "b"), "a", "b", k = 2)
    val (core8, kr8) = GraphOps.kCoreRounds(
      paths(8).toDF("a", "b"), "a", "b", k = 2)
    assert(core2.count() === 0L && core8.count() === 0L)
    assert(kr2 === kr8, "4x more same-depth chains must not add rounds")
  }

  test("IterScale synthetic corpus is deterministic with family near-dup " +
    "structure above the verify threshold") {
    val docs = IterScale.synthDocs(spark, 64L)
    val again = IterScale.synthDocs(spark, 64L)
    assert(docs.exceptAll(again).isEmpty && again.exceptAll(docs).isEmpty,
      "generator must be bit-deterministic")
    assert(docs.count() === 64L)
    // families of 8 form complete near-dup clusters at threshold 0.7:
    // every member pairs with every other member ⇒ 8 families × C(8,2)
    val pairs = graft.ops.CurationOps.verifiedPairs(docs, threshold = 0.7)
    assert(pairs.count() === 8L * 28L)
    val (labels, _) = GraphOps.connectedComponentsRounds(pairs, "d1", "d2")
    // every family collapses to its minimum doc_id
    assert(labels.filter(expr("comp != (id div 8) * 8")).count() === 0L)
    CacheScope.release()
  }
}
