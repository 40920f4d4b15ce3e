package graft

import graft.core.{CacheScope, GraftSession, Tables}
import graft.ops.{ArtifactStore, IndexStore, ServeOps, TopKOps, VectorOps}
import graft.ops.ServeOps.{NProbe, ScanBudget}
import graft.queries.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.ops.ServeOps]] is the one router of the IMI and LSH serving
  * families, so this spec pins it two ways:
  *
  *   - against the SQL routes it replaced (`legacyRoute`,
  *     `legacyRouteBudget`, `legacyProbes` below, kept verbatim as the
  *     reference, as IndexStoreSpec keeps the unrolled Lloyd plan),
  *     per query and in rank order;
  *   - point serving against the batch reports, per query: the same
  *     hits against the exact top-5, and n_scanned = batch + 1 (the
  *     served count includes the query's own row).
  */
class ServeOpsSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("graft-test", cores = 4)
  private val sf = "/root/testdata/sf0.001"
  private val DIM = 64

  /** RecallFloorSpec's 4096-vector synthetic corpus (same recipe and
    * directory): k1 = 8 at both geometries, 64 composite cells.
    */
  private lazy val synth: String = {
    val n = 4096L
    val dir = s"${sys.props("java.io.tmpdir")}/graft-recallfloor-$n"
    if (!new java.io.File(s"$dir/embeddings.parquet").exists()) {
      spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          ((pmod(xxhash64(col("id"), j), lit(2001L)) - lit(1000L))
            .cast("double") / 1000.0).cast("float")).as("embedding"),
        (col("id") % 10).cast("int").as("label"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    dir
  }

  private def lifted(d: String): DataFrame = VectorOps.liftE6(
    spark.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding")

  private def queries(x: DataFrame) =
    ServeOps.queryVectors(IndexStore.vectorRows(x), 20)

  // ---- the deleted SQL routes, verbatim (reference only) -----------

  private def legacyCompositeDd(x: DataFrame, cent: DataFrame,
      k1: Int): DataFrame = {
    val qxs = VectorOps.pqSubspaces(x, subDim = 32)
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("sub"), col("j"),
        col("x").as("qx"))
    val halfDd = qxs.join(broadcast(cent), Seq("sub", "j"))
      .groupBy(col("qid"), col("sub"), col("c"))
      .agg(sum((col("qx") - col("v")) * (col("qx") - col("v")))
        .as("dd"))
    halfDd.filter(col("sub") === 0)
      .select(col("qid"), col("c").as("c0"), col("dd").as("dd0"))
      .join(halfDd.filter(col("sub") === 1)
        .select(col("qid").as("qid1"), col("c").as("c1"),
          col("dd").as("dd1")),
        col("qid") === col("qid1"))
      .select(col("qid"), (col("c0") * k1 + col("c1")).as("cell"),
        (col("dd0") + col("dd1")).as("dd"))
  }

  private def legacyRoute(x: DataFrame, cent: DataFrame, k1: Int,
      nprobe: Int): DataFrame =
    TopKOps.topKPerGroup(legacyCompositeDd(x, cent, k1),
      Seq(col("qid")), Seq(col("dd").asc, col("cell").asc), nprobe)
      .select(col("qid"), col("cell"))

  private def legacyRouteBudget(x: DataFrame, cent: DataFrame, k1: Int,
      cells: DataFrame, budget: Long): DataFrame = {
    val sizes = cells.groupBy(col("cell")).agg(count(lit(1)).as("sz"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("dd").asc, col("cell").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    legacyCompositeDd(x, cent, k1)
      .join(sizes, Seq("cell"), "left")
      .withColumn("sz", coalesce(col("sz"), lit(0L)))
      .withColumn("cum", sum(col("sz")).over(w))
      .filter(col("cum") - col("sz") < budget)
      .select(col("qid"), col("cell"))
  }

  /** q248's SQL flip ranking over the masked bucket table. */
  private def legacyProbes(bucketed: DataFrame, r: Int): DataFrame = {
    val qs = bucketed.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("bkt").as("b0"), lit(r).as("r"))
    val planeDots = array((0 until 16).map(j =>
      struct(lit(j.toLong).as("j"),
        abs(round(VectorOps.dot(col("qv"), VectorOps.plane(j, DIM)), 6))
          .as("adj"))): _*)
    val flips = qs
      .select(col("qid"), col("b0"), col("r"), explode(planeDots).as("pd"))
      .select(col("qid"), col("b0"), col("r"), col("pd.j").as("j"),
        col("pd.adj").as("adj"))
      .filter(col("j") < col("r"))
      .withColumn("rnk", rank().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid"))
          .orderBy(col("adj").asc, col("j").asc)))
      .filter(col("rnk") <= greatest(lit(2), col("r") - 6))
      .select(col("qid"),
        expr("b0 ^ shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))")
          .as("probe"))
    qs.select(col("qid"), col("b0").as("probe")).unionByName(flips)
  }

  // ---- helpers -----------------------------------------------------

  private def byQid(df: DataFrame, c: String): Map[Long, Set[Long]] =
    df.select(col("qid").cast("long"), col(c).cast("long")).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  /** qid → (n_scanned, n_hits) of a batch serving report. */
  private def report(df: => DataFrame): Map[Long, (Long, Long)] =
    CacheScope.scoped(df.collect()).map(r =>
      r.getAs[Long]("qid") ->
        (r.getAs[Long]("n_scanned"), r.getAs[Long]("n_hits"))).toMap

  private def hits(got: Array[Long], truth: Seq[Long]): Long =
    truth.toSet.intersect(got.toSet).size.toLong

  /** The share-pinned (fixed nprobe) and √n (scan budget) geometries
    * of corpus `d` with their ServeOps headers.
    */
  private case class Geom(k1: Int, rounds: Int, imi: ServeOps.Imi,
      members: DataFrame, sizes: Map[Long, Long])

  private def fixedGeom(d: String): Geom = {
    val x = lifted(d)
    val k1 = Similarity.imiK1(spark, d)
    val nprobe = IndexStore.scaledProbes(k1 * k1,
      Similarity.IMI_PROBE_DIVISOR, Similarity.IMI_PROBE_FLOOR)
    val members = IndexStore.imiMembers(x, k1, 2, DIM)
    Geom(k1, 2, ServeOps.imi(IndexStore.codebook(
      VectorOps.pqSubspaces(x, 32), k1, 2), k1, NProbe(nprobe)),
      members, ServeOps.sizes(members, "cell"))
  }

  private def sqrtGeom(d: String): Geom = {
    val x = lifted(d)
    val (k1, budget) = Similarity.imiSqrtGeom(spark, d)
    val r = Similarity.SQRT_ROUNDS
    val members = IndexStore.imiMembers(x, k1, r, DIM)
    val sizes = ServeOps.sizes(members, "cell")
    Geom(k1, r, ServeOps.imi(IndexStore.codebook(
      VectorOps.pqSubspaces(x, 32), k1, r), k1, ScanBudget(budget, sizes)),
      members, sizes)
  }

  // ---- (a) the router equals the SQL routes ------------------------

  for (d <- Seq(sf, "synth")) test(s"fixed and budget routes equal the " +
      s"SQL routes per qid, in rank order ($d)") {
    val dir = if (d == "synth") synth else d
    val x = lifted(dir)
    val xs2 = VectorOps.pqSubspaces(x, 32)
    val qs = queries(x)
    assert(qs.size === 20)
    for (g <- Seq(fixedGeom(dir), sqrtGeom(dir))) {
      if (d == "synth") assert(g.k1 === 8, "synthetic geometry moved")
      val cent = IndexStore.codebook(xs2, g.k1, g.rounds)
      // rank order: the full (dd, cell) ordering of every cell
      val dd = legacyCompositeDd(x, cent, g.k1)
        .orderBy(col("qid"), col("dd"), col("cell")).collect()
        .groupBy(_.getAs[Long]("qid"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("cell").toInt).toSeq }
      val legacy = g.imi.probe match {
        case NProbe(n) => legacyRoute(x, cent, g.k1, n)
        case ScanBudget(b, _) => legacyRouteBudget(x, cent, g.k1,
          IndexStore.compositeCells(xs2, g.k1, g.rounds), b)
      }
      val legacyRoutes = byQid(legacy, "cell")
      for ((qid, v) <- qs) {
        val q = ServeOps.e6(v)
        assert(g.imi.rankedCells(q) === dd(qid), s"rank order, qid $qid")
        val route = g.imi.route(q)
        assert(route === dd(qid).take(route.size), s"route prefix, qid $qid")
        assert(route.map(_.toLong).toSet === legacyRoutes(qid),
          s"${g.imi.probe.getClass.getSimpleName} route, qid $qid")
      }
      // the batch leaf carries exactly these routes
      assert(byQid(ServeOps.routeFrame(spark, g.imi, qs), "cell") ===
        legacyRoutes)
    }
  }

  test("tied composite distances rank by cell id, as the SQL route") {
    import spark.implicits._
    // k1 = 3 with centroids 0 and 2 identical in each half: every
    // query ties on dd across the cells they compose
    val cent = (for {
      sub <- 0L to 1L; c <- 0L to 2L; j <- 0L until 32L
    } yield (sub, c, j, if (c == 1) 5000L * (j + 1) else 1000L * j))
      .toDF("sub", "c", "j", "v")
    val x = (for (id <- 0L until 3L; dim <- 0L until 64L)
      yield (id, dim, 700L * id * (dim % 7))).toDF("vec_id", "dim", "x")
    val qs = queries(x)
    val imi = ServeOps.imi(cent, 3, NProbe(5))
    val legacy = byQid(legacyRoute(x, cent, 3, 5), "cell")
    val order = legacyCompositeDd(x, cent, 3)
      .orderBy(col("qid"), col("dd"), col("cell")).collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("cell").toInt).toSeq }
    for ((qid, v) <- qs) {
      assert(imi.rankedCells(ServeOps.e6(v)) === order(qid),
        s"tie order, qid $qid")
      assert(imi.route(ServeOps.e6(v)).map(_.toLong).toSet === legacy(qid),
        s"tied route, qid $qid")
    }
  }

  test("one composite-cell derivation: same plan, same artifact key") {
    val x = lifted(sf)
    val xs2 = VectorOps.pqSubspaces(x, 32)
    val k1 = Similarity.imiK1(spark, sf)
    val legacyCells = IndexStore.codes(xs2, k = k1, rounds = 2)
      .groupBy(col("vec_id"))
      .agg((max(when(col("sub") === 0, col("c"))) * k1 +
        max(when(col("sub") === 1, col("c")))).as("cell"))
    val cells = IndexStore.compositeCells(xs2, k1, 2)
    assert(ArtifactStore.key(cells, "cells", "") ===
      ArtifactStore.key(legacyCells, "cells", ""))
    assert(cells.collect().map(_.toString).sorted ===
      legacyCells.collect().map(_.toString).sorted)
  }

  // ---- (b) point serving agrees with the batch reports --------------

  test("serveFlat matches q256's report (fixed) and q258's (budget)") {
    val x = lifted(sf)
    val qs = queries(x)
    val truth = ServeOps.exactTopL2(IndexStore.vectorRows(x), 20)
    val f = fixedGeom(sf)
    val s = sqrtGeom(sf)
    val (k1s, budget) = Similarity.imiSqrtGeom(spark, sf)
    val batchF = report(Similarity.imiIvfReportAt(spark, sf, f.k1,
      f.imi.probe.asInstanceOf[NProbe].n))
    val batchS = report(Similarity.imiIvfReportBudget(spark, sf, k1s,
      budget, Similarity.SQRT_ROUNDS))
    for ((g, batch) <- Seq(f -> batchF, s -> batchS); qid <- 0L until 20L) {
      val route = g.imi.route(ServeOps.e6(qs(qid)))
      val got = ServeOps.serveFlat(g.members, route, qid, qs(qid))
      assert(hits(got, truth(qid)) === batch(qid)._2, s"hits, qid $qid")
      assert(ServeOps.scanned(g.sizes, route.map(_.toLong)) ===
        batch(qid)._1 + 1, s"n_scanned, qid $qid")
    }
  }

  test("serveRefine matches q257's report and q260's on the √n cells") {
    val x = lifted(sf)
    val xs2 = VectorOps.pqSubspaces(x, 32)
    val qs = queries(x)
    val truth = ServeOps.exactTopL2(IndexStore.vectorRows(x), 20)
    val kPq = Similarity.pqK(spark, sf)
    def pqOf(g: Geom) = {
      val rxs = Similarity.imiResidualSubspaces(spark, sf, g.k1, g.rounds)
      ServeOps.pq(IndexStore.codebook(rxs, kPq, 2), kPq,
        IndexStore.pqLists(rxs, IndexStore.compositeCells(xs2, g.k1,
          g.rounds), kPq, 2, 8))
    }
    val f = fixedGeom(sf)
    val s = sqrtGeom(sf)
    val batchF = report(Similarity.imiRefineReportAt(spark, sf, f.k1,
      f.imi.probe.asInstanceOf[NProbe].n))
    val batchS = report(SparkEntry.queries("q260_ivfpq_sqrt_refine")(
      spark, sf))
    for ((g, batch) <- Seq(f -> batchF, s -> batchS)) {
      val pq = pqOf(g)
      for (qid <- 0L until 20L) {
        val route = g.imi.route(ServeOps.e6(qs(qid)))
        val got = ServeOps.serveRefine(g.members, g.imi, pq, route, qid,
          qs(qid))
        assert(hits(got, truth(qid)) === batch(qid)._2, s"hits, qid $qid")
        assert(ServeOps.scanned(g.sizes, route.map(_.toLong)) ===
          batch(qid)._1 + 1, s"n_scanned, qid $qid")
      }
    }
  }

  test("serveLsh matches q248's multi_hit, probe set and n_multi") {
    val v = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"), VectorOps.norm(col("v")).as("nrm"))
    val r = IndexStore.scaledBitsRow(v, 16, 8, "r").head().getInt(0)
    val buckets = IndexStore.lshBuckets(v, DIM, 16)
      .select(col("vec_id"), col("v"), col("nrm"),
        (col("bkt") % (1L << r)).as("bkt"))
    val qs = ServeOps.queryVectors(v, 20)
    val truth = ServeOps.exactTopCos(buckets, 20)
    val sizes = ServeOps.sizes(buckets, "bkt")
    val legacy = byQid(legacyProbes(buckets, r), "probe")
    val own = buckets.filter(col("vec_id") < 20).collect()
      .map(row => row.getAs[Long]("vec_id") -> row.getAs[Long]("bkt")).toMap
    val batch = CacheScope.scoped(SparkEntry.queries("q248_multiprobe_lsh")(
      spark, sf).collect()).map(row => row.getAs[Long]("qid") -> row).toMap
    for (qid <- 0L until 20L) {
      val probes = ServeOps.lshProbes(qs(qid), r)
      assert(probes.head === own(qid), s"own bucket, qid $qid")
      assert(probes.toSet === legacy(qid), s"probe set, qid $qid")
      val got = ServeOps.serveLsh(buckets, probes, qid, qs(qid))
      val multiHit = if (got.headOption.exists(truth(qid).contains)) 1L
        else 0L
      assert(multiHit === batch(qid).getAs[Long]("multi_hit"),
        s"multi_hit, qid $qid")
      assert(ServeOps.scanned(sizes, probes) ===
        batch(qid).getAs[Long]("n_multi") + 1, s"n_multi, qid $qid")
    }
  }
}
