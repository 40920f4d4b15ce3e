package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** ANN serving over the standing [[IndexStore]] artifacts: the one
  * router of the IMI and LSH families, and the point-query scans.
  *
  * Serving discipline. An index's header is loaded onto the driver
  * once: the trained half-space codebook (2 × k1 × dim/2 longs), the
  * residual PQ codebook (8 × kPq × 8 longs), the per-cell occupancy
  * (≤ k1² counts) and the bounded query vectors. These are model-sized,
  * not data-sized. Each query then routes on the driver and issues
  * exactly ONE Spark job over the probed partitions or buckets (the
  * refine path: one job for the ADC shortlist, one for the exact
  * re-rank). The batch queries take their route from the same router:
  * the ≤ 20 query vectors route on the driver and enter the batch plan
  * as one local (qid, cell) or (qid, probe) leaf.
  *
  * The route ranks composite cells by exact integer Σ(q−c)² per half
  * (`Math.*Exact`: an overflow throws, as the ANSI SQL sum did) and
  * then by cell id, the multi-sequence order of Babenko & Lempitsky.
  *
  * n_scanned rule: a SERVED query counts every member of its probed
  * cells or buckets, its own row included (a corpus vector served as a
  * query is also a member); the batch reports exclude the query's own
  * row. For a query id in the corpus, serve = batch + 1.
  */
object ServeOps {

  /** A driver-held codebook: (sub, c) → j-ordered centroid. */
  type Book = Map[(Long, Long), Array[Long]]

  /** How many ranked cells a route takes. */
  sealed trait Probe
  /** The nprobe nearest cells (the share-pinned family). */
  final case class NProbe(n: Int) extends Probe
  /** Cells in rank order until their cumulative occupancy reaches
    * `budget`, the crossing cell included; a cell absent from `sizes`
    * is empty and consumes rank but no budget (the √n family).
    */
  final case class ScanBudget(budget: Long, sizes: Map[Long, Long])
      extends Probe

  /** DuckDB twin of [[ScanBudget]]: `cellsz` (cell, sz) over the CTE
    * `cells` (vec_id, cell), and `route` (qid, cell) keeping each
    * query's cells of `walk` (qid, cell, …) in `order` until the
    * cumulative occupancy reaches the `bgt` CTE's budget.
    */
  def scanBudgetSql(walk: String, order: String): String =
    s"""cellsz AS (SELECT cell, COUNT(*) AS sz FROM cells GROUP BY 1),
       route AS (SELECT qid, cell FROM (
           SELECT w.qid, w.cell, COALESCE(z.sz, 0) AS sz,
             SUM(COALESCE(z.sz, 0)) OVER (PARTITION BY w.qid
               ORDER BY $order
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM $walk w LEFT JOIN cellsz z ON z.cell = w.cell)
         WHERE cum - sz < (SELECT budget FROM bgt))"""

  /** The header of an IMI coarse quantizer: k1 centroids per half. */
  final case class Imi(k1: Int, half: Book, probe: Probe) {
    private val cents = VectorOps.bySub(half)

    /** Every composite cell, nearest first: (dd, cell) ascending over
      * the k1² sums of the two half distances of the e6 vector `q`.
      */
    def rankedCells(q: Array[Long]): Seq[Int] = {
      val w = q.length / 2
      def dds(sub: Long) = cents.getOrElse(sub, Array.empty).map {
        case (c, v) =>
          var dd = 0L
          var j = 0
          while (j < v.length) {
            val d = Math.subtractExact(q(sub.toInt * w + j), v(j))
            dd = Math.addExact(dd, Math.multiplyExact(d, d))
            j += 1
          }
          (c.toInt, dd)
      }
      (for ((c0, d0) <- dds(0L).toSeq; (c1, d1) <- dds(1L).toSeq)
        yield (Math.addExact(d0, d1), c0 * k1 + c1)).sorted.map(_._2)
    }

    /** The probed cells of `q` under this index's [[Probe]]. */
    def route(q: Array[Long]): Seq[Int] = probe match {
      case NProbe(n) => rankedCells(q).take(n)
      case ScanBudget(budget, sizes) =>
        val buf = Seq.newBuilder[Int]
        var cum = 0L
        val it = rankedCells(q).iterator
        while (cum < budget && it.hasNext) {
          val cell = it.next()
          buf += cell
          cum += sizes.getOrElse(cell.toLong, 0L)
        }
        buf.result()
    }
  }

  /** Loads an IMI header from its (sub, c, j, v) half codebook. */
  def imi(cent: DataFrame, k1: Int, probe: Probe): Imi =
    Imi(k1, VectorOps.collectBook(cent), probe)

  /** A residual-PQ index header (k centroids per subspace) and its
    * inverted lists (vec_id, c0..c7, cell).
    */
  final case class Pq(k: Int, book: Book, lists: DataFrame)

  def pq(cent: DataFrame, k: Int, lists: DataFrame): Pq =
    Pq(k, VectorOps.collectBook(cent), lists)

  /** Row count per `key` value: cell occupancy or bucket size. */
  def sizes(df: DataFrame, key: String): Map[Long, Long] =
    df.groupBy(col(key).cast("long")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Candidates read by a probe of `keys` (the query's own row
    * included — see the n_scanned rule above).
    */
  def scanned(sizes: Map[Long, Long], keys: Seq[Long]): Long =
    keys.map(sizes.getOrElse(_, 0L)).sum

  /** The vectors of query ids below `upTo` in a (vec_id, v) frame. For
    * a lifted frame ([[IndexStore.vectorRows]]) v holds the exact e6
    * integers as doubles.
    */
  def queryVectors(vecs: DataFrame, upTo: Long): Map[Long, Array[Double]] =
    vecs.filter(col("vec_id") < upTo)
      .select(col("vec_id").cast("long"), col("v").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  def e6(v: Array[Double]): Array[Long] = v.map(_.toLong)

  /** The batch form of [[Imi.route]]: one local (qid, cell) leaf. */
  def routeFrame(spark: SparkSession, imi: Imi,
      queries: Map[Long, Array[Double]]): DataFrame =
    pairs(spark, "cell", queries.map { case (qid, v) =>
      qid -> imi.route(e6(v)).map(_.toLong)
    })

  /** The LSH multi-probe set of `v` under the r-bit masked sign key:
    * its own bucket first, then the max(2, r−6) single-bit flips of
    * the lowest-margin planes (margin = |round-6dp plane dot|, ties by
    * plane — [[VectorOps.lshBucket]]'s rounding).
    */
  def lshProbes(v: Array[Double], r: Int): Seq[Long] = {
    val dots = (0 until r).map { j =>
      val p = VectorOps.planeArray(j, v.length)
      var s = 0.0
      var k = 0
      while (k < v.length) { s += v(k) * p(k); k += 1 }
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val b0 = dots.zipWithIndex
      .map { case (dj, j) => if (dj > 0) 1L << j else 0L }.sum
    val flips = dots.zipWithIndex
      .map { case (dj, j) => (math.abs(dj), j) }
      .sorted.take(math.max(2, r - 6)).map { case (_, j) => b0 ^ (1L << j) }
    b0 +: flips
  }

  /** The batch form of [[lshProbes]]: one local (qid, probe) leaf. */
  def probeFrame(spark: SparkSession, queries: Map[Long, Array[Double]],
      r: Int): DataFrame =
    pairs(spark, "probe", queries.map { case (qid, v) =>
      qid -> lshProbes(v, r)
    })

  private def pairs(spark: SparkSession, name: String,
      rows: Map[Long, Seq[Long]]): DataFrame =
    spark.createDataFrame(
      rows.toSeq.sortBy(_._1)
        .flatMap { case (qid, ks) => ks.map(k => Row(qid, k)) }.asJava,
      StructType(Seq("qid", name).map(StructField(_, LongType, false))))

  /** The bounded query rows (qid, qv, qn2), ids below `upTo`, of a
    * (vec_id, v, n2) frame ([[IndexStore.vectorRows]]).
    */
  def queryRows(arrs: DataFrame, upTo: Long): DataFrame =
    arrs.filter(col("vec_id") < upTo)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"))

  /** The top-5 rows per qid of a scored (qid, cid, …) frame, ranked by
    * (`order`, cid asc): the rank every recall report grades with.
    */
  def top5(scored: DataFrame, order: Column): DataFrame =
    TopKOps.topKPerGroup(scored, Seq(col("qid")),
      Seq(order, col("cid").asc), 5)

  /** DuckDB twin of [[top5]]: the CTE `name` (qid, cid) over the CTE
    * `scored`, ranked by (`order`, cid).
    */
  def top5Sql(name: String, scored: String, order: String): String =
    s"""$name AS (SELECT qid, cid FROM (
           SELECT qid, cid, RANK() OVER (PARTITION BY qid
             ORDER BY $order, cid) AS rn FROM $scored) WHERE rn <= 5)"""

  /** Exact integer-L2 top-5 (qid, cid) of each query id below `upTo`
    * against every other row of a (vec_id, v, n2) frame: the ground
    * truth of the L2 recall reports and of point serving.
    */
  def groundTruthL2(arrs: DataFrame, upTo: Long): DataFrame =
    top5(queryRows(arrs, upTo)
      .join(arrs.select(col("vec_id").as("cid"), col("v").as("cv"),
        col("n2").as("cn2")), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        VectorOps.l2E6(col("qv"), col("qn2"), col("cv"), col("cn2"))
          .as("dist")), col("dist").asc)
      .select(col("qid"), col("cid"))

  /** DuckDB twin of [[groundTruthL2]] over the lifted CTE `x`
    * ([[VectorOps.liftE6Sql]]): the exact L2 top-5 `et` (qid, cid).
    */
  def groundTruthL2Sql(upTo: Long): String =
    s"""exd AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
               SUM((q.x - c.x)*(q.x - c.x)) AS dist
             FROM x q JOIN x c ON c.dim = q.dim AND c.vec_id <> q.vec_id
             WHERE q.vec_id < $upTo GROUP BY 1, 2),
       ${top5Sql("et", "exd", "dist")}"""

  /** [[groundTruthL2]] collected per qid. */
  def exactTopL2(arrs: DataFrame, upTo: Long): Map[Long, Seq[Long]] =
    byQid(groundTruthL2(arrs, upTo))

  /** Exact round-6dp cosine top-5 over a (vec_id, v, nrm) frame. */
  def exactTopCos(vecs: DataFrame, upTo: Long): Map[Long, Seq[Long]] =
    byQid(top5(vecs.filter(col("vec_id") < upTo)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"))
      .join(vecs.select(col("vec_id").as("cid"), col("v").as("cv"),
        col("nrm").as("cn")), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(VectorOps.dot(col("qv"), col("cv")) /
          (col("qn") * col("cn")), 6).as("cos")), col("cos").desc))

  private def byQid(top: DataFrame): Map[Long, Seq[Long]] =
    top.collect().groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("cid")).toSeq }

  /** Exact integer-L2 scan of the probed cells of a cell-partitioned
    * (vec_id, v, n2, cell) member table: a partition-pruned scan into
    * one top-5 — the flat point-query plan.
    */
  def flatScan(members: DataFrame, probed: Seq[Int], qid: Long,
      q: Array[Double]): DataFrame =
    exactTop5(members.filter(col("cell").isin(probed: _*) &&
      col("vec_id") =!= lit(qid)), q)

  /** Exact integer-L2 top-5 of (vec_id, v, n2) rows against `q`. */
  private def exactTop5(rows: DataFrame, q: Array[Double]): DataFrame = {
    val qn2 = e6(q).map(v => v * v).sum
    rows.select(col("vec_id"),
        VectorOps.l2E6(typedlit(q.toSeq), lit(qn2), col("v"), col("n2"))
          .as("dist"))
      .orderBy(col("dist"), col("vec_id")).limit(5)
  }

  def serveFlat(members: DataFrame, probed: Seq[Int], qid: Long,
      q: Array[Double]): Array[Long] =
    ids(flatScan(members, probed, qid, q))

  /** Per-(cell, sub, code) ADC table of `q`: its residual against each
    * probed composite cell (the two half centroids) scored against
    * every residual centroid, keyed cell·(8·k) + sub·k + code.
    */
  private def adcTable(probed: Seq[Int], imi: Imi, pq: Pq,
      q: Array[Long]): Map[Long, Long] = {
    val w = q.length / 2
    (for {
      cell <- probed; ((sub, code), rc) <- pq.book.toSeq
    } yield {
      var dd = 0L
      var j = 0
      while (j < rc.length) {
        val dim = sub.toInt * rc.length + j
        val hsub = dim / w
        val hc = if (hsub == 0) cell / imi.k1 else cell % imi.k1
        val r = q(dim) - imi.half((hsub.toLong, hc.toLong))(dim % w) -
          rc(j)
        dd += r * r; j += 1
      }
      (cell.toLong * (8L * pq.k) + sub * pq.k + code) -> dd
    }).toMap
  }

  /** The ADC candidates (vec_id, adc) of the probed cells' inverted
    * lists. The table ships as a broadcast variable read by ONE UDF, so
    * the plan stays constant-size at any nprobe·8·k table size (a map
    * literal per subspace was analyzed and codegen'd per query).
    */
  private def adcScan(pq: Pq, probed: Seq[Int], tab: Map[Long, Long],
      qid: Long): DataFrame = {
    val bcTab = pq.lists.sparkSession.sparkContext.broadcast(tab)
    val kL = pq.k.toLong
    val adcOf = udf((cell: Long, codes: Seq[Long]) => {
      val t = bcTab.value
      var s = 0L
      var sub = 0
      while (sub < 8) {
        s += t(cell * (8L * kL) + sub * kL + codes(sub))
        sub += 1
      }
      s
    })
    pq.lists
      .filter(col("cell").isin(probed: _*) && col("vec_id") =!= lit(qid))
      .select(col("vec_id"),
        adcOf(col("cell").cast("long"),
          array((0 until 8).map(s => col(s"c$s").cast("long")): _*))
          .as("adc"))
  }

  /** ADC shortlist → exact re-rank: the top-32 ADC ids are collected
    * (their own TakeOrderedAndProject job), then ONE join-free job
    * scans the member table pruned by cell and filtered to those ids,
    * with the exact distance and a top-5.
    */
  def serveRefine(members: DataFrame, imi: Imi, pq: Pq, probed: Seq[Int],
      qid: Long, q: Array[Double]): Array[Long] = {
    val tab = adcTable(probed, imi, pq, e6(q))
    val shortIds = ids(adcScan(pq, probed, tab, qid)
      .orderBy(col("adc"), col("vec_id")).limit(32).select(col("vec_id")))
    ids(exactTop5(members.filter(col("cell").isin(probed: _*) &&
      col("vec_id").isin(shortIds: _*)), q))
  }

  /** Cosine top-5 over the probed buckets of a (vec_id, v, nrm, bkt)
    * table whose key is already masked to the probes' width.
    */
  def serveLsh(buckets: DataFrame, probes: Seq[Long], qid: Long,
      v: Array[Double]): Array[Long] = {
    val qn = math.sqrt(v.map(d => d * d).sum)
    ids(buckets
      .filter(col("bkt").isin(probes: _*) && col("vec_id") =!= lit(qid))
      .select(col("vec_id"),
        round(VectorOps.dot(typedlit(v.toSeq), col("v")) /
          (lit(qn) * col("nrm")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(5))
  }

  private def ids(df: DataFrame): Array[Long] =
    df.collect().map(_.getAs[Long]("vec_id"))
}
