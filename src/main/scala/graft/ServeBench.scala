package graft

import graft.core.GraftSession
import graft.ops.{IndexStore, ServeOps, VectorOps}
import graft.ops.ServeOps.{NProbe, ScanBudget}
import graft.queries.Similarity
import org.apache.spark.sql.functions._

/** Point-query serving-latency harness over the STANDING index
  * artifacts ([[graft.ops.IndexStore]]): per corpus dir it times the
  * one-time builds, then serves single queries through
  * [[graft.ops.ServeOps]] (one Spark job per query, the refine path
  * two) for five families:
  *
  *   - `ivf_flat` — the count-scaled IMI (q256: k1² ≈ n/128 cells,
  *     nprobe from [[IndexStore.scaledProbes]]), exact integer L2 over
  *     the probed cells of the cell-partitioned member table;
  *   - `ivfpq_refine` — the same route, ADC over the residual-PQ
  *     inverted lists into a top-32 shortlist, exact re-rank (q257);
  *   - `lsh_multiprobe` — the query's own count-scaled sign bucket
  *     plus its lowest-margin bit flips, cosine-ranked (q248);
  *   - `ivf_sqrt` — the √n cells with the scan-budget route (q258);
  *   - `ivfpq_refine_sqrt` — the √n route composed with residual PQ and
  *     refine (q260).
  *
  * Corpora above [[SQRT_ONLY_ABOVE]] vectors time only the two √n
  * families: the share-pinned families scan a constant share by
  * construction, so their scaling is already pinned by the smaller
  * corpora, and the full timed block at 200k vectors exceeds an hour.
  *
  * Per family: build_sec, min/p50/max wall-clock ms per query (min over
  * repeats for each of qids 0-19; qid 20 is the untimed warm-up; p50 is
  * the mean of the 9th and 10th sorted mins), recall@5 against the
  * exact top-5 under the family's metric (integer L2, or cosine for
  * LSH), and mean n_scanned (ServeOps' serving count). The corpus
  * dimension: `uniform` (isotropic) and `clustered` (planted-cluster
  * companions, where the √n router's recall claim is real). One JSON
  * line to stdout and to the output file. With `spark.graft.artifactDir`
  * pinned to a cache that holds the corpus's index, build_sec measures
  * the readback, not training.
  */
object ServeBench {
  private val DIM = 64
  /** The standing lshBuckets ceiling width; serving masks to r. */
  private val KEY_PLANES = 16
  private val QIDS = 0L until 20L
  private val WARM_QID = 20L
  /** Vector count above which only the √n families are timed. */
  private val SQRT_ONLY_ABOVE = 100000L

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("SERVE_LOCAL.json")
    def dirs(knob: String, default: String) =
      sys.env.getOrElse(knob, default)
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDirs = dirs("SPARK_GRAFT_SERVE_SFS",
      "/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1")
    val clusteredDirs = dirs("SPARK_GRAFT_SERVE_CLUSTERED_SFS",
      Seq("0.01", "0.1", "1", "10")
        .map(sf => s"testdata-sf$sf-clustered").mkString(","))
    val repeats = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt)
    val spark = GraftSession.local("graft-servebench")
    spark.range(1000000L).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()

    def f(d: Double) = f"$d%.3f"
    def timed(build: => Unit): Double = {
      val t0 = System.nanoTime()
      build
      (System.nanoTime() - t0) / 1e9
    }

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
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val sqrtOnly = emb.count() > SQRT_ONLY_ABOVE
      val x = VectorOps.liftE6(emb, "vec_id", "embedding")
      // the index headers, resolved before any serving job
      val k1 = Similarity.imiK1(spark, dir)
      val cells = k1 * k1
      val nprobe = IndexStore.scaledProbes(cells,
        Similarity.IMI_PROBE_DIVISOR, Similarity.IMI_PROBE_FLOOR)
      val (k1s, budgetS) = Similarity.imiSqrtGeom(spark, dir)
      val roundsS = Similarity.SQRT_ROUNDS
      val kPq = Similarity.pqK(spark, dir)
      val xs2 = VectorOps.pqSubspaces(x, subDim = DIM / 2)

      // ---- the one-time builds (share-pinned ones skipped, and their
      // lazy headers never forced, in √n-only mode)
      def members(k: Int, r: Int) =
        IndexStore.imiMembers(x, k1 = k, rounds = r, dim = DIM)
      def rxs(k: Int, r: Int) =
        Similarity.imiResidualSubspaces(spark, dir, k, r)
      def lists(k: Int, r: Int) = IndexStore.pqLists(rxs(k, r),
        IndexStore.compositeCells(xs2, k, r), k = kPq, rounds = 2, m = 8)
      def buildImi(k: Int, r: Int) = timed {
        IndexStore.codebook(xs2, k = k, rounds = r).count()
        members(k, r).count()
      }
      def buildPq(k: Int, r: Int) = timed {
        IndexStore.codebook(rxs(k, r), k = kPq, rounds = 2).count()
        lists(k, r).count()
      }
      val idVecs = emb.select(col("vec_id"),
          VectorOps.toDouble(col("embedding")).as("v"))
        .select(col("vec_id"), col("v"), VectorOps.norm(col("v")).as("nrm"))
      val buildIvfSec = if (sqrtOnly) 0.0 else buildImi(k1, 2)
      val buildSqrtSec = buildImi(k1s, roundsS)
      val buildPqSec = if (sqrtOnly) 0.0 else buildPq(k1, 2)
      val buildPqSqrtSec = buildPq(k1s, roundsS)
      val buildLshSec = if (sqrtOnly) 0.0 else timed {
        IndexStore.lshBuckets(idVecs, DIM, KEY_PLANES).count()
      }

      // ---- driver-resident headers and query vectors (ServeOps)
      def pqOf(k: Int, r: Int) = ServeOps.pq(
        IndexStore.codebook(rxs(k, r), k = kPq, rounds = 2), kPq, lists(k, r))
      lazy val membersF = members(k1, 2)
      lazy val sizesF = ServeOps.sizes(membersF, "cell")
      lazy val imiF = ServeOps.imi(IndexStore.codebook(xs2, k = k1,
        rounds = 2), k1, NProbe(nprobe))
      lazy val pqF = pqOf(k1, 2)
      val membersS = members(k1s, roundsS)
      val sizesS = ServeOps.sizes(membersS, "cell")
      val imiS = ServeOps.imi(IndexStore.codebook(xs2, k = k1s,
        rounds = roundsS), k1s, ScanBudget(budgetS, sizesS))
      val pqS = pqOf(k1s, roundsS)
      lazy val rBits = IndexStore.scaledBitsRow(idVecs, 16, 8, "r")
        .head().getInt(0)
      lazy val buckets = IndexStore.lshBuckets(idVecs, DIM, KEY_PLANES)
        .select(col("vec_id"), col("v"), col("nrm"),
          (col("bkt") % (1L << rBits)).as("bkt"))
      lazy val bucketSizes = ServeOps.sizes(buckets, "bkt")
      val qe6 = ServeOps.queryVectors(IndexStore.vectorRows(x), WARM_QID + 1)
      lazy val qf = ServeOps.queryVectors(idVecs, WARM_QID + 1)
      def routeF(qid: Long) = imiF.route(ServeOps.e6(qe6(qid)))
      def routeS(qid: Long) = imiS.route(ServeOps.e6(qe6(qid)))
      def probes(qid: Long) = ServeOps.lshProbes(qf(qid), rBits)

      // ---- exact ground truth, one untimed batch pass per metric (the
      // member tables hold identical (vec_id, v, n2) rows)
      val truthL2 = ServeOps.exactTopL2(membersS, QIDS.size)
      lazy val truthCos = ServeOps.exactTopCos(buckets, QIDS.size)

      // the refine families run at least 5 repeats: their two-stage
      // job is the longest path, and one straggler repeat skews p50
      val refReps = if (sqrtOnly) repeats else math.max(repeats, 5)
      def scannedS(qid: Long) =
        ServeOps.scanned(sizesS, routeS(qid).map(_.toLong))
      val rSqrt = family(qid => ServeOps.serveFlat(membersS, routeS(qid),
        qid, qe6(qid)), truthL2, scannedS)
      val rRefS = family(qid => ServeOps.serveRefine(membersS, imiS, pqS,
        routeS(qid), qid, qe6(qid)), truthL2, scannedS, refReps)
      val sqrtJson =
        s"""${familyJson("ivf_sqrt", buildSqrtSec, rSqrt)},""" +
          s"""${familyJson("ivfpq_refine_sqrt", buildPqSqrtSec, rRefS)}"""
      val restJson =
        if (sqrtOnly) ""
        else {
          def scannedF(qid: Long) =
            ServeOps.scanned(sizesF, routeF(qid).map(_.toLong))
          val rIvf = family(qid => ServeOps.serveFlat(membersF, routeF(qid),
            qid, qe6(qid)), truthL2, scannedF)
          val rRef = family(qid => ServeOps.serveRefine(membersF, imiF, pqF,
            routeF(qid), qid, qe6(qid)), truthL2, scannedF, refReps)
          val rLsh = family(qid => ServeOps.serveLsh(buckets, probes(qid),
            qid, qf(qid)), truthCos,
            qid => ServeOps.scanned(bucketSizes, probes(qid)))
          System.err.println(s"[serve] $arm $dir " +
            s"ivf p50=${f(rIvf._2)}ms r@5=${f(rIvf._4)} " +
            s"refine p50=${f(rRef._2)}ms r@5=${f(rRef._4)} " +
            s"lsh p50=${f(rLsh._2)}ms r@5=${f(rLsh._4)}")
          s""",${familyJson("ivf_flat", buildIvfSec, rIvf)},""" +
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
