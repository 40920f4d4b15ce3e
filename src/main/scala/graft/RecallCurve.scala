package graft

import graft.core.GraftSession
import graft.queries.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Recall-vs-nprobe OPERATING CURVE for the IMI serving family — the
  * measurement the shipped probe rule is picked from, and the
  * documentation of what any other operating point would cost/buy.
  *
  * For each SF and each nprobe in the sweep, runs the three composed
  * serving shapes at that explicit probe count (flat IMI = q256's
  * shape, IVFPQ = q253's, residual IVFPQ = q255's) and reports
  * recall@5 against the exact full-scan top-5 plus the measured
  * candidate cost. The trained artifacts are content-addressed
  * ([[graft.ops.IndexStore]]), so the quantizer trains ONCE per SF
  * and every sweep point after that is route+scan only — exactly how
  * a deployment would sweep its own recall knob against a standing
  * index. One JSON line to stdout (also written to the output file).
  */
object RecallCurve {

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("RECALL_CURVE_LOCAL.json")
    val sfDirs = sys.env.getOrElse("SPARK_GRAFT_CURVE_SFS",
      "/root/testdata/sf0.01,/root/testdata/sf0.1")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // planted-cluster companions (round 11): the arm where the curve
    // measures routing quality instead of noise-floor physics, and
    // where the √n family's probe knee is read from
    val clusteredDirs = sys.env.getOrElse("SPARK_GRAFT_CURVE_CLUSTERED_SFS",
      "/root/repo/testdata-sf0.1-clustered," +
        "/root/repo/testdata-sf1-clustered")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val nprobes = sys.env.getOrElse("SPARK_GRAFT_CURVE_NPROBES",
      "1,2,4,8,16,32")
      .split(",").map(_.trim.toInt).filter(_ > 0).toSeq.sorted
    val spark = GraftSession.local("graft-recallcurve")

    def f(d: Double) = f"$d%.4f"

    val fams: Seq[(String, (SparkSession, String, Int, Int) =>
        org.apache.spark.sql.DataFrame)] = Seq(
      ("imi_flat", Similarity.imiIvfReportAt),
      ("imi_pq", Similarity.imiPqReportAt),
      ("imi_residual_pq", Similarity.imiResidualReportAt),
      ("imi_refine", Similarity.imiRefineReportAt))

    def perSfJson(arm: String, dir: String): String = {
      val k1 = Similarity.imiK1(spark, dir)
      val cells = k1 * k1
      // the √n-cell geometry swept as its own family (the imi_flat
      // shape at the sublinear k1 — q258's machinery): its points
      // are where the clustered arm's probe knee is read from
      val (k1s, _) = Similarity.imiSqrtGeom(spark, dir)
      val sweep: Seq[(String, Int, Int)] =
        fams.flatMap { case (name, _) =>
          nprobes.filter(_ <= cells).map(np => (name, k1, np))
        } ++ nprobes.filter(_ <= k1s * k1s)
          .map(np => ("imi_sqrt", k1s, np))
      val byName = fams.toMap
      // the √n family sweeps at ITS shipped router (SQRT_ROUNDS Lloyd
      // rounds since round 12); the share-pinned families at theirs
      val sqrtFn: (SparkSession, String, Int, Int) =>
          org.apache.spark.sql.DataFrame =
        (s, d, k, np) =>
          Similarity.imiIvfReportAtR(s, d, k, np, Similarity.SQRT_ROUNDS)
      val rows = sweep.map { case (name, k1x, np) =>
        val fn = byName.getOrElse(name, sqrtFn)
        val r = fn(spark, dir, k1x, np).agg(
          (avg(col("n_hits")) / 5.0).as("r"),
          avg(col("n_scanned")).as("s"),
          count(lit(1)).as("n")).head()
        System.err.println(s"[curve] $arm $dir $name k1=$k1x " +
          s"nprobe=$np recall=${f(r.getAs[Double]("r"))} " +
          s"scanned=${f(r.getAs[Double]("s"))}")
        s"""{"family":"$name","k1":$k1x,"nprobe":$np,""" +
          s""""recall_at_5":${f(r.getAs[Double]("r"))},""" +
          s""""n_scanned_avg":${f(r.getAs[Double]("s"))},""" +
          s""""n_queries":${r.getAs[Long]("n")}}"""
      }
      // the √n family ALSO sweeps its SHIPPED probe rule directly
      // (round-12 ADVICE): budget multiples around the shipped
      // SQRT_SCAN_MULT=4, through the same scan-budget route q258
      // ships — so the knee claim is supported at the rule itself,
      // not only via the nprobe-to-scanned mapping of the rank route
      val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val budgetRows = Seq(1, 2, 4, 8).map { mult =>
        val budget = graft.ops.IndexStore.scanBudget(n, mult,
          Similarity.SQRT_SCAN_FLOOR)
        val r = Similarity.imiIvfReportBudget(spark, dir, k1s, budget,
          Similarity.SQRT_ROUNDS).agg(
          (avg(col("n_hits")) / 5.0).as("r"),
          avg(col("n_scanned")).as("s"),
          count(lit(1)).as("n")).head()
        System.err.println(s"[curve] $arm $dir imi_sqrt_budget " +
          s"k1=$k1s mult=$mult budget=$budget " +
          s"recall=${f(r.getAs[Double]("r"))} " +
          s"scanned=${f(r.getAs[Double]("s"))}")
        s"""{"family":"imi_sqrt_budget","k1":$k1s,""" +
          s""""budget_mult":$mult,"scan_budget":$budget,""" +
          s""""recall_at_5":${f(r.getAs[Double]("r"))},""" +
          s""""n_scanned_avg":${f(r.getAs[Double]("s"))},""" +
          s""""n_queries":${r.getAs[Long]("n")}}"""
      }
      s""""$dir":{"k1":$k1,"cells":$cells,"k1_sqrt":$k1s,""" +
        s""""points":[${(rows ++ budgetRows).mkString(",")}]}"""
    }
    val perCorpus = Seq("uniform" -> sfDirs, "clustered" -> clusteredDirs)
      .filter(_._2.nonEmpty)
      .map { case (arm, dirs) =>
        s""""$arm":{${dirs.map(d => perSfJson(arm, d)).mkString(",")}}"""
      }
    val json = s"""{"metric":"ann_recall_curve","k":5,""" +
      s""""per_corpus":{${perCorpus.mkString(",")}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(json)
    spark.stop()
  }
}
