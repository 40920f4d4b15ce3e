package graft

import graft.core.GraftSession

/** Scaling-curve benchmark: run every SparkEntry query at each scale
  * factor and emit per-query wall-time ratios, machine-flagging any
  * query whose sf0.01 → sf0.1 ratio exceeds SUPERLINEAR_RATIO — a 10×
  * data step should cost ≤ ~10× for a linear pipeline, so a ~100×
  * ratio is the fingerprint of an accidental all-pairs/quadratic plan
  * that plan-reading missed. (The 0.001 → 0.01 ratio is reported but
  * not flagged: at that size fixed per-query overhead ~0.3 s dominates
  * and ratios are noise.)
  *
  * One JSON line to stdout:
  *   {"sfs":[...], "queries": {"q1": {"sec": [a,b,c],
  *    "ratio_01_to_1": r}, ...}, "superlinear": [names]}
  * Same timing discipline as [[Bench]]: noop sink, min-of-N sweeps,
  * every query through [[SparkEntry.run]] (release per query).
  */
object ScaleBench {
  val SUPERLINEAR_RATIO = 10.0

  def main(args: Array[String]): Unit = {
    val sfDirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-scalebench")
    spark.range(1000000L).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    val repeats = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "2").toInt)
    // Subset filter (comma-separated names, same contract as Verify):
    // used for targeted runs like the sf1 heavy-set scaling point.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    def sweep(sfDir: String): Map[String, Double] =
      names.map { name =>
        val t0 = System.nanoTime()
        try SparkEntry.run(spark, name, sfDir)(
          _.write.format("noop").mode("overwrite").save())
        catch {
          case e: Throwable =>
            System.err.println(s"[scale] $name@$sfDir FAILED: $e")
        }
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap

    // One-time standing-index artifacts (trained quantizers, codes,
    // member tables) are scheduled batch builds in a deployment, not
    // per-query work — derive them in an explicit pre-pass reported
    // as artifact_build_sec (the PerfProfile discipline), so a
    // query's scaling ratio measures ITS serving plan, not whichever
    // query first touches a build whose training cost legitimately
    // grows with the count-scaled code budget (k_pq 16 → 64 on the
    // sf1 step makes Lloyd ~4× per row ON TOP of the 10× rows — a
    // one-time 40× that used to land inside one query's ratio).
    val builds = scala.collection.mutable.LinkedHashMap[String, Double]()
    val perSf = sfDirs.map { dir =>
      val t0 = System.nanoTime()
      try graft.queries.Similarity.prebuildIndexArtifacts(spark, dir)
      catch {
        case e: Throwable =>
          System.err.println(s"[scale] prebuild@$dir degraded: $e")
      }
      builds(dir) = (System.nanoTime() - t0) / 1e9
      val mins = (1 to repeats).map(_ => sweep(dir))
        .reduce((a, b) => a.map { case (k, v) => k -> math.min(v, b(k)) })
      System.err.println(s"[scale] done $dir " +
        f"(artifact_build ${builds(dir)}%.1fs)")
      mins
    }

    val rows = names.map { n =>
      val secs = perSf.map(_(n))
      val ratio = if (secs.init.last > 0) secs.last / secs.init.last else -1
      (n, secs, ratio)
    }
    val superlinear = rows.collect {
      case (n, _, r) if r > SUPERLINEAR_RATIO => n
    }
    def f(d: Double) = f"$d%.3f"
    val qs = rows.map { case (n, secs, r) =>
      s""""$n":{"sec":[${secs.map(f).mkString(",")}],"ratio_01_to_1":${f(r)}}"""
    }.mkString("{", ",", "}")
    val sfs = sfDirs.map(d => "\"" + d + "\"").mkString("[", ",", "]")
    val sl = superlinear.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val bj = builds.map { case (d, s) => s""""$d":${f(s)}""" }
      .mkString("{", ",", "}")
    println(s"""{"sfs":$sfs,"repeats":$repeats,"artifact_build_sec":$bj,"queries":$qs,"superlinear":$sl}""")
    spark.stop()
  }
}
