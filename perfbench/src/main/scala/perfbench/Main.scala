package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** The benchmark's JVM side: checks the workload's outputs, opens the
  * session over the staged inputs, runs the workload as a closed loop
  * (one call at a time, each submitted after the previous one
  * returned) and writes everything it measured to a JSON file for
  * `run.py`.
  *
  * Usage: perfbench.Main --workload W --queries Q1,Q2,.. --warmup P
  *   --seed N --seconds S --trace 0|1 --cores C --data DIR --work DIR
  *   --out FILE --spans FILE
  *
  * The check leaves its outputs in `WORK/check` in the layout of
  * `graft.Verify` (one parquet directory per query, `oracle_sql.json`,
  * a `NAME._ERROR` marker per failure), for `scripts/oracle_check.py`.
  */
object Main {
  /** Nominal length of one measured pass; `--seconds` is spent as whole
    * passes of this length.
    */
  private val PassSeconds = 5.0

  /** JVM uptime after which no further measured pass is started (beyond
    * the minimum of two, three when traced), so that a slow host cannot
    * push a run past its time limit.
    */
  private val LastPassStartS = 75.0

  /** Pause after the full collection of [[reset]]. */
  private val SettleMs = 300L

  private final case class Pass(traced: Boolean, wallS: Double,
      timings: Seq[Timing], layer: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val jvmStartS =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val arg = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val cores = arg("cores").toInt
    val work = arg("work")
    val queries = arg("queries").split(",").toSeq
    val stream = Workloads.isStream(queries)
    val data = arg("data")
    val checkDir = s"$work/check"

    // Untimed check of batch queries: the engine's own gate, graft.Verify,
    // restricted to this workload by run.py (SPARK_GRAFT_ONLY). It opens
    // and stops a session of its own, so it runs first; it is also the
    // JIT warm-up.
    val (_, verifyS) = Clock {
      if (!stream) {
        graft.Verify.main(Array(data, checkDir))
        clearSessions()
      }
    }

    // Set-up, repeated: session start in this (already started) JVM and
    // opening the inputs; the median is reported.
    var spark: SparkSession = null
    val setups = (0 until 3).map { _ =>
      if (spark != null) {
        spark.stop()
        clearSessions()
      }
      Clock {
        spark = GraftSession.local("perfbench", cores)
        Inputs.open(spark, data, work, stream)
      }._2
    }

    // Untimed check of stream operators against their batch twins; the
    // warm-up of a stream workload.
    val checkPath = java.nio.file.Paths.get(checkDir)
    java.nio.file.Files.createDirectories(checkPath)
    val (_, streamCheckS) = Clock {
      if (stream) queries.foreach { name =>
        Streams.check(spark, work, name).foreach { e =>
          System.err.println(s"[perfbench] check failed: $name: $e")
          java.nio.file.Files.writeString(
            checkPath.resolve(s"$name._ERROR"), e)
        }
      }
    }
    // oracle entries of this workload only (Verify writes every entry)
    java.nio.file.Files.writeString(checkPath.resolve("oracle_sql.json"),
      Json.obj(queries.flatMap(q =>
        graft.SparkEntry.oracleSql.get(q).map(q -> Json.str(_)))))
    var attempted = queries.size
    var failed = 0
    // Untimed warm-up passes, for a workload whose passes keep getting
    // faster after the check.
    for (w <- 0 until arg("warmup").toInt) {
      reset(spark)
      val warm = queries.zipWithIndex.map { case (name, i) =>
        Workloads.run(spark, data, work, name, s"warm${w}_$i")
      }
      attempted += warm.size
      failed += warm.count(_.error.isDefined)
    }

    // Measured passes, each over the whole workload. `seconds` buys one
    // pass per PassSeconds, at least two (three when traced, so the traced
    // pass sits between two untraced ones): a count fixed before
    // measuring, because the passes are still speeding up and a count
    // that followed the clock would change what the medians cover from
    // run to run. Only a host slow enough to reach LastPassStartS runs
    // fewer. A traced run alternates untraced and traced passes, so the
    // tracing overhead is measured in the same run; it starts and ends
    // untraced (an odd count, and a traced pass is always followed by an
    // untraced one), so the passes' speed-up does not favour either kind.
    val trace = new Trace(spark, cores)
    val passes = ArrayBuffer.empty[Pass]
    var qseq = 0
    val minPasses = if (traced) 3 else 2
    val nPasses = {
      val n = math.max(minPasses, math.round(seconds / PassSeconds).toInt)
      if (traced) n | 1 else n
    }
    def uptimeS =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    var i = 0
    while (i < nPasses && (i < minPasses || (traced && i % 2 == 0) ||
        uptimeS + passes.map(_.wallS).max <= LastPassStartS)) {
      val tracedPass = traced && i % 2 == 1
      reset(spark)
      if (tracedPass) trace.attach()
      val phases = ArrayBuffer.empty[(Double, Double, Double)]
      var storagePeak = 0.0
      val start = System.currentTimeMillis().toDouble
      val (timings, wallS) = Clock {
        queries.map { name =>
          qseq += 1
          val qid = s"q$qseq"
          if (tracedPass) trace.enter(qid)
          val at = System.currentTimeMillis().toDouble
          val t = Workloads.run(spark, data, work, name, qid)
          if (tracedPass) {
            trace.item(qid, t, at)
            phases += ((at, at + t.buildS * 1e3, at + t.totalS * 1e3))
            storagePeak = math.max(storagePeak, storageMb(spark))
          }
          t
        }
      }
      val end = System.currentTimeMillis().toDouble
      val layer =
        if (!tracedPass) Map.empty[String, Double]
        else {
          val rdds = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
          trace.settle()
          trace.detach()
          trace.layerMetrics(Trace.Window(start, end)) ++ Map(
            "queries.build_s" -> timings.map(_.buildS).sum,
            "queries.build_jobs" -> trace.jobsIn(phases.map(p =>
              Trace.Window(p._1, p._2)).toSeq).toDouble,
            "exec.drain_s" -> timings.map(_.drainS).sum,
            "exec.jobs" -> trace.jobsIn(phases.map(p =>
              Trace.Window(p._2, p._3)).toSeq).toDouble,
            "cache.rdds_end" -> rdds.length.toDouble,
            "cache.mem_mb_end" -> rdds.map(_.memSize).sum / 1048576.0,
            "cache.storage_peak_mb" -> storagePeak)
        }
      attempted += timings.size
      failed += timings.count(_.error.isDefined)
      timings.flatMap(t => t.error.map(e => s"${t.name}: $e"))
        .foreach(e => System.err.println(s"[perfbench] FAILED $e"))
      passes += Pass(tracedPass, wallS, timings, layer)
      i += 1
    }
    reset(spark)

    // Each query's time is its median over the untraced passes; the p50
    // and the tail are taken over those per-query medians, so a slow
    // pass moves them no more than it moves `wall_s`. The tail is the
    // highest percentile with ten queries beyond it: with at most ten
    // queries in a workload, the slowest query's median.
    val plain = passes.filterNot(_.traced).toSeq
    val perQuery = queries.map { q =>
      q -> Stats.median(plain.flatMap(_.timings.filter(_.name == q)
        .map(_.totalS)))
    }
    val queryMedians = perQuery.map(_._2).sorted
    val tailQ = Stats.tailQuantile(queryMedians.size)
    val batchesMs = plain.flatMap(_.timings.flatMap(_.batchesMs)).sorted
    val rowsPerS = Stats.median(plain.map(p =>
      p.timings.map(_.rows).sum / p.timings.map(_.totalS).sum))
    val e2e = Seq(
      "setup_s" -> Stats.median(setups),
      "wall_s" -> Stats.median(plain.map(_.wallS)),
      "query_p50_s" -> Stats.quantile(queryMedians, 0.5),
      "query_tail_s" -> Stats.quantile(queryMedians, tailQ))
    val spans = if (traced) trace.writeSpans(arg("spans")) else 0
    val layer =
      if (!traced) Seq.empty[(String, Double)]
      else {
        val tp = passes.filter(_.traced)
        tp.head.layer.keys.toSeq.sorted.map { k =>
          k -> Stats.median(tp.map(_.layer(k)).toSeq)
        } :+ ("trace.overhead_frac" ->
          (Stats.median(tp.map(_.wallS).toSeq) /
            Stats.median(plain.map(_.wallS).toSeq) - 1.0))
      }
    val conf = spark.conf.getAll.toSeq.sorted
      .map { case (k, v) => k -> Json.str(v) }
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "passes" -> passes.size.toString,
      "query_median_s" -> Json.obj(perQuery.map { case (q, v) =>
        q -> Json.num(v) }),
      "samples" -> plain.map(_.timings.size).sum.toString,
      "query_tail_quantile" -> Json.num(tailQ),
      "stream" -> (if (!stream) "null" else Json.obj(Seq(
        "rows_per_s" -> Json.num(rowsPerS),
        "batch_p50_ms" -> Json.num(Stats.quantile(batchesMs, 0.5)),
        "batch_tail_ms" -> Json.num(Stats.quantile(batchesMs,
          Stats.tailQuantile(batchesMs.size))),
        "batch_tail_quantile" -> Json.num(
          Stats.tailQuantile(batchesMs.size)),
        "batch_samples" -> batchesMs.size.toString))),
      "spans" -> spans.toString,
      "setup_reps_s" -> Json.arr(setups.map(Json.num)),
      "check_s" -> Json.num(verifyS + streamCheckS),
      "jvm_start_s" -> Json.num(jvmStartS),
      "pass_wall_s" -> Json.arr(passes.map(p => Json.obj(Seq(
        "traced" -> p.traced.toString, "wall_s" -> Json.num(p.wallS)))).toSeq),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "conf" -> Json.obj(conf)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(arg("out")),
      result)
    spark.stop()
  }

  private def clearSessions(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Every run and pass starts from the same state: the engine's
    * JVM-wide frame registries, artifact registry and Spark's cache are
    * emptied. A full collection then clears the heap, and Spark's
    * ContextCleaner gets a moment to drop the previous pass's shuffle
    * files and broadcasts, so neither a full GC nor that cleanup lands
    * inside a pass at a point that differs from run to run (without
    * this, a 0.3 s full GC fell into every third pass or so).
    */
  private def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.ops.CurationOps.release()
    graft.ops.SemanticOps.release()
    graft.ops.CorpusOps.release()
    graft.queries.Similarity.release()
    graft.ops.CurationOps.clearArtifacts()
    System.gc()
    Thread.sleep(SettleMs)
  }

  /** Storage memory in use (cached blocks and broadcasts), in MiB. */
  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0
}
