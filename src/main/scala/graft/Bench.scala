package graft

import graft.core.{GraftSession, Tables}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The pack runner: times every SparkEntry query over each SF dir
  * given as an argument (default SPARK_GRAFT_SF_DIR) in a
  * [[graft.core.GraftSession]] of `SPARK_GRAFT_CPUS` cores, and
  * records what each query cost the scheduler. `SPARK_GRAFT_ONLY`
  * (comma-separated names, as in Verify) restricts the pack.
  *
  * Per dir, [[prebuild]] first derives the standing artifacts every
  * sweep reads (pair/label tables, trained index artifacts) and
  * reports the time as `artifact_build_sec`, so no sweep pays a
  * one-time build. Then min-of-N sweeps time each query.
  *
  * Cache policy: release per query. Every query runs through
  * [[SparkEntry.run]], which releases the frames the query cached
  * before the next one starts, so a query's time does not depend on
  * which queries ran before it in the pack.
  *
  * Cost record: one [[CostListener]] attributes every job, stage and
  * task to the query whose thread submitted it ([[TagKey]]). A query's
  * cost fields come from the sweep whose time is its reported minimum.
  *
  * Output: the full record goes to SPARK_GRAFT_BENCH_OUT (default
  * BENCH_LOCAL.json) and a compact summary line to stdout. With two or
  * more dirs, the record describes the last one; each query adds its
  * `sec_by_sf` and `ratio_01_to_1` (last dir / the one before), and
  * `superlinear` lists the queries whose ratio exceeds
  * [[SUPERLINEAR_RATIO]] — a 10× data step should cost ≤ ~10× for a
  * linear pipeline, so ~100× is the fingerprint of an accidental
  * all-pairs plan.
  */
object Bench {
  val SUPERLINEAR_RATIO = 10.0

  /** Local property naming the query run a job belongs to. */
  val TagKey = "graft.bench.query"

  /** One timed run of one query; its jobs carry `tag`. */
  final case class Run(name: String, sec: Double, err: Option[String],
      tag: String)

  private def tagged[A](spark: SparkSession, tag: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, null)
  }

  /** Run query `name` over `sfDir` into the noop sink, its jobs tagged
    * `tag`. noop, not count(): count() lets Catalyst prune computed
    * columns, so projection-heavy queries would measure as ~free —
    * noop materializes every output row without write I/O.
    */
  def runQuery(spark: SparkSession, name: String, sfDir: String,
      tag: String): Run = tagged(spark, tag) {
    val t0 = System.nanoTime()
    val err =
      try {
        SparkEntry.run(spark, name, sfDir)(
          _.write.format("noop").mode("overwrite").save())
        None
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name@$sfDir FAILED: $e")
          Some(e.getClass.getSimpleName)
      }
    Run(name, (System.nanoTime() - t0) / 1e9, err, tag)
  }

  /** Derive the write-once corpus artifacts exactly as a production
    * pipeline schedules them — the pair/label tables of CurationOps
    * and their SemanticOps embedding twins, and the standing ANN-index
    * artifacts — and return the seconds it took. Degrade, don't
    * abort: a broken table fails here exactly as it would inside each
    * consuming query, which then reports the error.
    */
  def prebuild(spark: SparkSession, sfDir: String): Double =
    tagged(spark, s"prebuild@$sfDir") {
      val t0 = System.nanoTime()
      try {
        graft.ops.CurationOps.labelsTable(
          Tables(spark, sfDir, "documents")).count()
        graft.ops.SemanticOps.labelsTable(
          Tables(spark, sfDir, "embeddings")).count()
        graft.queries.Similarity.prebuildIndexArtifacts(spark, sfDir)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] artifact build@$sfDir degraded: $e")
      }
      (System.nanoTime() - t0) / 1e9
    }

  /** The stages of one query with the longest span. */
  final case class StageCost(id: Int, tasks: Int, spanMs: Long,
      cpuMs: Long, maxTaskMs: Long, medianTaskMs: Long, name: String) {
    def json: String =
      s"""{"id":$id,"tasks":$tasks,"span_ms":$spanMs,"cpu_ms":$cpuMs,""" +
        s""""max_task_ms":$maxTaskMs,"median_task_ms":$medianTaskMs,""" +
        s""""name":${str(name)}}"""
  }

  /** What one query run cost the scheduler. `busyS` is the union of
    * its task intervals (at most the run's wall time), `idleS` the
    * rest of the wall time; byte counts are task metrics summed over
    * every job the run triggered.
    */
  final case class Cost(jobs: Int, stages: Int, tasks: Int,
      taskRunS: Double, taskCpuS: Double, gcS: Double,
      busyS: Double, idleS: Double, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      topStages: Seq[StageCost]) {
    def json: String =
      s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        f""""task_run_s":$taskRunS%.3f,"task_cpu_s":$taskCpuS%.3f,""" +
        f""""gc_s":$gcS%.3f,"busy_s":$busyS%.3f,"idle_s":$idleS%.3f,""" +
        s""""input_bytes":$inputBytes,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""spill_bytes":$spillBytes,""" +
        topStages.map(_.json).mkString(""""top_stages":[""", ",", "]")
  }

  private final case class Task(stage: Int, launch: Long, finish: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, input: Long, shRead: Long,
      shWrite: Long, spill: Long)

  private final class Tagged {
    var jobs = 0
    var stages = 0
    val stageNames = mutable.Map.empty[Int, String]
    val tasks = mutable.ArrayBuffer.empty[Task]
  }

  /** Job, stage and task costs per [[TagKey]] value, from one
    * SparkListener: a job's tag is the property of the thread that
    * submitted it, and its stages and tasks inherit it. Jobs submitted
    * after the listener was made without a tag count in
    * [[untaggedJobs]]. Read a cost after [[settle]].
    */
  final class CostListener extends SparkListener {
    private val since = System.currentTimeMillis()
    private val byTag = mutable.Map.empty[String, Tagged]
    private val stageTag = mutable.Map.empty[Int, String]
    private var untagged = 0
    private val settled = new java.util.concurrent.Semaphore(0)
    private val SettleTag = "bench-settle"

    private def tagOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty(TagKey)))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      tagOf(e.properties) match {
        case Some(SettleTag) => settled.release()
        case Some(t) => byTag.getOrElseUpdate(t, new Tagged).jobs += 1
        case None => if (e.time >= since) untagged += 1
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        for (t <- tagOf(e.properties) if t != SettleTag) {
          val q = byTag.getOrElseUpdate(t, new Tagged)
          val si = e.stageInfo
          stageTag(si.stageId) = t
          q.stages += 1
          q.stageNames(si.stageId) = si.name.takeWhile(_ != '\n').take(90)
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (t <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
        val ti = e.taskInfo
        byTag(t).tasks += Task(e.stageId, ti.launchTime, ti.finishTime,
          ti.duration, m.executorCpuTime, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
      }
    }

    /** Block until every event posted before this call was delivered:
      * a tagged marker job's start arrives after all of them.
      */
    def settle(sc: SparkContext): Unit = {
      val prev = sc.getLocalProperty(TagKey)
      sc.setLocalProperty(TagKey, SettleTag)
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(TagKey, prev)
      require(settled.tryAcquire(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener events did not drain")
    }

    def untaggedJobs: Int = synchronized(untagged)

    /** The cost of the run tagged `tag` that took `wallS` seconds. */
    def cost(tag: String, wallS: Double): Cost = synchronized {
      val q = byTag.getOrElse(tag, new Tagged)
      val ts = q.tasks.toSeq
      // union of the task intervals: merge them in launch order
      var busyMs, end = 0L
      for (t <- ts.sortBy(_.launch)) {
        val from = math.max(t.launch, end)
        if (t.finish > from) busyMs += t.finish - from
        end = math.max(end, t.finish)
      }
      val busyS = math.min(busyMs / 1e3, wallS)
      val top = ts.groupBy(_.stage).toSeq.map { case (id, st) =>
        val ms = st.map(_.runMs).sorted
        StageCost(id, st.size, st.map(_.finish).max - st.map(_.launch).min,
          st.map(_.cpuNs).sum / 1000000L, ms.last, ms(ms.size / 2),
          q.stageNames.getOrElse(id, ""))
      }.sortBy(s => (-s.spanMs, s.id)).take(5)
      Cost(q.jobs, q.stages, ts.size, ts.map(_.runMs).sum / 1e3,
        ts.map(_.cpuNs).sum / 1e9, ts.map(_.gcMs).sum / 1e3,
        busyS, wallS - busyS, ts.map(_.input).sum, ts.map(_.shRead).sum,
        ts.map(_.shWrite).sum, ts.map(_.spill).sum, top)
    }
  }

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One dir's min-of-N result: per query its fastest ok run carrying
    * the first error of any sweep, and the relative spread between its
    * sweeps.
    */
  private final case class Pack(dir: String, buildSec: Double,
      best: Seq[Run], spreads: Seq[(String, Double)],
      resweepKeys: Set[String])

  def main(args: Array[String]): Unit = {
    val sfDirs =
      if (args.nonEmpty) args.toSeq
      else Seq(
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val spark = GraftSession.local("graft-bench")
    // Warm the JVM (codegen compiler, parquet reader, shuffle machinery)
    // outside the timed region so the alphabetically-first query doesn't
    // absorb ~4s of one-time setup cost.
    spark.range(1000000L).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    // documents is the first table the alphabetically-first query now
    // touches (q100 sorts before q1) — warm its footer/scan path too so
    // the first text query doesn't absorb the one-time read setup.
    for (t <- Seq("nation", "documents"))
      spark.read.parquet(s"${sfDirs.head}/$t.parquet").write
        .format("noop").mode("overwrite").save()
    val costs = new CostListener
    spark.sparkContext.addSparkListener(costs)
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
    def relSpread(runs: Seq[Run]): Option[(String, Double)] = {
      val ok = runs.filter(_.err.isEmpty).map(_.sec)
      Option.when(ok.size >= 2)(runs.head.name -> (ok.max - ok.min) / ok.min)
    }
    val packs = sfDirs.map { dir =>
      val buildSec = prebuild(spark, dir)
      def sweep(i: Int, subset: Seq[String]): Seq[Run] =
        subset.map(n => runQuery(spark, n, dir, s"$n@$dir#$i"))
      val sweeps = (1 to repeats).map(sweep(_, names))
      // The 10 NOISIEST keys of this very run get ONE extra sweep
      // folded into the per-query min — min-of-3 where the measurement
      // is shaky, min-of-2 everywhere else; the artifact records which
      // keys were re-swept (`resweep_keys`).
      val resweepKeys = sweeps.transpose.flatMap(relSpread)
        .sortBy(-_._2).take(10).filter(_._2 > 0.5).map(_._1).toSet
      val extra =
        if (repeats < 2 || resweepKeys.isEmpty) Map.empty[String, Run]
        else sweep(repeats + 1, names.filter(resweepKeys))
          .map(r => r.name -> r).toMap
      val runs = sweeps.transpose.map(rs => rs ++ extra.get(rs.head.name))
      val best = runs.map { rs =>
        val ok = rs.filter(_.err.isEmpty)
        (if (ok.nonEmpty) ok.minBy(_.sec) else rs.head)
          .copy(err = rs.flatMap(_.err).headOption)
      }
      System.err.println(f"[bench] done $dir (artifact_build $buildSec%.1fs)")
      Pack(dir, buildSec, best, runs.flatMap(relSpread).sortBy(_._2),
        resweepKeys)
    }
    costs.settle(spark.sparkContext)
    spark.stop()

    // The measured NOISE BAND of the last dir: per-query relative
    // spread between the sweeps ((max−min)/min over the ok timings),
    // so any per-query delta across rounds can be read against the
    // band the artifact itself measured.
    val last = packs.last
    val spreads = last.spreads
    def pct(p: Double): Double =
      spreads(math.min(spreads.size - 1, (p * spreads.size).toInt))._2
    val noiseJson =
      if (spreads.isEmpty) "null"
      else {
        val worst = spreads.takeRight(5).reverse
          .map { case (k, v) => str(k) + ":" + f"$v%.3f" }
          .mkString("{", ",", "}")
        s"""{"n":${spreads.size},"median_rel_spread":${f"${pct(0.5)}%.3f"},""" +
          s""""p90_rel_spread":${f"${pct(0.9)}%.3f"},"worst":$worst}"""
      }
    // A failed query must be visibly failed, never a suspiciously fast
    // timing: it benches as -1 and is listed in "errors".
    def sec(r: Run): Double = if (r.err.isDefined) -1 else r.sec
    val secsBySf = packs.map(_.best.map(sec)).transpose
    val ratios = secsBySf.map { s =>
      if (s.size < 2 || s.last <= 0 || s.init.last <= 0) -1.0
      else s.last / s.init.last
    }
    val scaling = sfDirs.size >= 2
    val qs = last.best.zip(secsBySf.zip(ratios)).map {
      case (run, (bySf, ratio)) =>
        val bySfJson = bySf.map(s => f"$s%.3f").mkString("[", ",", "]")
        str(run.name) + ":{\"sec\":" + sec(run) + "," +
          costs.cost(run.tag, run.sec).json +
          (if (!scaling) ""
           else f""","sec_by_sf":$bySfJson,"ratio_01_to_1":$ratio%.3f""") +
          "}"
    }.mkString("{", ",", "}")
    val errors = last.best
      .flatMap(r => r.err.map(e => str(r.name) + ":" + str(e)))
      .mkString("{", ",", "}")
    val okRuns = last.best.filter(_.err.isEmpty)
    val total = okRuns.map(_.sec).sum
    val builds = packs.map(p => str(p.dir) + ":" + f"${p.buildSec}%.3f")
      .mkString("{", ",", "}")
    val superlinear = names.zip(ratios).collect {
      case (n, r) if r > SUPERLINEAR_RATIO => str(n)
    }.mkString("[", ",", "]")
    // a filtered run must be self-describing: the subset lands in the
    // artifact so a stray SPARK_GRAFT_ONLY in the environment can
    // never masquerade as a full-pack number
    val provenance =
      s""""full_pack":${only.isEmpty},"repeats":$repeats""" +
        (if (last.resweepKeys.isEmpty) ""
         else last.resweepKeys.toSeq.sorted.map(str)
           .mkString(""","resweep_keys":[""", ",", "]")) +
        only.fold("")(_.toSeq.sorted.map(str)
          .mkString(""","subset":[""", ",", "]"))
    val scalingJson =
      if (!scaling) ""
      else sfDirs.map(str).mkString(""","sfs":[""", ",", "]") +
        s""","superlinear":$superlinear"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec",$provenance,""" +
        s""""noise":$noiseJson,"queries":$qs,"errors":$errors,""" +
        s""""sf":${str(last.dir)},"artifact_build_sec":$builds,""" +
        s""""untagged_jobs":${costs.untaggedJobs}$scalingJson}"""
    // The full record goes to a file only: at ~250 queries it
    // overflows a stdout-tail capture.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    // The LAST stdout line is a compact summary the driver's stdout-
    // tail capture can always parse whole: total + count + median +
    // the slowest queries, same top-level shape.
    val okTimes = okRuns.map(_.sec).sorted
    val median =
      if (okTimes.isEmpty) 0.0
      else if (okTimes.size % 2 == 1) okTimes(okTimes.size / 2)
      else (okTimes(okTimes.size / 2 - 1) + okTimes(okTimes.size / 2)) / 2
    val slowest = okRuns.sortBy(-_.sec).take(15)
      .map(r => str(r.name) + ":" + r.sec).mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec",$provenance,"noise":$noiseJson,"queries":$slowest,"sf":${str(last.dir)},"n_queries":${last.best.size},"n_errors":${last.best.count(_.err.isDefined)},"median_sec":$median,"full":${str(out)}}""")
    if (packs.exists(_.best.exists(_.err.isDefined))) sys.exit(2)
  }
}
