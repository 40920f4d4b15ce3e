package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans of one submitted item share `qid`;
  * `parent` names the span that caused this one ("" for a root).
  */
final case class Span(id: String, parent: String, qid: String,
    kind: String, name: String, startMs: Double, endMs: Double)

/** Per-layer recorder for traced passes, attached from outside the
  * engine: a `SparkListener` (jobs, stages, tasks) and a
  * `QueryExecutionListener` (SQL executions and their planning phases)
  * and a `StreamingQueryListener` (micro-batches and their state).
  * Everything is kept in memory; [[layerMetrics]] summarises a time
  * window and [[writeSpans]] dumps the spans when the run ends.
  */
final class Trace(spark: SparkSession, cores: Int) {
  import Trace._

  private val tasks = ArrayBuffer.empty[TaskRec]
  private val jobs = ArrayBuffer.empty[JobRec]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val stages = ArrayBuffer.empty[Span]
  private val executions = ArrayBuffer.empty[(Double, Double)]
  private val itemSpans = ArrayBuffer.empty[Span]
  private val batches = ArrayBuffer.empty[BatchRec]
  private var streamsOpen = 0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized {
        val qid = Option(e.properties)
          .flatMap(p => Option(p.getProperty(QidKey))).getOrElse("")
        e.stageIds.foreach(stageJob(_) = e.jobId)
        jobs += JobRec(e.jobId, qid, e.time.toDouble, Double.NaN)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
        val i = jobs.lastIndexWhere(_.id == e.jobId)
        if (i >= 0) jobs(i) = jobs(i).copy(endMs = e.time.toDouble)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val si = e.stageInfo
        for (s <- si.submissionTime; c <- si.completionTime) {
          val job = stageJob.getOrElse(si.stageId, -1)
          stages += Span(s"stage-${si.stageId}.${si.attemptNumber()}",
            s"job-$job", "", "stage", si.name, s.toDouble, c.toDouble)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized {
        val m = e.taskMetrics
        if (m != null) tasks += TaskRec(
          e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble,
          m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
          m.outputMetrics.bytesWritten)
      }
  }

  private val sqlListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val phases = qe.tracker.phases
      val start = phases.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis()).toDouble
      executions += ((start, phases.values.map(_.durationMs).sum.toDouble))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Trace.this.synchronized { streamsOpen += 1 }
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val ops = p.stateOperators.toSeq
        batches += BatchRec(p.name, p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.batchDuration.toDouble,
          Option(p.durationMs.get("addBatch")).map(_.toDouble).getOrElse(0.0),
          ops.map(_.commitTimeMs).sum.toDouble, ops.map(_.numRowsTotal).sum,
          ops.map(_.memoryUsedBytes).sum)
      }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      Trace.this.synchronized { streamsOpen -= 1 }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  /** Tags every job the calling thread submits with `qid`. */
  def enter(qid: String): Unit = {
    spark.sparkContext.setLocalProperty(QidKey, qid)
  }

  def item(qid: String, t: Timing, startMs: Double): Unit = synchronized {
    val buildEnd = startMs + t.buildS * 1e3
    itemSpans += Span(s"$qid/build", s"$qid", qid, "build", t.name,
      startMs, buildEnd)
    itemSpans += Span(s"$qid/drain", s"$qid", qid, "drain", t.name,
      buildEnd, buildEnd + t.drainS * 1e3)
    itemSpans += Span(qid, "", qid, "query", t.name, startMs,
      buildEnd + t.drainS * 1e3)
  }

  /** Waits until the listener bus has delivered every job end and
    * every streaming query's termination.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    Thread.sleep(200)
    while (synchronized(jobs.exists(_.endMs.isNaN) || streamsOpen > 0) &&
        System.nanoTime() < deadline) Thread.sleep(20)
  }

  private def in(t: Double, w: Window) = t >= w.startMs && t <= w.endMs

  /** Jobs started inside any of the windows. */
  def jobsIn(ws: Seq[Window]): Int = synchronized {
    jobs.count(j => ws.exists(in(j.startMs, _)))
  }

  /** Per-layer counts and times of the work that started in `w`. */
  def layerMetrics(w: Window): Map[String, Double] = synchronized {
    val ts = tasks.filter(t => in(t.launchMs, w))
    val js = jobs.filter(j => in(j.startMs, w))
    val jobIds = js.map(_.id).toSet
    val ss = stages.filter(s => jobIds(s.parent.stripPrefix("job-").toInt))
    val ex = executions.filter(e => in(e._1, w))
    val bs = batches.filter(b => in(b.startMs, w))
    // state size at the end of each streaming query: its last batch
    val lastBatches = bs.groupBy(_.qid).values.map(_.maxBy(_.batchId))
    // time with at least one task running: union of task intervals
    val busyMs = ts.map(t => (t.launchMs, t.finishMs)).sortBy(_._1)
      .foldLeft((0.0, Double.NegativeInfinity)) {
        case ((acc, end), (a, b)) =>
          if (a >= end) (acc + (b - a), b)
          else if (b > end) (acc + (b - end), b)
          else (acc, end)
      }._1
    val busyS = busyMs / 1e3
    val cpuS = ts.map(_.cpuNs).sum / 1e9
    val mb = 1024.0 * 1024.0
    Map(
      "scheduler.jobs" -> js.size.toDouble,
      "scheduler.stages" -> ss.size.toDouble,
      "scheduler.tasks" -> ts.size.toDouble,
      "scheduler.busy_s" -> busyS,
      "scheduler.idle_s" -> math.max(0.0, w.seconds - busyS),
      "executor.task_cpu_s" -> cpuS,
      "executor.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "executor.utilization" ->
        (if (busyS > 0) cpuS / (busyS * cores) else 0.0),
      "shuffle.write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "shuffle.read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "shuffle.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
      "spill.disk_mb" -> ts.map(_.spillDisk).sum / mb,
      "io.output_mb" -> ts.map(_.outputBytes).sum / mb,
      "plans.executions" -> ex.size.toDouble,
      "plans.planning_ms" -> ex.map(_._2).sum,
      "streaming.batches" -> bs.size.toDouble,
      "streaming.add_batch_ms" -> bs.map(_.addBatchMs).sum,
      "streaming.commit_ms" -> bs.map(_.commitMs).sum,
      "streaming.state_rows" -> lastBatches.map(_.stateRows).sum.toDouble,
      "streaming.state_mem_mb" -> lastBatches.map(_.stateBytes).sum / mb)
  }

  def writeSpans(path: String): Int = synchronized {
    val jobSpans = jobs.filter(!_.endMs.isNaN).map(j =>
      Span(s"job-${j.id}", j.qid, j.qid, "job", s"job ${j.id}", j.startMs,
        j.endMs))
    val jobQid = jobs.map(j => s"job-${j.id}" -> j.qid).toMap
    val batchSpans = batches.map(b =>
      Span(s"${b.qid}/batch-${b.batchId}", b.qid, b.qid, "batch",
        s"batch ${b.batchId}", b.startMs, b.startMs + b.durationMs))
    val all = itemSpans ++ jobSpans ++ batchSpans ++
      stages.map(s => s.copy(qid = jobQid.getOrElse(s.parent, "")))
    val out = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      out.println(Json.obj(Seq("id" -> Json.str(s.id),
        "parent" -> Json.str(s.parent), "qid" -> Json.str(s.qid),
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs))))
    } finally out.close()
    all.size
  }
}

object Trace {
  val QidKey = "perfbench.qid"

  final case class Window(startMs: Double, endMs: Double) {
    def seconds: Double = (endMs - startMs) / 1e3
  }
  private final case class TaskRec(launchMs: Double, finishMs: Double,
      cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      fetchWaitMs: Long, spillDisk: Long, outputBytes: Long)
  /** One micro-batch; `qid` is the streaming query's name. */
  private final case class BatchRec(qid: String, batchId: Long,
      startMs: Double, durationMs: Double, addBatchMs: Double,
      commitMs: Double, stateRows: Long, stateBytes: Long)
  private final case class JobRec(id: Int, qid: String, startMs: Double,
      endMs: Double)
}
