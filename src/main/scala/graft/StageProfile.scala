package graft

import graft.core.GraftSession
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Round-13 measurement tool (guide §1/§7): runs the named queries
  * under the Bench session config with a stage listener and prints,
  * per stage: task count, wall span, summed task run/cpu time, GC,
  * input/shuffle bytes, and the max/median task skew — the numbers
  * the Spark UI would show, in a headless-friendly dump. Diagnosis
  * only; the artifacts of record stay Bench/PerfProfile.
  *
  *   sbt "runMain graft.StageProfile <query> [query ...]"
  */
object StageProfile {
  private case class St(
      var name: String = "", var tasks: Int = 0,
      var firstLaunch: Long = Long.MaxValue, var lastFinish: Long = 0L,
      var runMs: Long = 0L, var cpuMs: Long = 0L, var gcMs: Long = 0L,
      var inBytes: Long = 0L, var srBytes: Long = 0L, var swBytes: Long = 0L,
      var spill: Long = 0L, var maxTaskMs: Long = 0L,
      val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProfile <query>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-stageprofile")
    spark.range(1000000L).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()

    val stages = mutable.LinkedHashMap.empty[Int, St]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.synchronized {
          val st = stages.getOrElseUpdate(e.stageInfo.stageId, St())
          st.name = e.stageInfo.name.takeWhile(_ != '\n').take(90)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stages.synchronized {
          val st = stages.getOrElseUpdate(e.stageId, St())
          val m = e.taskMetrics
          if (m != null) {
            st.tasks += 1
            st.firstLaunch = math.min(st.firstLaunch, e.taskInfo.launchTime)
            st.lastFinish = math.max(st.lastFinish, e.taskInfo.finishTime)
            st.runMs += e.taskInfo.duration
            st.cpuMs += m.executorCpuTime / 1000000L
            st.gcMs += m.jvmGCTime
            st.inBytes += m.inputMetrics.bytesRead
            st.srBytes += m.shuffleReadMetrics.totalBytesRead
            st.swBytes += m.shuffleWriteMetrics.bytesWritten
            st.spill += m.diskBytesSpilled
            st.maxTaskMs = math.max(st.maxTaskMs, e.taskInfo.duration)
            st.taskMs += e.taskInfo.duration
          }
        }
    }

    for (q <- args) {
      stages.synchronized(stages.clear())
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobDescription(q)
      val t0 = System.nanoTime()
      SparkEntry.run(spark, q, sfDir)(
        _.write.format("noop").mode("overwrite").save())
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      println(f"== $q%s wall=$wall%.2fs ==")
      val snap = stages.synchronized(stages.toSeq.sortBy(_._1))
      val fmt = "%5s %6s %8s %8s %8s %6s %9s %9s %9s %7s %8s  %s"
      println(fmt.format("stage", "tasks", "span_ms", "run_ms", "cpu_ms",
        "gc_ms", "input", "sh_read", "sh_write", "spill", "max_t_ms", "name"))
      for ((id, s) <- snap if s.tasks > 0) {
        val span = if (s.lastFinish > 0) s.lastFinish - s.firstLaunch else 0L
        val med = s.taskMs.sorted.apply(s.taskMs.size / 2)
        println(fmt.format(id, s.tasks, span, s.runMs, s.cpuMs, s.gcMs,
          s.inBytes, s.srBytes, s.swBytes, s.spill,
          s"${s.maxTaskMs}/$med", s.name))
      }
      // top stages by span: where the wall time actually went
      val top = snap.filter(_._2.tasks > 0)
        .sortBy { case (_, s) => -(s.lastFinish - s.firstLaunch) }.take(8)
      println("-- top stages by span --")
      for ((id, s) <- top)
        println(f"  stage $id%4d span=${s.lastFinish - s.firstLaunch}%6dms " +
          f"tasks=${s.tasks}%4d cpu=${s.cpuMs}%6dms ${s.name}%s")
    }
    spark.stop()
  }
}
